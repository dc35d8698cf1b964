package graft

/** Dev tool: print the formatted physical plan of named queries
  * (`runMain graft.Explain <sfDir> <name>...`) — the per-operator plan
  * audit (pushdown, pruning, broadcast, codegen spans) lives in SURVEY §8.
  * Plans at the width Bench and Verify run at (SPARK_GRAFT_CPUS, default
  * 4); redirect stdout to a file to keep a plan dump.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    val spark = GraftSession.fromEnv()
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
