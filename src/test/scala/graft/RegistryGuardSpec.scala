package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene: EVERY SparkEntry.queries entry must execute at
  * sf0.001 and land under a generous row-count budget.
  *
  * The budget is ~50x the largest legitimate result at this scale (the
  * per-event frames are ~1k rows; everything else is smaller), so a
  * future entry that accidentally cross-products, explodes an uncapped
  * pair fan-out, or returns a per-(row x row) frame trips the guard at
  * merge time — the result-size analog of PlanShapeSpec's global
  * CartesianProduct ban (a quadratic shape shows up as >=1M rows here
  * long before it melts the sf0.1 bench).
  */
class RegistryGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[8]", "8")
  val dir = "/root/testdata/sf0.001"
  val RowBudget = 50000L

  test("every registered query completes under the sf0.001 row budget") {
    val over = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n =
        try fn(spark, dir).count()
        catch {
          case e: Throwable =>
            fail(s"registry entry '$name' failed to execute: ${e.getMessage}")
        }
      if (n > RowBudget) over += s"$name=$n"
    }
    assert(over.isEmpty,
      s"registry entries over the $RowBudget-row sf0.001 budget: " +
        over.mkString(", "))
  }

  test("query-name filter: blank is no filter, an unknown name fails") {
    assert(SparkEntry.queryFilter(None).isEmpty)
    assert(SparkEntry.queryFilter(Some("")).isEmpty)
    assert(SparkEntry.queryFilter(Some(" , ")).isEmpty)
    assert(SparkEntry.queryFilter(Some("q1_agg, event_paths")) ==
      Some(Set("q1_agg", "event_paths")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryFilter(Some("q1_agg,q1_agx")))
    assert(e.getMessage.contains("q1_agx"))
  }

  test("registry closures pin the wide fan-out to the wide-state queries") {
    val queries = SparkEntry.queries
    // A renamed query would silently drop out of the wide set.
    val unregistered = SparkEntry.wideStateQueries -- queries.keySet
    assert(unregistered.isEmpty,
      s"wide-state names with no registry entry: ${unregistered.mkString(", ")}")
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    queries("event_paths")(spark, dir)
    assert(spark.conf.get(GraftSession.InitParts).toInt == base * 16)
    queries("q1_agg")(spark, dir)
    assert(spark.conf.get(GraftSession.InitParts).toInt == base)
  }
}
