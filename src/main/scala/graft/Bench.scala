package graft

/** Benchmark main: times every query at the given scale factor and prints
  * one JSON line for the driver (BENCH_r{N}.json).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query filter for ad-hoc timing runs; a
    // full benchmark run sets none. Checked before the session starts.
    val only = SparkEntry.queryFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.fromEnv()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions") // = cores
    // Warm the JVM/codegen once so measured times reflect steady state.
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup skipped: ${e.getMessage}") }
    // Two timed passes per query, reporting the min: a transient host stall
    // (cgroup throttle, page-cache miss) in one pass can inflate a 0.7 s
    // query to 10 s; the min of two runs is the steady-state number the
    // baseline comparison is about.
    def pass(): Seq[(String, Double, Boolean)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    val p1 = pass()
    val p2 = pass().map { case (k, v, ok) => k -> ((v, ok)) }.toMap
    val results = p1.map { case (name, v1, ok1) =>
      val (v2, ok2) = p2.getOrElse(name, (Double.MaxValue, false))
      val good = Seq(v1 -> ok1, v2 -> ok2).collect { case (v, true) => v }
      (name, if (good.nonEmpty) good.min else -1.0, good.nonEmpty)
    }
    // Failed queries are reported as -1 so a broken query can never be
    // mistaken for a fast one, and excluded from the total.
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1.0) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true) => v }.sum
    val nFail = results.count(!_._3)
    // Both raw pass times per query (ms precision), so a reader can tell a
    // transient host stall in one pass (t1 >> t2 or vice versa) from a
    // genuine regression (both passes slow) without re-running.
    // Locale.ROOT: the default-locale interpolator would emit comma
    // decimals on e.g. de_DE JVMs and break the JSON parse.
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    val passes = p1.map { case (name, v1, ok1) =>
      val (v2, ok2) = p2.getOrElse(name, (-1.0, false))
      "\"" + name + "\":[" + (if (ok1) ms(v1) else "-1") + "," +
        (if (ok2) ms(v2) else "-1") + "]"
    }.mkString("{", ",", "}")
    // Run-condition provenance, so a builder artifact and a driver rerun
    // are comparable at a glance (the r12 builder/driver 133s-vs-171s gap
    // was undiagnosable without knowing each run's heap and thread count;
    // min-of-passes hides nothing when both raw passes are committed too).
    val env = s"""{"xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""cpus":$cpus,"host_cores":${Runtime.getRuntime.availableProcessors}}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFail,"env":$env,"queries":$qs,"passes":$passes,"sf":"$sfDir"}"""
    // The driver captures only a ~2000-char tail of stdout and parses the
    // JSON line it finds there. The full-registry line (~200 queries, both
    // passes) is ~6 KB — it can NEVER fit, so every round's BENCH_r{N}.json
    // came back "parsed": null. Print a compact headline line (guaranteed to
    // fit the tail window) as the ONE stdout JSON line, and persist the full
    // per-query JSON as a committed artifact for regression-vs-stall
    // adjudication. `value`/`failed` still cover the WHOLE registry.
    val headline = Seq(
      "q1_agg", "q3_topn", "q5_join", "q6_filter", "q9_profit",
      "q18_large_orders", "q21_waiting", "fetch", "compact", "cdc_view",
      "group_offsets", "consumer_lag", "read_committed", "schema_compat",
      "dedup_minhash_lsh", "semdedup", "ann_ivf", "langid", "token_count",
      "tfidf", "stream_window_agg", "sessionize")
    // Ad-hoc filtered runs: the filtered names ARE the headline.
    val hset = only.getOrElse(headline.toSet)
    val hq = results.filter(r => hset.contains(r._1))
      .map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) ms(v) else "-1") }
      .mkString("{", ",", "}")
    // The "full" pointer is only honest when the artifact write actually
    // happened and succeeded — a filtered run, SPARK_GRAFT_NO_ARTIFACT, or
    // a write failure must not advertise a stale/missing file.
    val fullWritten =
      if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_NO_ARTIFACT")) {
        try {
          val dir = java.nio.file.Paths.get("bench")
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve("bench_full.json"),
            (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] artifact write skipped: ${e.getMessage}")
          false
        }
      } else { println(full); false } // ad-hoc filtered runs: full detail to stdout
    val fullRef = if (fullWritten) "\"bench/bench_full.json\"" else "null"
    val line = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},"failed":$nFail,"queries":$hq,"full":$fullRef,"sf":"$sfDir"}"""
    // The driver parses a ~2000-char stdout TAIL; r9 proved printing the
    // headline before spark.stop() loses it behind shutdown/epilogue noise.
    // So (a) persist the headline as its own artifact the driver (or a
    // human) can always read, and (b) print it AFTER spark.stop() so it is
    // the last stdout line this JVM emits.
    // Same guard as bench_full.json: a filtered ad-hoc run must not
    // clobber the committed full-registry headline with a subset line.
    if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_NO_ARTIFACT")) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_HEADLINE.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] headline artifact skipped: ${e.getMessage}")
      }
    }
    spark.stop()
    println(line)
  }
}
