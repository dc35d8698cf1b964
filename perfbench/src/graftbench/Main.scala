package graftbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM. `perfbench/run.py` builds the classpath,
  * makes the private run directory, and starts this with:
  *
  *   --workload registry_queries|log_store --seed N --seconds S --trace 0|1
  *   --cores N --data DIR --run-dir DIR --expected FILE --out FILE
  *   --record-file FILE [--queries FILE] [--record-expected FILE]
  *
  * It writes the run's metrics to `--out` and a record of host conditions,
  * phases, per-operation times and failures to `--record-file` (spans go
  * next to it when tracing).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, data: String, runDir: String, queries: Option[String], expected: String,
      out: String, recordFile: String, recordExpected: Option[String])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, get("data"), get("run-dir"), kv.get("queries"), get("expected"),
      get("out"), get("record-file"), kv.get("record-expected"))
  }

  val SmokeQuery = "q1_agg"
  val Modules = Seq("analytics", "admin", "txn", "log", "coordinator", "sources",
    "registry", "streaming")

  def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).toList
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val m = new Metrics
    val layer = new Metrics
    val clock = new PhaseClock(tracer)
    val steal0 = Host.stealSeconds
    val small = s"${a.data}/sf0.01"
    val big = s"${a.data}/sf0.1"
    val expected = readTsv(a.expected).map(r => r(0) -> Expected(r(1), r(2).toLong)).toMap
    val specs = a.queries.toSeq.flatMap(readTsv).map(r => QuerySpec(r(0), r(1)))
    val record = mutable.LinkedHashMap.empty[String, Any]

    // Set-up, timed once from JVM start: until the session is built, the
    // smoke query is answered and the inputs are staged. A session restart
    // inside this JVM would find the classes loaded and graft's objects
    // initialised, so it would not measure the same thing.
    var spark: SparkSession = null
    var probe: ExecProbe = null
    var produced: IndexedSeq[Produced] = IndexedSeq.empty
    clock("setup") {
      tracer.op("setup") {
        val s0 = System.nanoTime()
        spark = tracer.span("session")(GraftSession.build(s"local[${a.cores}]", a.cores.toString))
        probe = new ExecProbe(spark.sparkContext, tracer)
        val s1 = System.nanoTime()
        val smoke = tracer.span("smoke")(
          Fingerprint.value(Fingerprint.of(SparkEntry.queries(SmokeQuery)(spark, small))))
        val s2 = System.nanoTime()
        val want = expected.get(s"smoke:$SmokeQuery").map(_.fingerprint)
        m.op(a.recordExpected.nonEmpty || want.contains(smoke),
          s"smoke $SmokeQuery fingerprint $smoke != expected $want")
        tracer.span("stage") {
          if (a.workload == "log_store")
            produced = LogGen.records(a.seed, 0,
              LogStoreWorkload.Cycles * LogStoreWorkload.PerAppend)
          else
            for (d <- Seq(small, big); t <- graft.Tables.all) {
              val f = java.nio.file.Paths.get(s"$d/$t.parquet")
              require(java.nio.file.Files.exists(f), s"input table missing: $f")
            }
        }
        m.put("setup_s", (System.currentTimeMillis() - Host.jvmStartEpochMs) / 1000.0, "s")
        layer.put("session_build_ms", (s1 - s0) / 1e6, "ms")
        layer.put("first_action_ms", (s2 - s1) / 1e6, "ms")
      }
    }

    a.workload match {
      case "registry_queries" =>
        new RegistryRun(spark, probe, tracer, specs, expected, m, layer, clock, a, small, big,
          record).run()
      case "log_store" =>
        new LogStoreRun(spark, probe, tracer, m, layer, clock, a, produced, record).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    if (a.trace) clock("codec_probe") {
      Layers.codecs(LogGen.records(a.seed, 0, 20000).zipWithIndex.map { case (p, i) =>
        graft.sources.Glog.Rec(p.topic, p.part, i.toLong, p.eventId, p.tms, p.k, p.v)
      }, layer)
    }
    layer.put("gc_ms", Host.gcMs.toDouble, "ms")
    layer.put("gc_count", Host.gcCount.toDouble, "count")
    layer.put("heap_peak_mb", Host.heapPeakMb, "MB")
    m.put("peak_rss_mb", Host.peakRssMb, "MB")
    layer.put("trace_spans", tracer.all.size.toDouble, "count")
    spark.stop()

    val metrics = if (a.trace) layer else m
    metrics.attempted = m.attempted
    metrics.failed = m.failed
    val result = Json.obj("correct" -> (m.failed == 0), "attempted" -> m.attempted,
      "failed" -> m.failed, "metrics" -> Json.Raw(metrics.json))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out), result.getBytes("UTF-8"))

    record("workload") = a.workload
    record("seed") = a.seed
    record("seconds") = a.seconds
    record("trace") = a.trace
    record("cores") = a.cores
    record("max_heap_mb") = Host.maxHeapMb
    record("jvm_flags") = Host.jvmFlags
    record("steal_s") = Host.stealSeconds - steal0
    record("process_cpu_s") = Host.processCpuSeconds
    record("phases") = Json.Raw(clock.asJson)
    record("failures") = m.failures.toSeq
    record("end_to_end") = Json.Raw(m.json)
    if (a.trace) {
      record("per_layer") = Json.Raw(layer.json)
      val spans = a.recordFile.stripSuffix(".json") + ".spans.jsonl"
      tracer.writeJsonLines(java.nio.file.Paths.get(spans))
      record("spans") = spans
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(a.recordFile),
      Json.value(record).getBytes("UTF-8"))
  }
}

/** The registry_queries run: warm-up pass, cold pass, warm rounds. */
final class RegistryRun(spark: SparkSession, probe: ExecProbe, tracer: Tracer,
    specs: Seq[QuerySpec], expected: Map[String, Expected], m: Metrics, layer: Metrics,
    clock: PhaseClock, a: Main.Args, small: String, big: String,
    record: mutable.Map[String, Any]) {

  def run(): Unit = {
    val q = new QueryWorkload(spark, probe, tracer, specs, expected, m)
    a.recordExpected match {
      case Some(path) =>
        // expectations come from a fresh JVM: no warm-up, cold pass only
        val cold = clock("cold")(q.coldPass(big, detail = false, record = true))
        val smoke = Fingerprint.value(Fingerprint.of(SparkEntry.queries(Main.SmokeQuery)(spark, small)))
        val rows = s"smoke:${Main.SmokeQuery}\t$smoke\t0" +: cold.map { case (s, c) =>
          s"${s.name}\t${c.fp}\t${c.k.jobs}"
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          rows.mkString("", "\n", "\n").getBytes("UTF-8"))
      case None =>
        clock("warmup")(q.warmUp(small))
        val cold = clock("cold")(q.coldPass(big, detail = a.trace, record = false))
        // after the cold pass, whose order is fixed: what the warm rounds
        // retain depends on their seeded order
        m.put("live_heap_mb", Host.liveHeapMb, "MB")
        measure(q, cold)
    }
  }

  private def measure(q: QueryWorkload, cold: Seq[(QuerySpec, QueryCall)]): Unit = {
    val coldFp = cold.map { case (s, c) => s.name -> c.fp }.toMap
    // a fixed amount of work per run, so a faster host or program does not
    // change what is measured
    val (plain, traced) = clock("warm")(q.warmRounds(big, QueryWorkload.WarmRounds, a.seed,
      coldFp, alternateTrace = a.trace))
    val coldMs = cold.map { case (s, c) => s.name -> c.ms }.toMap
    val warmMs = plain.map { case (n, cs) => n -> Stats.median(cs.map(_.ms)) }
    record("cold_ms") = coldMs
    record("warm_ms") = plain.map { case (n, cs) => n -> cs.map(_.ms) }
    if (coldMs.nonEmpty && warmMs.nonEmpty) {
      m.put("cold_gmean_ms", Stats.gmean(coldMs.values.toSeq), "ms")
      m.put("cold_suite_s", coldMs.values.sum / 1000, "s")
      m.put("warm_gmean_ms", Stats.gmean(warmMs.values.toSeq), "ms")
      m.put("warm_suite_s", warmMs.values.sum / 1000, "s")
    }
    if (a.trace) layers(cold, traced, warmMs)
  }

  private def layers(cold: Seq[(QuerySpec, QueryCall)], traced: Map[String, Seq[QueryCall]],
      warmMs: Map[String, Double]): Unit = {
    def perPass(f: QueryCall => Double): Double =
      traced.values.map(cs => Stats.median(cs.map(f))).sum
    Main.Modules.foreach { mod =>
      val names = specs.filter(_.module == mod).map(_.name).toSet
      val calls = traced.filter { case (n, _) => names(n) }
      layer.put(s"build_ms.$mod", calls.values.map(cs => Stats.median(cs.map(_.buildMs))).sum, "ms")
      layer.put(s"build_jobs.$mod",
        cold.filter { case (s, _) => names(s.name) }.map(_._2.buildJobs.toDouble).sum, "count")
    }
    Seq("analysis", "optimization", "planning").foreach { ph =>
      layer.put(s"${ph}_ms", perPass(_.catalyst.getOrElse(ph, 0.0)), "ms")
    }
    ExecLayers.put(layer, traced.values.toSeq.map(_.map(c => (c.ms, c.jobWallMs, c.k))))
    layer.put("cached_bytes", traced.values.flatten.map(_.cachedBytes.toDouble).max, "bytes")
    layer.put("persisted_rdds", traced.values.flatten.map(_.persistedRdds.toDouble).max, "count")
    layer.put("cache_fill_ms", cold.map { case (s, c) =>
      c.ms - warmMs.getOrElse(s.name, c.ms) }.sum, "ms")
    val tracedGmean = Stats.gmean(traced.values.map(cs => Stats.median(cs.map(_.ms))).toSeq)
    layer.put("trace_overhead_warm_gmean_ms", tracedGmean - Stats.gmean(warmMs.values.toSeq), "ms")
    clock("native_probe")(Layers.native(spark, s"$big/documents.parquet", layer))
    clock("tables_probe") {
      val copy = s"${a.runDir}/tables-copy"
      graft.Tables.all.foreach { t =>
        val dst = java.nio.file.Paths.get(s"$copy/$t.parquet")
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$small/$t.parquet"), dst)
      }
      Layers.tables(spark, copy, layer)
    }
  }
}

/** Spark-execution layer metrics, per warm pass: for each operation kind
  * the median over its calls, summed over kinds.
  */
object ExecLayers {
  /** `kinds`: per operation kind, each call's (wall ms, job wall ms, counters). */
  def put(layer: Metrics, kinds: Seq[Seq[(Double, Long, ExecCounters)]]): Unit = {
    def pass(f: ((Double, Long, ExecCounters)) => Double): Double =
      kinds.filter(_.nonEmpty).map(cs => Stats.median(cs.map(f))).sum
    layer.put("jobs", pass(_._3.jobs.toDouble), "count")
    layer.put("stages", pass(_._3.stages.toDouble), "count")
    layer.put("tasks", pass(_._3.tasks.toDouble), "count")
    layer.put("job_wall_ms", pass(_._2.toDouble), "ms")
    layer.put("driver_gap_ms", pass(c => c._1 - c._2), "ms")
    layer.put("task_run_ms", pass(_._3.taskRunMs.toDouble), "ms")
    layer.put("task_cpu_ms", pass(_._3.taskCpuNs / 1e6), "ms")
    layer.put("shuffle_read_bytes", pass(_._3.shuffleReadBytes.toDouble), "bytes")
    layer.put("shuffle_write_bytes", pass(_._3.shuffleWriteBytes.toDouble), "bytes")
    layer.put("spill_bytes", pass(_._3.spillBytes.toDouble), "bytes")
    layer.put("input_bytes", pass(_._3.inputBytes.toDouble), "bytes")
    layer.put("result_bytes", pass(_._3.resultBytes.toDouble), "bytes")
    layer.put("peak_exec_mem_bytes", kinds.flatten.map(_._3.peakExecMemBytes.toDouble)
      .maxOption.getOrElse(0.0), "bytes")
  }
}

/** The log_store run: JIT warm-up on a scratch store, then the measured
  * store. Cold: per cycle kind (list, append, fetch_offsets, fetch_tms) the
  * median of its calls in the first half of the cycles, on a store that
  * starts empty. Warm: per kind the median of its other calls, so the cycle
  * kinds on the grown store plus compact and fetch_compacted ([[LogOp.cold]]).
  */
final class LogStoreRun(spark: SparkSession, probe: ExecProbe, tracer: Tracer, m: Metrics,
    layer: Metrics, clock: PhaseClock, a: Main.Args, produced: IndexedSeq[Produced],
    record: mutable.Map[String, Any]) {

  def run(): Unit = {
    val w = new LogStoreWorkload(spark, probe, tracer, m, a.runDir, a.seed)
    clock("warmup")(w.warmUp())
    val model = clock("measure")(w.run(produced, alternateTrace = a.trace))
    m.put("live_heap_mb", Host.liveHeapMb, "MB")
    record("ops_ms") = w.ops.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms).toSeq }
    val kinds = w.ops.groupBy(_.kind)
    def med(os: Iterable[LogOp]) = Stats.median(os.map(_.ms).toSeq)
    val cold = kinds.values.map(_.filter(_.cold)).filter(_.nonEmpty).map(med).toSeq
    val warm = kinds.values.map(_.filterNot(_.cold)).filter(_.nonEmpty).map(med).toSeq
    if (cold.nonEmpty && warm.nonEmpty) {
      m.put("cold_gmean_ms", Stats.gmean(cold), "ms")
      m.put("cold_suite_s", cold.sum / 1000, "s")
      m.put("warm_gmean_ms", Stats.gmean(warm), "ms")
      m.put("warm_suite_s", warm.sum / 1000, "s")
    }
    if (a.trace) layers(w, model)
  }

  private def layers(w: LogStoreWorkload, model: LogModel): Unit = {
    val ops = w.ops.toSeq
    def of(kinds: String*) = ops.filter(o => kinds.contains(o.kind))
    def med(os: Seq[LogOp], f: LogOp => Double) = if (os.isEmpty) 0.0 else Stats.median(os.map(f))
    val appends = of("append")
    val fetches = of("fetch_offsets", "fetch_tms", "fetch_compacted")
    val lists = of("list")
    val compacts = of("compact")
    layer.put("append_mb_s", appends.map(_.extra("user_bytes")).sum / 1048576 /
      (appends.map(_.ms).sum / 1000), "MB/s")
    layer.put("append_p50_ms", med(appends, _.ms), "ms")
    layer.put("append_jobs", med(appends, _.k.jobs.toDouble), "count")
    layer.put("append_shuffle_bytes", med(appends, _.k.shuffleWriteBytes.toDouble), "bytes")
    layer.put("append_store_bytes", med(appends, _.extra("store_bytes")), "bytes")
    layer.put("fetch_p50_ms", med(fetches, _.ms), "ms")
    layer.put("fetch_p90_ms",
      if (Stats.hasTail(fetches.size, 90)) Stats.percentile(fetches.map(_.ms), 90) else 0.0, "ms")
    layer.put("fetch_plan_ms", med(fetches, _.extra("plan_ms")), "ms")
    layer.put("fetch_exec_ms", med(fetches, _.extra("exec_ms")), "ms")
    layer.put("fetch_segments_planned", med(fetches, _.extra("segments_planned")), "count")
    layer.put("fetch_batches_read", med(fetches, _.extra("batches_read")), "count")
    layer.put("fetch_batches_skipped", med(fetches, _.extra("batches_skipped")), "count")
    layer.put("fetch_payload_bytes", med(fetches, _.extra("payload_bytes")), "bytes")
    layer.put("list_offsets_p50_ms", med(lists, _.ms), "ms")
    layer.put("segment_files", w.segmentFiles(s"${a.runDir}/store").toDouble, "count")
    layer.put("list_segments_scanned", med(lists, _.extra("segments_scanned")), "count")
    layer.put("compact_s", med(compacts, _.ms) / 1000, "s")
    layer.put("compact_records_in", med(compacts, _.extra("records_in")), "count")
    layer.put("compact_records_out", med(compacts, _.extra("records_out")), "count")
    layer.put("compact_bytes_rewritten", med(compacts, _.extra("bytes_rewritten")), "bytes")
    layer.put("compact_tasks", med(compacts, _.k.tasks.toDouble), "count")
    val userBytes = model.all.map(LogGen.userBytes).sum.toDouble
    layer.put("store_bytes_per_user_byte", w.storeBytes(s"${a.runDir}/store") / userBytes, "ratio")
    ExecLayers.put(layer, ops.groupBy(_.kind).values.toSeq.map(_.map(o =>
      (o.ms, probe.jobWallMs(o.k), o.k))))
    val cyc = of(LogStoreWorkload.CycleKinds: _*)
    def gm(os: Seq[LogOp]) = Stats.gmean(os.groupBy(_.kind).values.map(g => Stats.median(g.map(_.ms))).toSeq)
    layer.put("trace_overhead_warm_gmean_ms", gm(cyc.filter(_.traced)) - gm(cyc.filterNot(_.traced)), "ms")
    val cf = of("fetch_offsets", "fetch_tms")
    layer.put("trace_overhead_fetch_p50_ms",
      med(cf.filter(_.traced), _.ms) - med(cf.filterNot(_.traced), _.ms), "ms")
  }
}
