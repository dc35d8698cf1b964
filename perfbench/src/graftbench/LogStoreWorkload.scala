package graftbench

import graft.sources.{Glog, GlogOps, GlogSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** One timed log-store operation. `extra` holds the layer counters read
  * around it (Glog batch counters, planned segments, bytes written).
  */
final case class LogOp(kind: String, cycle: Int, ms: Double, traced: Boolean,
    k: ExecCounters, extra: Map[String, Double]) {
  /** A cycle call in the first half of the cycles, on a store that starts
    * empty. The rest are warm: the second half of the cycles, on the grown
    * store, then the compactions and the fetches over the compacted store.
    */
  def cold: Boolean =
    LogStoreWorkload.CycleKinds.contains(kind) && cycle < LogStoreWorkload.Cycles / 2
}

object LogStoreWorkload {
  val PerAppend = 4000
  /** Append-and-read cycles per run: a fixed amount of work. */
  val Cycles = 6
  /** The operation kinds of an append-and-read cycle. */
  val CycleKinds = Seq("list", "append", "fetch_offsets", "fetch_tms")
}

/** log_store: appends through `Glog.writeSegments` into a fresh store,
  * each followed by the `Glog.listEnds` call the streaming sink makes to
  * assign the next batch's offsets, with offset-range and `tms`-bounded
  * fetches through the glog DataSource interleaved at a fixed ratio; then
  * `GlogOps.compactStore` and fetches over the compacted store. Every
  * result is compared with [[LogModel]].
  *
  * The fetches over the compacted store are `tms`-bounded or read whole
  * partitions. Offset-range fetches there return too few records: the
  * batch-header skip in `Glog.readSegment` takes `base + count` as a
  * batch's end offset, which a compacted batch with offset gaps exceeds.
  */
final class LogStoreWorkload(spark: SparkSession, probe: ExecProbe, tracer: Tracer,
    m: Metrics, runDir: String, seed: Long) {
  import LogStoreWorkload.PerAppend
  val FetchesPerCycle = 6
  val Compactions = 3
  val CompactedFetches = 6

  val ops = mutable.ArrayBuffer.empty[LogOp]
  private val hconf = spark.sparkContext.hadoopConfiguration
  private val rnd = new scala.util.Random(seed * 31 + 7)

  /** Time `body` as one operation of `kind`, then check its result with
    * `verify` (outside the timing), which returns the layer counters to
    * keep. A throw from either counts as a failed operation.
    */
  private def timed[T](kind: String, cycle: Int, record: Boolean)(body: => T)(
      verify: T => Map[String, Double]): Unit =
    tracer.op(kind) {
      probe.begin()
      val b0 = (Glog.batchesRead.get, Glog.batchesSkipped.get, Glog.payloadBytesDecoded.get)
      try {
        val t0 = System.nanoTime()
        val result = body
        val ms = (System.nanoTime() - t0) / 1e6
        val k = probe.end()
        val glog = Map(
          "batches_read" -> (Glog.batchesRead.get - b0._1).toDouble,
          "batches_skipped" -> (Glog.batchesSkipped.get - b0._2).toDouble,
          "payload_bytes" -> (Glog.payloadBytesDecoded.get - b0._3).toDouble)
        val extra = verify(result)
        if (record) ops += LogOp(kind, cycle, ms, tracer.active, k, glog ++ extra)
        m.op(ok = true, "")
      } catch {
        case e: Throwable =>
          probe.end()
          m.op(ok = false, s"$kind (cycle $cycle) failed: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
      }
    }

  private def sameRecs(got: Seq[Glog.Rec], want: Seq[Glog.Rec], what: String): Unit = {
    val g = got.sortBy(r => (r.topic, r.part, r.offs))
    val w = want.sortBy(r => (r.topic, r.part, r.offs))
    if (g != w) {
      val firstDiff = g.zipAll(w, null, null).find { case (a, b) => a != b }
      throw new IllegalStateException(
        s"$what: ${g.size} records read, model has ${w.size}; first difference $firstDiff")
    }
  }

  def storeBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var total = 0L
        s.forEach(f => if (java.nio.file.Files.isRegularFile(f)) total += java.nio.file.Files.size(f))
        total
      } finally s.close()
    }
  }

  def segmentFiles(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(_.getFileName.toString.endsWith(".glog")).count() finally s.close()
    }
  }

  private def read(store: String) =
    spark.read.format("glog").load(store)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")

  /** A fetch: plan, then collect. Returns the records and both times. */
  private final case class Fetched(recs: Seq[Glog.Rec], planMs: Double, execMs: Double)

  private def fetch(df: org.apache.spark.sql.DataFrame): Fetched = {
    val t0 = System.nanoTime()
    tracer.span("plan")(df.queryExecution.executedPlan)
    val t1 = System.nanoTime()
    val rows = tracer.span("execute")(df.collect())
    val t2 = System.nanoTime()
    Fetched(rows.toSeq.map(r => Glog.Rec(r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))), (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  private def checkFetch(f: Fetched, want: => Seq[Glog.Rec], what: String) = {
    sameRecs(f.recs, want, what)
    Map("plan_ms" -> f.planMs, "exec_ms" -> f.execMs, "rows" -> f.recs.size.toDouble,
      "segments_planned" -> GlogSource.lastPlannedFiles.get.toDouble)
  }

  def list(store: String, model: LogModel, cycle: Int, record: Boolean): Unit =
    timed("list", cycle, record)(Glog.listEnds(store, hconf)) { ends =>
      if (ends != model.ends)
        throw new IllegalStateException(s"listEnds $ends != model ${model.ends}")
      Map("segments_scanned" -> segmentFiles(store).toDouble)
    }

  def append(store: String, model: LogModel, batch: Seq[Produced], batchId: Int,
      record: Boolean): Unit = {
    val recs = model.append(batch)
    val before = storeBytes(store)
    val spk = spark
    import spk.implicits._
    timed("append", batchId, record) {
      Glog.writeSegments(spark.createDataset(recs), store, s"segment-b$batchId")
    } { _ =>
      Map("user_bytes" -> recs.map(LogGen.userBytes).sum.toDouble,
        "store_bytes" -> (storeBytes(store) - before).toDouble)
    }
  }

  def fetchOffsets(store: String, model: LogModel, cycle: Int, kind: String,
      record: Boolean): Unit = {
    val (t, p) = model.partitions(rnd.nextInt(model.partitions.size))
    val from = (rnd.nextDouble() * model.end(t, p)).toLong
    val until = from + 1 + rnd.nextInt(400)
    timed(kind, cycle, record)(fetch(read(store).filter(col("topic") === t &&
      col("part") === p && col("offs") >= from && col("offs") < until))) { f =>
      checkFetch(f, model.range(t, p, from, until), s"fetch $t/$p [$from, $until)")
    }
  }

  def fetchTms(store: String, model: LogModel, cycle: Int, kind: String,
      record: Boolean): Unit = {
    val (t, p) = model.partitions(rnd.nextInt(model.partitions.size))
    val recs = model.range(t, p, Long.MinValue, Long.MaxValue)
    // a bound inside the newest fifth of the partition: a tail read
    val minTms = recs((recs.size * (0.8 + 0.2 * rnd.nextDouble())).toInt.min(recs.size - 1)).tms
    timed(kind, cycle, record)(fetch(read(store).filter(col("topic") === t &&
      col("part") === p && col("tms") >= minTms))) { f =>
      checkFetch(f, model.since(t, p, minTms), s"fetch $t/$p tms >= $minTms")
    }
  }

  def fetchPartition(store: String, model: LogModel, cycle: Int, kind: String,
      record: Boolean): Unit = {
    val (t, p) = model.partitions(rnd.nextInt(model.partitions.size))
    timed(kind, cycle, record)(fetch(read(store).filter(col("topic") === t &&
      col("part") === p))) { f =>
      checkFetch(f, model.range(t, p, Long.MinValue, Long.MaxValue), s"fetch $t/$p")
    }
  }

  def compact(store: String, out: String, model: LogModel, i: Int, record: Boolean): Unit =
    timed("compact", i, record)(GlogOps.compactStore(spark, store, out)) { _ =>
      // the rewritten store must hold exactly the model's survivors
      val got = fetch(read(out)).recs
      sameRecs(got, model.compacted, s"compacted store $out")
      Map("records_in" -> model.all.size.toDouble, "records_out" -> got.size.toDouble,
        "bytes_rewritten" -> storeBytes(out).toDouble)
    }

  /** The `i`th fetch over a compacted store, whose offsets have gaps. */
  def fetchCompacted(out: String, survivors: LogModel, i: Int, record: Boolean): Unit =
    if (i % 2 == 0) fetchPartition(out, survivors, i, "fetch_compacted", record)
    else fetchTms(out, survivors, i, "fetch_compacted", record)

  /** The compacted log as a model whose partitions keep their offsets. */
  private def survivorModel(model: LogModel): LogModel = {
    val s = new LogModel
    s.load(model.compacted)
    s
  }

  /** One append-and-read cycle: append, list (as the sink does), then
    * fetches with a list after every fifth.
    */
  private def cycle(store: String, model: LogModel, batch: Seq[Produced], c: Int,
      fetches: Int, record: Boolean): Unit = {
    append(store, model, batch, c, record)
    list(store, model, c, record)
    (0 until fetches).foreach { f =>
      if (f % 2 == 0) fetchOffsets(store, model, c, "fetch_offsets", record)
      else fetchTms(store, model, c, "fetch_tms", record)
      if (f % 5 == 4) list(store, model, c, record)
    }
  }

  /** The JIT warm-up: the same operations on a small scratch store. */
  def warmUp(): Unit = {
    val store = s"$runDir/warmup-store"
    val model = new LogModel
    cycle(store, model, LogGen.records(seed + 1, 0, 1000), 0, 2, record = false)
    compact(store, s"$runDir/warmup-compacted", model, 0, record = false)
    val s = survivorModel(model)
    (0 until 2).foreach(i => fetchCompacted(s"$runDir/warmup-compacted", s, i, record = false))
  }

  /** The measured store: `Cycles` cycles, then compactions into fresh
    * output directories and fetches over the compacted store. Returns the
    * model.
    */
  def run(produced: IndexedSeq[Produced], alternateTrace: Boolean): LogModel = {
    val store = s"$runDir/store"
    val model = new LogModel
    (0 until LogStoreWorkload.Cycles).foreach { c =>
      tracer.active = !alternateTrace || c % 2 == 0
      cycle(store, model, produced.slice(c * PerAppend, (c + 1) * PerAppend), c,
        FetchesPerCycle, record = true)
    }
    tracer.active = alternateTrace
    (0 until Compactions).foreach { i =>
      compact(store, s"$runDir/compacted-$i", model, i, record = true)
    }
    val s = survivorModel(model)
    (0 until CompactedFetches).foreach { i =>
      fetchCompacted(s"$runDir/compacted-0", s, i, record = true)
    }
    model
  }
}
