package graft

import graft.log.LogOps
import graft.sources.{Glog, GlogSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The glog segment store + DataSource V2 connector: lossless round trip,
  * directory pruning from pushed filters, and batch-header offset skipping.
  */
class GlogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"
  lazy val store: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_glog_spec").toString
    Glog.materialize(spark, dir, p)
    p
  }

  private def glog = spark.read.format("glog").load(store)

  test("glog round trip is lossless against the log view") {
    val got = glog.select("topic", "part", "offs", "event_id", "tms", "k", "v")
    val want = LogOps.log(spark, dir)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("topic + part equality filters prune to a single segment file") {
    GlogSource.lastPlannedFiles.set(-1)
    val n = glog.filter(col("topic") === "click" && col("part") === 3L).count()
    assert(GlogSource.lastPlannedFiles.get() == 1)
    val want = LogOps.log(spark, dir)
      .filter(col("topic") === "click" && col("part") === 3L).count()
    assert(n == want)
  }

  test("offset lower bound prunes or skips — files first, then headers") {
    // Baseline: how many files a topic-only scan plans.
    GlogSource.lastPlannedFiles.set(-1)
    glog.filter(col("topic") === "click").count()
    val all = GlogSource.lastPlannedFiles.get()
    assert(all > 0)
    // With the offset bound, the .glogx sidecars drop segments whose max
    // offset clears the bound BEFORE they open (this store's segments
    // are single-batch, so the old header-skip is subsumed by the
    // file-level prune — batch-level skipping is pinned separately in
    // the sidecar test's deleted-sidecar branch).
    GlogSource.lastPlannedFiles.set(-1)
    val got = glog.filter(col("topic") === "click" && col("offs") >= 150L)
    val want = LogOps.log(spark, dir)
      .filter(col("topic") === "click" && col("offs") >= 150L)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")
    assert(got.select("topic", "part", "offs", "event_id", "tms", "k", "v")
      .exceptAll(want).count() == 0 && want.exceptAll(
      got.select("topic", "part", "offs", "event_id", "tms", "k", "v")).count() == 0)
    assert(GlogSource.lastPlannedFiles.get() < all)
  }

  test("projection-only reads hop over record bodies via length prefixes") {
    // A counts/offsets-only projection needs neither key nor value, so
    // the reader must decode ZERO payload bytes — it advances through each
    // record body on the k/v length prefixes alone...
    Glog.payloadBytesDecoded.set(0)
    val counts = glog.groupBy("topic", "part")
      .agg(count(lit(1)).as("n"), max("offs").as("max_offs"))
    assert(counts.count() > 0)
    val metaOnly = Glog.payloadBytesDecoded.get()
    assert(metaOnly == 0L,
      s"counts-only glog read decoded $metaOnly payload bytes")
    // ...while the same store read WITH the value column pays the payload
    // decode, and a k-only projection pays strictly less than k+v.
    Glog.payloadBytesDecoded.set(0)
    assert(glog.select("k").filter(col("k").isNotNull).count() > 0)
    val kOnly = Glog.payloadBytesDecoded.get()
    Glog.payloadBytesDecoded.set(0)
    assert(glog.select("k", "v").filter(col("v").isNotNull).count() > 0)
    val full = Glog.payloadBytesDecoded.get()
    assert(kOnly > 0 && full > kOnly,
      s"payload pruning not monotone: k-only=$kOnly, k+v=$full")
  }

  test("timestamp lower bound skips whole batches via the v4 time index") {
    // The time index pays off when append order tracks event time (the
    // production Kafka case); build a time-ordered store to exercise it.
    // The synthetic corpus's arrival order is uncorrelated with event
    // time, so the regular store would read every batch.
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // sf0.001 holds ~25 records per partition — a single batch that spans
    // the whole month can never be time-skipped; sf0.01's ~250 gives each
    // partition several time-local batches.
    val tdir = "/root/testdata/sf0.01"
    val w = Window.partitionBy("topic", "part").orderBy("tms", "event_id")
    val timeOrdered = LogOps.log(spark, tdir)
      .withColumn("offs", row_number().over(w).cast("long") - 1L)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")
      .as[Glog.Rec]
    val out = java.nio.file.Files.createTempDirectory("graft_glog_time").toString
    Glog.writeSegments(timeOrdered, out, "segment-0")
    Glog.batchesSkipped.set(0)
    Glog.batchesRead.set(0)
    val cutoff = 1705276800000L // 2024-01-15, mid-corpus
    val got = spark.read.format("glog").load(out)
      .filter(col("tms") >= cutoff).count()
    val want = LogOps.log(spark, tdir).filter(col("tms") >= cutoff).count()
    assert(got == want)
    // pre-cutoff batches' header max timestamp triggers a payload-free skip
    assert(Glog.batchesSkipped.get() > 0)
    assert(Glog.batchesRead.get() > 0)
  }

  test("segment stats sidecar prunes whole segments for pushed bounds") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_glogx").toString
    def recs(lo: Long, hi: Long) = (lo until hi).map(i =>
      Glog.Rec("t", 0L, i, 1000L + i, 1700000000000L + i * 1000L,
        s"k$i", s"v$i"))
    Glog.writeSegments(spark.createDataset(recs(0L, 200L)), p, "segment-0")
    Glog.writeSegments(spark.createDataset(recs(200L, 400L)), p, "segment-1")
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val seg0 = new org.apache.hadoop.fs.Path(
      s"$p/topic=t/part=0/segment-0.glog")
    assert(Glog.readStats(fs, seg0) == Some((0L, 199L, 1700000199000L)))
    val df = spark.read.format("glog").load(p)
    // no pushed bound: both segments planned
    GlogSource.lastPlannedFiles.set(-1)
    assert(df.count() == 400)
    assert(GlogSource.lastPlannedFiles.get() == 2)
    // offset lower bound clearing segment-0's max drops the FILE
    GlogSource.lastPlannedFiles.set(-1)
    assert(df.filter(col("offs") >= 200L).count() == 200)
    assert(GlogSource.lastPlannedFiles.get() == 1)
    // offset UPPER bound (the new LessThan pushdown) drops segment-1
    GlogSource.lastPlannedFiles.set(-1)
    assert(df.filter(col("offs") < 200L).count() == 200)
    assert(GlogSource.lastPlannedFiles.get() == 1)
    // time lower bound clearing segment-0's maxTms drops it too
    GlogSource.lastPlannedFiles.set(-1)
    assert(df.filter(col("tms") >= 1700000200000L).count() == 200)
    assert(GlogSource.lastPlannedFiles.get() == 1)
    // advisory contract: a deleted sidecar only disables pruning — the
    // segment opens again and the batch-header skips keep results exact
    // (this pins the batch-level skip tier under the file-level one)
    fs.delete(Glog.statsPath(seg0), false)
    GlogSource.lastPlannedFiles.set(-1)
    Glog.batchesSkipped.set(0)
    assert(df.filter(col("offs") >= 200L).count() == 200)
    assert(GlogSource.lastPlannedFiles.get() == 2)
    assert(Glog.batchesSkipped.get() > 0)
  }

  test("micro-batch stream tails the store: initial load + appended segment") {
    val streamStore = java.nio.file.Files.createTempDirectory("graft_glog_stream").toString
    Glog.materialize(spark, dir, streamStore)
    val base = spark.read.format("glog").load(streamStore).count()
    val q = spark.readStream.format("glog").load(streamStore)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_glog_tail")
      .start()
    q.processAllAvailable()
    assert(spark.table("graft_glog_tail").count() == base)
    // Append a fresh segment beyond the current end offset of one
    // partition — the next trigger must pick up exactly the new records.
    val dirPath = new java.io.File(s"$streamStore/topic=click/part=3")
    val end = Glog.endOffset(
      new org.apache.hadoop.fs.Path(dirPath.toString).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(dirPath.toString))
    val fresh = (0 until 5).map(i =>
      Glog.Rec("click", 3L, end + i, 900000L + i, 1706000000000L + i, "42", "{}"))
    val bytes = Glog.encodeBatch(fresh)
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(new java.io.File(dirPath, "segment-1.glog")))
    out.writeInt(bytes.length); out.write(bytes); out.close()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("graft_glog_tail").count() == base + 5)
    val tail = spark.table("graft_glog_tail")
      .filter(col("topic") === "click" && col("part") === 3L && col("offs") >= end)
    assert(tail.count() == 5)
  }

  test("startingOffsets=latest delivers only post-start appends") {
    val store = java.nio.file.Files.createTempDirectory("graft_glog_latest").toString
    Glog.materialize(spark, dir, store)
    val q = spark.readStream.format("glog")
      .option("startingOffsets", "latest").load(store)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_glog_latest")
      .start()
    q.processAllAvailable()
    // the pre-existing store is skipped entirely
    assert(spark.table("graft_glog_latest").count() == 0)
    val dirPath = new java.io.File(s"$store/topic=error/part=2")
    val fs = new org.apache.hadoop.fs.Path(dirPath.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val end = Glog.endOffset(fs, new org.apache.hadoop.fs.Path(dirPath.toString))
    val fresh = (0 until 3).map(i =>
      Glog.Rec("error", 2L, end + i, 970000L + i, 1706200000000L + i, "9", "{}"))
    val bytes = Glog.encodeBatch(fresh)
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(new java.io.File(dirPath, "segment-1.glog")))
    out.writeInt(bytes.length); out.write(bytes); out.close()
    q.processAllAvailable()
    q.stop()
    // exactly the appended records arrive
    assert(spark.table("graft_glog_latest").count() == 3)
  }

  test("maxRecordsPerTrigger rate-limits the backfill into many batches") {
    val store = java.nio.file.Files.createTempDirectory("graft_glog_rate").toString
    Glog.materialize(spark, dir, store)
    val base = spark.read.format("glog").load(store).count()
    var batches = 0L
    var maxBatch = 0L
    var total = 0L
    val q = spark.readStream.format("glog")
      .option("maxRecordsPerTrigger", "200").load(store)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count()
        total += n
        if (n > 0) { batches += 1; maxBatch = math.max(maxBatch, n) }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // the whole store drains, but in capped slices (40 partitions get a
    // +1 progress floor each, so a trigger can carry up to cap + nParts)
    assert(total == base)
    assert(batches >= base / 250)
    assert(maxBatch <= 200 + 40)
    assert(batches > 1)
  }

  test("stream restart from checkpoint resumes exactly once") {
    val store = java.nio.file.Files.createTempDirectory("graft_glog_ckpt_store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_glog_ckpt").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_glog_ckpt_sink").toString
    Glog.materialize(spark, dir, store)
    val base = spark.read.format("glog").load(store).count()
    def run(): Unit = {
      val q = spark.readStream.format("glog").load(store)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(spark.read.parquet(sink).count() == base)
    // Append after the query is STOPPED, then restart against the same
    // checkpoint: the recovered GlogOffset must resume at the old ends —
    // the 5 new records land exactly once and nothing replays.
    val dirPath = new java.io.File(s"$store/topic=view/part=1")
    val fs = new org.apache.hadoop.fs.Path(dirPath.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val end = Glog.endOffset(fs, new org.apache.hadoop.fs.Path(dirPath.toString))
    val fresh = (0 until 5).map(i =>
      Glog.Rec("view", 1L, end + i, 950000L + i, 1706100000000L + i, "7", "{}"))
    val bytes = Glog.encodeBatch(fresh)
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(new java.io.File(dirPath, "segment-1.glog")))
    out.writeInt(bytes.length); out.write(bytes); out.close()
    run()
    val result = spark.read.parquet(sink)
    assert(result.count() == base + 5)
    // dense, duplicate-free offsets in the appended partition
    val p = result.filter(col("topic") === "view" && col("part") === 1L)
    assert(p.select("offs").distinct().count() == p.count())
    assert(p.count() == end + 5)
  }

  test("streaming glog sink lands a dense per-partition log") {
    val out = java.nio.file.Files.createTempDirectory("graft_glog_sink").toString
    val batches = graft.streaming.Streams.runGlogIngest(spark, dir, out)
    assert(batches >= 1)
    val got = spark.read.format("glog").load(out)
    assert(got.count() == Tables.t(spark, dir, "events").count())
    // every (topic, part) has dense offsets 0..n-1 regardless of batching
    val dense = got.groupBy("topic", "part")
      .agg(min("offs").as("mn"), max("offs").as("mx"), count(lit(1)).as("n"))
    assert(dense.filter(col("mn") =!= 0L || col("mx") =!= col("n") - 1).count() == 0)
    // the sink's store replays identically through the streaming source
    val q = spark.readStream.format("glog").load(out)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_glog_sink_replay").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("graft_glog_sink_replay").count() == got.count())
  }

  test("retried micro-batch write is idempotent via dropBatchSegments") {
    val out = java.nio.file.Files.createTempDirectory("graft_glog_retry").toString
    graft.streaming.Streams.runGlogIngest(spark, dir, out)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Glog.listEnds(out, conf)
    // Simulate a partial retry leftover: a bogus segment for a later batch
    // id plus a stale temp file in one partition directory.
    val pDir = new org.apache.hadoop.fs.Path(s"$out/topic=click/part=0")
    val fs = pDir.getFileSystem(conf)
    val junk = Glog.encodeBatch(Seq(Glog.Rec("click", 0L, before("click/0"),
      999999L, 0L, "k", "v")))
    for (name <- Seq("segment-b9999.glog", ".segment-b9999.glog.tmp-zombie")) {
      val o = new java.io.DataOutputStream(
        fs.create(new org.apache.hadoop.fs.Path(pDir, name), true))
      o.writeInt(junk.length); o.write(junk); o.close()
    }
    assert(Glog.listEnds(out, conf)("click/0") == before("click/0") + 1)
    // The recovery step a re-delivered batch 9999 would run first restores
    // the committed state exactly.
    Glog.dropBatchSegments(out, conf, 9999L)
    assert(Glog.listEnds(out, conf) == before)
  }

  test("stream offset JSON round-trips hostile topic names") {
    val o = graft.sources.GlogOffset(Map(
      "a,b/0" -> 5L, "c:d\"e/1" -> 7L, "plain/2" -> 0L))
    assert(graft.sources.GlogOffset.parse(o.json()) == o)
    assert(graft.sources.GlogOffset.parse(
      graft.sources.GlogOffset(Map.empty).json()).ends.isEmpty)
    // names that cannot be a directory are rejected at write time
    intercept[IllegalArgumentException](Glog.validateTopic("a/b"))
    intercept[IllegalArgumentException](Glog.validateTopic(""))
  }

  test("store compaction keeps the latest record per key at its original offset") {
    val out = java.nio.file.Files.createTempDirectory("graft_glog_compact").toString
    graft.sources.GlogOps.compactStore(spark, store, out)
    val got = spark.read.format("glog").load(out)
      .select("topic", "part", "k", "offs", "v", "tms")
    val want = LogOps.compact(spark, dir)
      .select("topic", "part", "k", "offs", "v", "tms")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // offset seeks still work across the compaction gaps
    val seek = spark.read.format("glog").load(out)
      .filter(col("topic") === "click" && col("offs") >= 100L).count()
    val seekWant = want.filter(col("topic") === "click" && col("offs") >= 100L).count()
    assert(seek == seekWant)
    // the compacted store's end offsets are its max surviving offset + 1
    val ends = Glog.listEnds(out, spark.sparkContext.hadoopConfiguration)
    val wantEnds = want.groupBy("topic", "part").agg(max("offs")).collect()
      .map(r => s"${r.getString(0)}/${r.getLong(1)}" -> (r.getLong(2) + 1L)).toMap
    assert(ends == wantEnds)
    // a seek that starts past base + count inside one compacted batch:
    // 200 records of one partition where every 4th key is unique and the
    // rest share one key compact to offsets 0, 4, ..., 196 and 199 — one
    // 51-record batch whose max offset (199) is far above base + count
    import spark.implicits._
    val gapsIn = java.nio.file.Files.createTempDirectory("graft_glog_gaps").toString
    val recs = (0L until 200L).map(i => Glog.Rec("t", 0L, i, 1000L + i,
      1700000000000L + i, if (i % 4 == 0) s"u$i" else "dup", s"v$i"))
    Glog.writeSegments(spark.createDataset(recs), gapsIn, "segment-0")
    val gaps = java.nio.file.Files.createTempDirectory("graft_glog_gaps_c").toString
    graft.sources.GlogOps.compactStore(spark, gapsIn, gaps)
    val tail = spark.read.format("glog").load(gaps)
      .filter(col("offs") >= 150L).select("offs").as[Long].collect().sorted
    assert(tail.toSeq == ((152L until 200L by 4L) :+ 199L))
    assert(Glog.listEnds(gaps, spark.sparkContext.hadoopConfiguration) ==
      Map("t/0" -> 200L))
  }

  test("streaming log-end monitor over the glog tail matches batch list_offsets") {
    val got = graft.streaming.Streams.runLogEndStream(spark, store)
      .select("topic", "part", "log_end", "n")
    val want = LogOps.listOffsets(spark, dir)
      .select("topic", "part", "log_end", "n")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming consumer-lag monitor over the glog tail matches batch consumer_lag") {
    val got = graft.streaming.Streams.runConsumerLagStream(spark, dir, store)
      .select("group_id", "topic", "part", "committed", "log_end", "lag")
    val want = graft.coordinator.Groups.consumerLag(spark, dir)
      .select("group_id", "topic", "part", "committed", "log_end", "lag")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("corruption fails LOUDLY — no silent partial reads") {
    // copy the store, then damage one segment two ways; both reads must
    // throw (a storage engine refuses corrupt segments, it never
    // silently drops records)
    import java.nio.file._
    def copyStore(): Path = {
      val d = Files.createTempDirectory("graft_glog_corrupt")
      d.toFile.deleteOnExit()
      Files.walk(Paths.get(store)).forEach { p =>
        val t = d.resolve(Paths.get(store).relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      d
    }
    def firstSeg(d: Path): Path =
      Files.walk(d).filter(_.toString.endsWith(".glog")).findFirst.get
    val healthy = spark.read.format("glog").load(store).count()
    // (a) truncation: chop the last 40% of a segment
    val t1 = copyStore()
    val s1 = firstSeg(t1)
    val bytes = Files.readAllBytes(s1)
    Files.write(s1, bytes.take(bytes.length * 6 / 10))
    val e1 = intercept[org.apache.spark.SparkException] {
      spark.read.format("glog").load(t1.toString).count()
    }
    assert(e1.getMessage != null)
    // (b) bit-rot: flip the magic byte region mid-file
    val t2 = copyStore()
    val s2 = firstSeg(t2)
    val b2 = Files.readAllBytes(s2)
    java.util.Arrays.fill(b2, b2.length / 2, math.min(b2.length / 2 + 8, b2.length), 0x5A.toByte)
    Files.write(s2, b2)
    intercept[org.apache.spark.SparkException] {
      spark.read.format("glog").load(t2.toString).count()
    }
    // and the healthy store still reads in full afterwards
    assert(spark.read.format("glog").load(store).count() == healthy)
  }

  test("column pruning reaches the reader") {
    val ks = glog.select("k").distinct().count()
    val want = LogOps.log(spark, dir).select("k").distinct().count()
    assert(ks == want)
  }
}
