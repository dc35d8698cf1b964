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

  test("glog_read reads the events it is given: rewritten in place, or at a look-alike path") {
    import java.nio.file.{Files, Paths}
    import graft.sources.GlogOps
    val src = s"$dir/events.parquet"
    def same(d: String) = {
      val got = GlogOps.glogRead(spark, d)
      val want = LogOps.logView(spark, d)
      got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0
    }
    def evenEvents(d: String) = spark.read.parquet(src)
      .filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val tmp = Files.createTempDirectory("graft_glog_data")
    // A copy of the dataset, read once, then its events rewritten in place.
    val copy = Files.createDirectories(tmp.resolve("copy"))
    Files.copy(Paths.get(src), copy.resolve("events.parquet"))
    assert(same(copy.toString))
    val before = GlogOps.glogRead(spark, copy.toString).count()
    evenEvents(copy.toString)
    assert(same(copy.toString), "rewritten events must rebuild the glog copy")
    assert(GlogOps.glogRead(spark, copy.toString).count() < before)
    // Two datasets whose paths sanitize alike, holding different events.
    val flat = Files.createDirectories(tmp.resolve("x_y"))
    val nested = Files.createDirectories(tmp.resolve("x").resolve("y"))
    Files.copy(Paths.get(src), flat.resolve("events.parquet"))
    evenEvents(nested.toString)
    assert(same(flat.toString))
    assert(same(nested.toString), "x/y must not read x_y's glog copy")
  }

  test("topic + part equality filters prune to a single segment file") {
    GlogSource.lastPlannedFiles.set(-1)
    val n = glog.filter(col("topic") === "click" && col("part") === 3L).count()
    assert(GlogSource.lastPlannedFiles.get() == 1)
    val want = LogOps.log(spark, dir)
      .filter(col("topic") === "click" && col("part") === 3L).count()
    assert(n == want)
    // an absent (topic, part) plans nothing and raises nothing
    for ((t, p) <- Seq(("click", 999L), ("no-such-topic", 3L))) {
      GlogSource.lastPlannedFiles.set(-1)
      assert(glog.filter(col("topic") === t && col("part") === p).count() == 0)
      assert(GlogSource.lastPlannedFiles.get() == 0)
    }
  }

  test("offset lower bound skips batches from their headers") {
    // Baseline: how many files a topic-only scan plans.
    GlogSource.lastPlannedFiles.set(-1)
    glog.filter(col("topic") === "click").count()
    val all = GlogSource.lastPlannedFiles.get()
    assert(all > 0)
    // With the offset bound the same directories are planned, and every
    // batch whose max offset clears the bound is skipped from its header
    // without decoding a record.
    GlogSource.lastPlannedFiles.set(-1)
    Glog.batchesSkipped.set(0)
    val got = glog.filter(col("topic") === "click" && col("offs") >= 150L)
    val want = LogOps.log(spark, dir)
      .filter(col("topic") === "click" && col("offs") >= 150L)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")
    assert(got.select("topic", "part", "offs", "event_id", "tms", "k", "v")
      .exceptAll(want).count() == 0 && want.exceptAll(
      got.select("topic", "part", "offs", "event_id", "tms", "k", "v")).count() == 0)
    assert(GlogSource.lastPlannedFiles.get() == all)
    assert(Glog.batchesSkipped.get() > 0)
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

  test("segments of one directory plan one input partition; pushed bounds stay exact") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_glog_dir").toString
    def recs(lo: Long, hi: Long) = (lo until hi).map(i =>
      Glog.Rec("t", 0L, i, 1000L + i, 1700000000000L + i * 1000L,
        s"k$i", s"v$i"))
    Glog.writeSegments(spark.createDataset(recs(0L, 200L)), p, "segment-0")
    Glog.writeSegments(spark.createDataset(recs(200L, 400L)), p, "segment-1")
    // one file per commit: the segments, no `.crc` and no `.tmp-` file
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(p, "topic=t", "part=0"))
      .toArray.map(_.toString.split('/').last).sorted.toSeq == Seq(
        "segment-0.glog", "segment-1.glog"))
    val df = spark.read.format("glog").load(p)
    def inputPartitions(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }
    GlogSource.lastPlannedFiles.set(-1)
    assert(df.count() == 400)
    assert(GlogSource.lastPlannedFiles.get() == 2)
    assert(inputPartitions(df).contains(1))
    // each bound clears one whole segment: its batches are skipped from
    // their headers and the result is exact
    for ((bound, want) <- Seq((col("offs") >= 200L, 200L until 400L),
        (col("offs") < 200L, 0L until 200L),
        (col("tms") >= 1700000200000L, 200L until 400L))) {
      GlogSource.lastPlannedFiles.set(-1)
      Glog.batchesSkipped.set(0)
      val got = df.filter(bound)
      assert(got.select("offs").as[Long].collect().sorted.toSeq == want)
      assert(GlogSource.lastPlannedFiles.get() == 2)
      assert(inputPartitions(got).contains(1))
      assert(Glog.batchesSkipped.get() > 0)
    }
  }

  /** A hand-built store: topics t and u, parts 0 and 1, each with 250
    * records at offsets 0-249 whose tms rises 1 s per offset, in v6
    * batches of 100 records.
    */
  private lazy val exactStore: (String, Seq[Glog.Rec]) = {
    val p = java.nio.file.Files.createTempDirectory("graft_glog_exact").toString
    val parts = for (t <- Seq("t", "u"); part <- Seq(0L, 1L)) yield
      (0L until 250L).map(o => Glog.Rec(t, part, o, 1000L + o,
        1700000000000L + o * 1000L, s"k${o % 10}", s"v$o"))
    parts.foreach(segment(p, "segment-0", _))
    (p, parts.flatten)
  }

  private def sorted(recs: Seq[Glog.Rec]) = recs.sortBy(r => (r.topic, r.part, r.offs))

  /** `df`'s records, sorted. */
  private def recsOf(df: org.apache.spark.sql.DataFrame): Seq[Glog.Rec] = {
    import spark.implicits._
    sorted(df.select("topic", "part", "offs", "event_id", "tms", "k", "v")
      .as[Glog.Rec].collect().toSeq)
  }

  /** Push `filters` into a scan of `path` and read it on the driver:
    * the residual filters and the records the reader returns.
    */
  private def scan(path: String, filters: org.apache.spark.sql.sources.Filter*)
      : (Seq[org.apache.spark.sql.sources.Filter], Seq[Glog.Rec]) = {
    val b = new graft.sources.GlogScanBuilder(path)
    val residual = b.pushFilters(filters.toArray).toSeq
    val batch = b.build().toBatch
    val factory = batch.createReaderFactory()
    val recs = batch.planInputPartitions().toSeq.flatMap { ip =>
      val r = factory.createReader(ip)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get()).map(row =>
        Glog.Rec(row.getUTF8String(0).toString, row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4), row.getUTF8String(5).toString,
          row.getUTF8String(6).toString)).toList
      finally r.close()
    }
    (residual, sorted(recs))
  }

  test("the fetch shape's pushed bounds are exact: no filter re-applies a literal") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.FilterExec
    def literalFilters(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.collect {
        case f: FilterExec if f.condition.find(_.isInstanceOf[Literal]).isDefined => f
      }
    // the benchmark's fetch shapes, on the sf0.001 store
    val log = LogOps.log(spark, dir)
    for (bound <- Seq(col("offs") >= 5L && col("offs") < 20L,
        col("tms") >= 1705276800000L, col("offs") > 3L && col("offs") <= 9L)) {
      val cond = col("topic") === "click" && col("part") === 3L && bound
      val got = glog.filter(cond)
      assert(literalFilters(got).isEmpty, got.queryExecution.executedPlan)
      assert(recsOf(got) == recsOf(log.filter(cond)))
    }
    // and on the hand-built store, where a bound cuts through batches
    val (p, all) = exactStore
    val got = spark.read.format("glog").load(p).filter(col("topic") === "u" &&
      col("part") === 1L && col("offs") >= 120L && col("offs") < 180L)
    assert(literalFilters(got).isEmpty, got.queryExecution.executedPlan)
    assert(recsOf(got) == all.filter(r => r.topic == "u" && r.part == 1L &&
      r.offs >= 120L && r.offs < 180L))
  }

  test("pushed bounds: conflicting equalities, > Long.MaxValue and <= Long.MaxValue") {
    import org.apache.spark.sql.sources._
    val (p, all) = exactStore
    // two different equalities on one column select nothing; a repeated
    // one selects what it selects once
    assert(scan(p, EqualTo("topic", "t"), EqualTo("topic", "u")) == (Nil, Nil))
    assert(scan(p, EqualTo("part", 0L), EqualTo("part", 1L)) == (Nil, Nil))
    assert(scan(p, EqualTo("topic", "t"), EqualTo("topic", "t"))._2 ==
      all.filter(_.topic == "t"))
    // a lower bound past Long.MaxValue: no row is above it
    assert(scan(p, GreaterThan("offs", Long.MaxValue)) == (Nil, Nil))
    assert(scan(p, GreaterThan("tms", Long.MaxValue)) == (Nil, Nil))
    // offs <= Long.MaxValue holds for every row
    assert(scan(p, LessThanOrEqual("offs", Long.MaxValue)) == (Nil, sorted(all)))
    // the same through the DataFrame API
    val df = spark.read.format("glog").load(p)
    assert(df.filter(col("offs") > Long.MaxValue).count() == 0)
    assert(df.filter(col("tms") > Long.MaxValue).count() == 0)
    assert(recsOf(df.filter(col("offs") <= Long.MaxValue)) == sorted(all))
    // bounds no offset satisfies together
    assert(scan(p, GreaterThanOrEqual("offs", 10L), LessThan("offs", 10L)) == (Nil, Nil))
  }

  test("a tms bound inside a batch drops the batch's earlier records") {
    import org.apache.spark.sql.sources._
    val (p, all) = exactStore
    // offset 150's tms sits inside the batch holding offsets 100-199:
    // the first batch is skipped from its header, the second is decoded
    // and only its records from offset 150 on are returned
    val cut = 1700000000000L + 150L * 1000L
    val df = spark.read.format("glog").load(p)
    def want(min: Long) = all.filter(r => r.topic == "t" && r.part == 0L && r.tms >= min)
    Glog.batchesSkipped.set(0)
    assert(recsOf(df.filter(col("topic") === "t" && col("part") === 0L &&
      col("tms") >= cut)) == want(cut))
    assert(Glog.batchesSkipped.get() == 1)
    assert(recsOf(df.filter(col("topic") === "t" && col("part") === 0L &&
      col("tms") > cut)) == want(cut + 1))
    assert(scan(p, EqualTo("topic", "t"), EqualTo("part", 0L),
      GreaterThanOrEqual("tms", cut)) == (Nil, want(cut)))
  }

  test("filters the scan does not apply stay residuals and are applied") {
    import org.apache.spark.sql.sources._
    val (p, all) = exactStore
    val cut = 1700000000000L + 100L * 1000L
    val unhandled: Seq[Filter] = Seq(EqualTo("k", "k3"), LessThan("tms", cut),
      In("part", Array(0L, 1L)), EqualNullSafe("part", 0L), EqualTo("part", 1.5),
      GreaterThanOrEqual("offs", 2.5), EqualTo("v", "v3"))
    for (f <- unhandled) assert(scan(p, f)._1 == Seq(f))
    val got = spark.read.format("glog").load(p).filter(col("topic") === "t" &&
      col("part") === 0L && col("k") === "k3" && col("tms") < cut)
    assert(recsOf(got) == all.filter(r => r.topic == "t" && r.part == 0L &&
      r.k == "k3" && r.tms < cut))
    assert(recsOf(got).map(_.offs) == (3L until 100L by 10L))
  }

  test("a store under a non-local scheme: append, listEnds, bounded read, compaction") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.glogtest.impl", classOf[SchemeLocalFs].getName)
    try {
      val local = java.nio.file.Files.createTempDirectory("graft_glog_scheme")
      val store = s"glogtest:$local"
      def rec(part: Long, o: Long) = Glog.Rec("t", part, o, 1000L + o,
        1700000000000L + o * 1000L, s"k${o % 7}", s"v$part-$o")
      val first = for (part <- Seq(0L, 1L); o <- 0L until 150L) yield rec(part, o)
      val second = for (part <- Seq(0L, 1L); o <- 150L until 300L) yield rec(part, o)
      Glog.writeSegments(spark.createDataset(first), store, "segment-b0")
      Glog.writeSegments(spark.createDataset(second), store, "segment-b1")
      val all = sorted(first ++ second)
      // the commits went through FileSystem.create and rename
      assert(java.nio.file.Files.list(local.resolve("topic=t").resolve("part=1"))
        .toArray.map(_.toString.split('/').last).sorted.toSeq ==
        Seq("segment-b0.glog", "segment-b1.glog"))
      assert(Glog.listEnds(store, conf) == Map("t/0" -> 300L, "t/1" -> 300L))
      assert(readAll(store) == all)
      val df = spark.read.format("glog").load(store)
      assert(recsOf(df.filter(col("topic") === "t" && col("part") === 1L &&
        col("offs") >= 120L && col("offs") < 210L)) ==
        all.filter(r => r.part == 1L && r.offs >= 120L && r.offs < 210L))
      assert(recsOf(df.filter(col("tms") >= 1700000000000L + 250L * 1000L)) ==
        all.filter(_.offs >= 250L))
      val out = s"glogtest:${freshPath("graft_glog_scheme_c")}"
      graft.sources.GlogOps.compactStore(spark, store, out)
      assert(readAll(out) == sorted(all.groupBy(r => (r.part, r.k)).values
        .map(_.maxBy(_.offs)).toSeq))
      // only a store under another scheme ships the session's conf to its readers
      def shipsConf(path: String) = {
        val factory = new graft.sources.GlogTable(path)
          .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
          .build().toBatch.createReaderFactory()
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.io.ObjectOutputStream(bos)
        o.writeObject(factory)
        o.close()
        new String(bos.toByteArray, "ISO-8859-1").contains("SerializableConfiguration")
      }
      assert(shipsConf(store))
      assert(!shipsConf(local.toString) && !shipsConf(s"file:$local"))
    } finally conf.unset("fs.glogtest.impl")
  }

  test("a stale .glogx stats file beside a segment drops no rows") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_glog_stale").toString
    segment(p, "segment-0", (0L until 200L).map(i =>
      Glog.Rec("t", 0L, i, 1000L + i, 1700000000000L + i * 1000L, s"k$i", s"v$i")))
    // the stats file an older writer could leave paired with a rewritten
    // segment: it claims offsets [0, 0] and a max time of 0 (written
    // through the checksummed filesystem, so its checksum is valid)
    val stale = new org.apache.hadoop.fs.Path(s"$p/topic=t/part=0/segment-0.glogx")
    val o = stale.getFileSystem(spark.sparkContext.hadoopConfiguration).create(stale, true)
    o.write("v1 0 0 0\n".getBytes("UTF-8")); o.close()
    val df = spark.read.format("glog").load(p)
    assert(df.filter(col("offs") >= 100L).select("offs").as[Long].collect()
      .sorted.toSeq == (100L until 200L))
    assert(df.filter(col("tms") >= 1700000150000L).select("offs").as[Long]
      .collect().sorted.toSeq == (150L until 200L))
    val q = spark.readStream.format("glog").load(p)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_glog_stale").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("graft_glog_stale").select("offs").as[Long].collect()
      .sorted.toSeq == (0L until 200L))
  }

  test("rate-limited stream windows run contiguously across segment boundaries") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_glog_window").toString
    for ((lo, i) <- Seq(0L, 200L, 400L).zipWithIndex)
      Glog.writeSegments(spark.createDataset((lo until lo + 200L).map(o =>
        Glog.Rec("t", 0L, o, 1000L + o, 1700000000000L + o, s"k$o", s"v$o"))),
        p, s"segment-$i")
    val slices = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream.format("glog")
      .option("maxRecordsPerTrigger", "150").load(p)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val offs = b.select("offs").as[Long].collect().sorted.toSeq
        if (offs.nonEmpty) slices += offs
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // every offset exactly once, in capped slices (cap + the one-record
    // progress floor)
    assert(slices.flatten.sorted == (0L until 600L))
    assert(slices.size >= 4 && slices.forall(_.size <= 151))
    // each trigger's slice is one contiguous offset range, and some
    // slice spans each segment boundary
    slices.foreach(s => assert(s == (s.head to s.last)))
    for (b <- Seq(200L, 400L)) assert(slices.exists(s => s.head < b && s.last >= b))
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
    assert(got.select("topic").distinct().count() == 5)
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

  /** A fresh temp directory path that does not exist yet. */
  private def freshPath(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    java.nio.file.Files.delete(d)
    d.toString
  }

  /** Write `recs` (one partition, ascending offsets) as segment `seg`. */
  private def segment(store: String, seg: String, recs: Seq[Glog.Rec]): Unit =
    Glog.writeSegment(spark.sparkContext.hadoopConfiguration, store, seg,
      recs.head.topic, recs.head.part, recs.iterator)

  private def readAll(path: String): Seq[Glog.Rec] = {
    import spark.implicits._
    spark.read.format("glog").load(path).as[Glog.Rec].collect().toSeq
      .sortBy(r => (r.topic, r.part, r.offs))
  }

  test("pre-v5 gapped batches: offset seeks and end offsets are exact") {
    // A v4 batch (no max offset in its header) as a compaction before v5
    // wrote it: 51 records at offsets 0, 4, ..., 196 and 199 — far past
    // base + count.
    val offs = (0L until 200L by 4L) :+ 199L
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(Glog.MagicT)
    out.writeInt(offs.size)
    out.writeLong(0L)
    out.writeLong(1700000000000L + 199L)
    offs.foreach { o =>
      out.writeInt(o.toInt)
      out.writeLong(1700000000000L + o)
      out.writeLong(1000L + o)
      for (s <- Seq(s"k$o", s"v$o")) {
        val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b)
      }
    }
    out.flush()
    val batch = bos.toByteArray
    val store = java.nio.file.Files.createTempDirectory("graft_glog_v4").toString
    val pDir = java.nio.file.Paths.get(store, "topic=t", "part=0")
    java.nio.file.Files.createDirectories(pDir)
    val seg = new java.io.DataOutputStream(
      new java.io.FileOutputStream(pDir.resolve("segment-0.glog").toFile))
    seg.writeInt(batch.length); seg.write(batch); seg.close()
    import spark.implicits._
    val tail = spark.read.format("glog").load(store)
      .filter(col("offs") >= 150L).select("offs").as[Long].collect().sorted
    assert(tail.toSeq == offs.filter(_ >= 150L))
    assert(Glog.listEnds(store, spark.sparkContext.hadoopConfiguration) ==
      Map("t/0" -> 200L))
  }

  /** `seg` with the first occurrence of `find` changed to `to`, both the
    * same length, so every length prefix stays valid.
    */
  private def rewrite(seg: java.nio.file.Path, find: String, to: String): Unit = {
    val b = java.nio.file.Files.readAllBytes(seg)
    val (f, t) = (find.getBytes("UTF-8"), to.getBytes("UTF-8"))
    val at = b.indices.find(i => b.slice(i, i + f.length).sameElements(f)).get
    System.arraycopy(t, 0, b, at, t.length)
    java.nio.file.Files.write(seg, b)
  }

  test("a v6 batch whose bytes change fails the read, naming its segment") {
    def rec(offs: Long) = Glog.Rec("t", 0L, offs, offs, 1700000000000L + offs,
      s"k$offs", s"value-$offs")
    val p = java.nio.file.Files.createTempDirectory("graft_glog_crc").toString
    segment(p, "segment-0", (0L until 250L).map(rec))
    assert(readAll(p).size == 250)
    // one byte of one value string in the second batch; the framing holds
    rewrite(java.nio.file.Paths.get(p, "topic=t", "part=0", "segment-0.glog"),
      "value-150", "value-15X")
    val e = intercept[org.apache.spark.SparkException](readAll(p))
    assert(e.getMessage.contains("CRC32C mismatch") &&
      e.getMessage.contains("topic=t/part=0/segment-0.glog"), e.getMessage)
    // a read whose bounds skip the damaged batch reads its header only
    import spark.implicits._
    assert(spark.read.format("glog").load(p).filter(col("offs") >= 200L)
      .select("offs").as[Long].collect().sorted.toSeq == (200L until 250L))
    assert(Glog.listEnds(p, spark.sparkContext.hadoopConfiguration) == Map("t/0" -> 250L))
    // a length prefix claiming ~2 GB: the read fails on the bytes that are
    // there, without allocating the claim
    segment(p, "segment-0", (0L until 250L).map(rec))
    val seg = java.nio.file.Paths.get(p, "topic=t", "part=0", "segment-0.glog")
    val b = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(seg))
    b.putInt(4 + b.getInt(0), Int.MaxValue - 64)
    java.nio.file.Files.write(seg, b.array())
    val t = intercept[org.apache.spark.SparkException](readAll(p))
    assert(t.getMessage.contains("glog batch truncated"), t.getMessage)
  }

  test("a v5 segment with its .crc beside a v6 one reads, lists ends and compacts") {
    def rec(offs: Long) = Glog.Rec("t", 0L, offs, offs, 1700000000000L + offs,
      s"k${offs % 7}", s"v$offs")
    // a v5 batch, as the writer before v6 encoded it
    def v5(recs: Seq[Glog.Rec]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeByte(Glog.MagicO)
      out.writeInt(recs.size)
      out.writeLong(recs.head.offs)
      out.writeLong(recs.map(_.tms).max)
      out.writeLong(recs.map(_.offs).max)
      recs.foreach { r =>
        out.writeInt((r.offs - recs.head.offs).toInt)
        out.writeLong(r.tms)
        out.writeLong(r.event_id)
        for (s <- Seq(r.k, r.v)) {
          val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b)
        }
      }
      out.flush()
      bos.toByteArray
    }
    val p = java.nio.file.Files.createTempDirectory("graft_glog_mixed").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val older = (0L until 150L).map(rec)
    // written through the checksummed local filesystem, `.crc` and all
    val v5Seg = new org.apache.hadoop.fs.Path(s"$p/topic=t/part=0/segment-0.glog")
    val o = new java.io.DataOutputStream(v5Seg.getFileSystem(conf).create(v5Seg, true))
    for (batch <- older.grouped(Glog.MaxBatch).map(v5)) { o.writeInt(batch.length); o.write(batch) }
    o.close()
    val pDir = java.nio.file.Paths.get(p, "topic=t", "part=0")
    assert(java.nio.file.Files.exists(pDir.resolve(".segment-0.glog.crc")))
    val newer = (150L until 300L).map(rec)
    segment(p, "segment-1", newer)
    val all = older ++ newer
    assert(readAll(p) == all)
    assert(Glog.listEnds(p, conf) == Map("t/0" -> 300L))
    val out = freshPath("graft_glog_mixed_c")
    graft.sources.GlogOps.compactStore(spark, p, out)
    assert(readAll(out) == all.groupBy(_.k).values.map(_.maxBy(_.offs)).toSeq.sortBy(_.offs))
    // the Hadoop reader still checks a v5 segment against its `.crc`
    rewrite(pDir.resolve("segment-0.glog"), "v100", "v10X")
    intercept[org.apache.spark.SparkException](readAll(p))
    // a v6 commit over that segment's name takes the stale `.crc` with it
    segment(p, "segment-0", older)
    assert(!java.nio.file.Files.exists(pDir.resolve(".segment-0.glog.crc")))
    assert(readAll(p) == all)
  }

  test("compaction survivors: null keys, full ties, later segments, offset order") {
    def rec(offs: Long, k: String, tms: Long, eid: Long) =
      Glog.Rec("t", 0L, offs, eid, tms, k, s"v$offs")
    val in = java.nio.file.Files.createTempDirectory("graft_glog_keys").toString
    // segment-b10 sorts before segment-b2 by name but holds later offsets
    segment(in, "segment-b2", Seq(rec(0, null, 100, 1), rec(1, "a", 100, 5),
      rec(2, "tie", 200, 7), rec(3, null, 150, 2), rec(4, "b", 300, 9)))
    segment(in, "segment-b10", Seq(rec(5, "a", 400, 10), rec(6, "tie", 200, 7),
      rec(7, null, 120, 3), rec(8, "c", 50, 11), rec(9, "b", 250, 12),
      rec(10, "tie2", 60, 13), rec(11, "tie2", 60, 13)))
    // and a second partition, compacted independently
    segment(in, "segment-b2", Seq(Glog.Rec("t", 1L, 0L, 20L, 10L, "a", "w0"),
      Glog.Rec("t", 1L, 1L, 21L, 10L, "a", "w1")))
    val out = freshPath("graft_glog_keys_c")
    graft.sources.GlogOps.compactStore(spark, in, out)
    // null keys are one key (latest: offset 3); "a" is superseded in the
    // later segment; a full (tms, event_id) tie goes to the higher offset,
    // across segments and within one; "b" keeps offset 4, whose tms is
    // newer than offset 9's
    assert(readAll(out).map(r => (r.part, r.offs, r.v)) == Seq(
      (0L, 3L, "v3"), (0L, 4L, "v4"), (0L, 5L, "v5"), (0L, 6L, "v6"), (0L, 8L, "v8"),
      (0L, 11L, "v11"), (1L, 1L, "w1")))
    // the batch path agrees with the cleaner on the same records
    val w = org.apache.spark.sql.expressions.Window.partitionBy("topic", "part", "k")
      .orderBy(col("tms").desc, col("event_id").desc, col("offs").desc)
    val ref = spark.read.format("glog").load(in)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("topic", "part", "offs").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ref.sorted.toSeq == readAll(out).map(r => (r.part, r.offs)))
  }

  test("compaction ignores temp files and markers, skips an empty store, rejects overlaps") {
    def rec(offs: Long, k: String) = Glog.Rec("t", 0L, offs, offs, offs, k, s"v$offs")
    val in = java.nio.file.Files.createTempDirectory("graft_glog_store").toString
    segment(in, "segment-b0", Seq(rec(0, "a"), rec(1, "b")))
    val pDir = java.nio.file.Paths.get(in, "topic=t", "part=0")
    // a zombie attempt's temp file whose records would change the result,
    // and _SUCCESS markers at the root and in the partition directory
    segment(in, "segment-b1", Seq(rec(2, "a")))
    java.nio.file.Files.move(pDir.resolve("segment-b1.glog"),
      pDir.resolve(".segment-b1.glog.tmp-zombie"))
    for (d <- Seq(java.nio.file.Paths.get(in), pDir))
      java.nio.file.Files.createFile(d.resolve("_SUCCESS"))
    val out = freshPath("graft_glog_store_c")
    graft.sources.GlogOps.compactStore(spark, in, out)
    assert(readAll(out).map(_.offs) == Seq(0L, 1L))
    // a compaction commits one file: the segment
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(out, "topic=t", "part=0"))
      .toArray.map(_.toString.split('/').last).sorted.toSeq == Seq("segment-0.glog"))
    // a store with no partition directories writes nothing
    val empty = java.nio.file.Files.createTempDirectory("graft_glog_empty")
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    val emptyOut = freshPath("graft_glog_empty_c")
    graft.sources.GlogOps.compactStore(spark, empty.toString, emptyOut)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(emptyOut)))
    // overlapping offset ranges: a glog partition is append-only
    segment(in, "segment-b2", Seq(rec(1, "c"), rec(5, "d")))
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.GlogOps.compactStore(spark, in, freshPath("graft_glog_overlap"))
    }
    assert(e.getMessage.contains("topic=t/part=0 is not append-only"), e.getMessage)
  }

  test("compaction is one job, one task per partition directory, no shuffle") {
    import org.apache.spark.scheduler._
    val dirs = Glog.listEnds(store, spark.sparkContext.hadoopConfiguration).size
    val (group, marker) = ("glog-compaction-shape", "glog-compaction-shape-end")
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.add(e.jobId)
            e.stageIds.foreach(stages.add(_))
          case `marker` => drained.countDown()
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
            e.taskMetrics.shuffleReadMetrics.totalBytesRead)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "compaction shape")
      graft.sources.GlogOps.compactStore(spark, store, freshPath("graft_glog_shape"))
      // Listener events arrive in order but asynchronously: once a later
      // job's start is seen, every compaction event has been.
      sc.setJobGroup(marker, "compaction shape: drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.size == 1)
    assert(tasks.get() == dirs)
    assert(shuffleBytes.get() == 0L)
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

/** The raw local filesystem under the `glogtest` scheme, which
  * [[graft.Tables.localPath]] does not call local: a store there takes the
  * glog paths that ship the session's Hadoop configuration and commit
  * through `FileSystem.create` and `rename`.
  */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("glogtest:///")
}
