package graftbench

import graft.Tables
import graft.coordinator.GroupMetadataCodec
import graft.functions.NativeFunctions
import graft.log.BatchCodec
import graft.sources.Glog
import org.apache.spark.sql.SparkSession

/** Layer probes for the traced run: each times one layer in isolation
  * through its public entry point, over inputs made here, and reports a
  * median over repeats.
  */
object Layers {
  private def medianNanos(reps: Int)(body: => Any): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })

  /** An aggregate over a call of each of `NativeFunctions.all`, over the
    * probe frame's columns: `max` of its hash, or of its size for the two
    * that return maps (xxhash64 refuses maps).
    */
  val nativeCalls: Map[String, String] = Map(
    "minhash_sig" -> "max(xxhash64(minhash_sig(ga)))",
    "vec_dot" -> "max(xxhash64(vec_dot(va, vb)))",
    "gram_hashes" -> "max(xxhash64(gram_hashes(text, 3, 2147483647)))",
    "simhash48" -> "max(xxhash64(simhash48(toks)))",
    "jaccard_sorted" -> "max(xxhash64(jaccard_sorted(ga, gb)))",
    "intersect_sorted" -> "max(xxhash64(intersect_sorted(ga, gb)))",
    "gram_counts" -> "max(size(gram_counts(text, 3)))",
    "array_counts" -> "max(size(array_counts(toks)))")

  /** ns per row of each native function, evaluated through `selectExpr`
    * over a cached frame built from the documents table.
    */
  def native(spark: SparkSession, docs: String, m: Metrics): Unit = {
    val frame = spark.read.parquet(docs)
      .selectExpr("explode(sequence(1, 2)) AS rep", "text", "doc_id")
      .selectExpr("text", "split(text, ' ') AS toks",
        "array_sort(gram_hashes(text, 3, 2147483647)) AS ga",
        "array_sort(gram_hashes(text, 4, 2147483647)) AS gb",
        "transform(sequence(1, 64), i -> cast((i * (doc_id + rep)) % 97 AS double) / 97) AS va",
        "transform(sequence(1, 64), i -> cast((i + doc_id * rep) % 89 AS double) / 89) AS vb")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val rows = frame.count().toDouble
    NativeFunctions.all.foreach { case (name, _, _) =>
      val e = nativeCalls.getOrElse(name,
        throw new IllegalStateException(s"no probe call for native function $name"))
      val q = frame.selectExpr(e)
      // the median of three leaves out the first call's code generation
      m.put(s"native_ns_per_row.$name", medianNanos(3)(q.collect()) / rows, "ns")
    }
    frame.unpersist(blocking = true)
  }

  /** In-memory codec throughput: glog batches, the log BatchCodec and the
    * group-metadata codec.
    */
  def codecs(recs: Seq[Glog.Rec], m: Metrics): Unit = {
    // batches hold consecutive offsets of one partition, as the writer makes them
    val byPart = recs.groupBy(r => (r.topic, r.part)).toSeq.sortBy(_._1).map(_._2.sortBy(_.offs))
    val groups = byPart.flatMap(_.grouped(Glog.MaxBatch))
    val encoded = groups.map(Glog.encodeBatch)
    val bytes = encoded.map(_.length.toLong + 4).sum.toDouble
    val encNs = medianNanos(7)(groups.foreach(Glog.encodeBatch))
    m.put("glog_encode_mb_s", bytes / 1048576 / (encNs / 1e9), "MB/s")
    val segment = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      encoded.foreach { b => out.writeInt(b.length); out.write(b) }
      out.flush(); bos.toByteArray
    }
    val decNs = medianNanos(7) {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(segment))
      Glog.readSegment(in, "t", 0, Long.MinValue).foreach(_ => ())
    }
    m.put("glog_decode_mb_s", bytes / 1048576 / (decNs / 1e9), "MB/s")

    val logRecs = byPart.flatMap(_.grouped(BatchCodec.MaxBatch)).map(_.map(r =>
      BatchCodec.LogRec(r.topic, r.part, r.offs, r.k, r.v)))
    val n = logRecs.map(_.size).sum.toDouble
    val batches = logRecs.map(BatchCodec.encodeGroup)
    m.put("batchcodec_encode_ns_per_rec",
      medianNanos(7)(logRecs.foreach(BatchCodec.encodeGroup)) / n, "ns")
    m.put("batchcodec_decode_ns_per_rec",
      medianNanos(7)(batches.foreach(BatchCodec.decodeBatch)) / n, "ns")

    // the group coordinator's codec: one offset-commit record and one
    // group-metadata record, keys and values
    val members = (0 until 8).map(i => GroupMetadataCodec.MemberMeta(s"member-$i",
      s"client-$i", s"/10.0.0.$i", 300000, 10000, Array.fill(24)(i.toByte),
      Array.fill(48)(i.toByte)))
    def encode() = (GroupMetadataCodec.offsetCommitKey("group-1", "orders", 3),
      GroupMetadataCodec.offsetCommitValue(4242L, "meta", 1700000000000L, 1700086400000L),
      GroupMetadataCodec.groupMetadataKey("group-1"),
      GroupMetadataCodec.groupMetadataValue("consumer", 7, Some("range"), Some("member-0"),
        members))
    val (ok, ov, gk, gv) = encode()
    val reps = 2000
    m.put("gmcodec_encode_ns", medianNanos(7)((0 until reps).foreach(_ => encode())) / reps, "ns")
    m.put("gmcodec_decode_ns", medianNanos(7)((0 until reps).foreach { _ =>
      GroupMetadataCodec.decodeKey(ok); GroupMetadataCodec.decodeOffsetValue(ov)
      GroupMetadataCodec.decodeKey(gk); GroupMetadataCodec.decodeGroupValue(gv)
    }) / reps, "ns")
  }

  /** `Tables.fingerprint` and `Tables.t` on first and repeated calls, over
    * a private copy of the tables so the first calls are really first.
    */
  def tables(spark: SparkSession, copyDir: String, m: Metrics): Unit = {
    val names = Tables.all
    def first(f: String => Any) = Stats.median(names.map { n =>
      val t0 = System.nanoTime(); f(n); (System.nanoTime() - t0) / 1e6
    })
    def repeat(f: String => Any) = Stats.median(names.map(n => medianNanos(15)(f(n)) / 1e6))
    m.put("fingerprint_first_ms", first(Tables.fingerprint(spark, copyDir, _)), "ms")
    m.put("fingerprint_repeat_ms", repeat(Tables.fingerprint(spark, copyDir, _)), "ms")
    m.put("reader_plan_first_ms", first(Tables.t(spark, copyDir, _)), "ms")
    m.put("reader_plan_repeat_ms", repeat(Tables.t(spark, copyDir, _)), "ms")
  }
}
