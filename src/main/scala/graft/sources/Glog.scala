package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.util.concurrent.atomic.AtomicLong

import graft.log.LogOps
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** `glog` — the engine's own segment file format for the partitioned log,
  * the storage-engine analog of the reference's entry formats
  * (/root/reference/kafka-impl/.../format/EntryFormatter.java) and ledger
  * layout (storage/PartitionLog.java): one directory per (topic, part),
  * segment files of length-prefixed record batches (magic, CRC32C, count,
  * base offset, max timestamp, max offset, then per record offset-delta /
  * timestamp / event id / framed key / framed value).
  *
  * The layout IS the index: topic/part predicates prune whole directories
  * before a byte is read, and each batch's header carries enough (base
  * and max offset) to skip it on an offset bound without decoding
  * records — exactly how the reference's fetch path seeks by offset.
  * [[GlogSource]] exposes it to Spark as a DataSource V2 table.
  *
  * Integrity lives in the format: every batch a reader decodes is checked
  * against its header's CRC32C (utils/KopLogValidator.java's record-batch
  * CRC), whatever filesystem holds the segment. Local stores (no scheme or
  * `file:`, the rule of [[graft.Tables.localPath]]) are written through
  * java.nio; other schemes go through the Hadoop FileSystem API.
  */
object Glog {

  /** v3 header: magic, count, base offset. Still readable. */
  val Magic: Byte = 3
  /** v4 header adds the batch's max timestamp — the segment-embedded
    * time index (Kafka's .timeindex analog): a reader with a `tms` lower
    * bound skips whole batches from the header without decoding records,
    * exactly like the offset skip.
    */
  val MagicT: Byte = 4
  /** v5 header adds the batch's max offset. Offsets inside a batch need
    * not be dense — a compacted store keeps each surviving record at its
    * original offset — so base + count is not a bound on them; the offset
    * skip and [[endOffset]] use this field. v3/v4 batches were only ever
    * written dense: their max offset is base + count - 1.
    */
  val MagicO: Byte = 5
  /** v6 header adds a CRC32C right after the magic, over the header fields
    * that follow it and the body, as Kafka's record-batch CRC covers its
    * batch from the attributes on. It replaces the `.crc` files Hadoop's
    * checksummed local filesystem wrote beside v3-v5 segments, which that
    * filesystem's reader still verifies. The batch writer's format.
    */
  val MagicC: Byte = 6
  val MaxBatch = 100

  private def headerLen(magic: Byte): Int = magic match {
    case Magic => 13
    case MagicT => 21
    case MagicO => 29
    case MagicC => 33
    case m => throw new IllegalArgumentException(s"bad magic $m")
  }

  final case class Rec(topic: String, part: Long, offs: Long,
      event_id: Long, tms: Long, k: String, v: String)

  /** The Hadoop configuration a glog task opens its stores with, as the
    * task carries it. When every store it touches is local
    * ([[graft.Tables.localPath]]) it carries none: a shipped
    * `Configuration` costs one gzip inflate per property to deserialize,
    * the largest part of a small glog task's CPU. Such a task gets an
    * empty `Configuration`, under which Hadoop resolves a local path to
    * the JVM's cached checksummed local filesystem, with the same open and
    * list calls (so the `.crc` check on v3-v5 segments is unchanged). Any
    * other scheme ships the session's conf.
    */
  final class TaskConf private (shipped: Option[SerializableConfiguration])
      extends Serializable {
    @transient private lazy val empty = new Configuration(false)
    def value: Configuration = shipped.fold(empty)(_.value)
  }

  object TaskConf {
    /** What a task that reads or writes the stores at `paths` carries. */
    def apply(spark: SparkSession, paths: String*): TaskConf =
      new TaskConf(
        if (paths.forall(graft.Tables.localPath(_).isDefined)) None
        else Some(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)))
  }

  /** Test/diagnostic counters (single-JVM): batches decoded vs skipped by
    * the offset lower bound across all readers since last reset, and the
    * payload (key/value) bytes actually DECODED into strings — a
    * projection that needs neither stays at zero while the fixed-width
    * record headers stream past.
    */
  val batchesRead = new AtomicLong(0)
  val batchesSkipped = new AtomicLong(0)
  val payloadBytesDecoded = new AtomicLong(0)

  private def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skipBytes(left)
      if (s <= 0) { in.readByte(); left -= 1 } else left -= s
    }
  }

  def encodeBatch(recs: Seq[Rec]): Array[Byte] = {
    require(recs.nonEmpty, "empty record batch")
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val first = recs.head.offs
    out.writeByte(MagicC)
    out.writeInt(0) // the CRC, set below
    out.writeInt(recs.size)
    out.writeLong(first)
    out.writeLong(recs.iterator.map(_.tms).max)
    out.writeLong(recs.iterator.map(_.offs).max)
    recs.foreach { r =>
      val delta = r.offs - first
      require(delta >= 0 && delta <= Int.MaxValue, s"bad offset delta $delta")
      out.writeInt(delta.toInt)
      out.writeLong(r.tms)
      out.writeLong(r.event_id)
      def frame(s: String): Unit =
        if (s == null) out.writeInt(-1)
        else {
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(b.length); out.write(b)
        }
      frame(r.k)
      frame(r.v)
    }
    out.flush()
    val batch = bos.toByteArray
    val crc = new java.util.zip.CRC32C()
    crc.update(batch, 5, batch.length - 5)
    java.nio.ByteBuffer.wrap(batch).putInt(1, crc.getValue.toInt)
    batch
  }

  /** One batch header: the body length after the header, the record
    * count, the base (= lowest) offset, the max timestamp (Long.MaxValue
    * for v3, which has none), the max offset and the CRC (0 before v6).
    * Only v5 and later headers carry the max offset; for v3/v4 it is
    * Long.MaxValue, unknown, because a store compacted before v5 wrote
    * gapped v4 batches whose offsets run past base + count.
    */
  private final case class Header(magic: Byte, bodyLen: Int, n: Int,
      base: Long, maxTms: Long, maxOffs: Long, crc: Int)

  /** The next batch header off the stream, or None at its end. A stream
    * that ends inside a length prefix is truncated, not ended.
    */
  private def nextHeader(in: DataInputStream): Option[Header] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val batchLen = b0 << 24 | in.readUnsignedByte() << 16 |
      in.readUnsignedByte() << 8 | in.readUnsignedByte()
    val magic = in.readByte()
    val bodyLen = batchLen - headerLen(magic)
    val crc = if (magic >= MagicC) in.readInt() else 0
    val n = in.readInt()
    val base = in.readLong()
    val maxTms = if (magic == Magic) Long.MaxValue else in.readLong()
    val maxOffs = if (magic >= MagicO) in.readLong() else Long.MaxValue
    Some(Header(magic, bodyLen, n, base, maxTms, maxOffs, crc))
  }

  /** A batch body off the stream. A length past the stream's end (a
    * truncated segment or a corrupt length prefix) fails; one over 1 MiB
    * is read in chunks, so a corrupt prefix never allocates its claim.
    */
  private def readBody(in: DataInputStream, n: Int, seg: String): Array[Byte] = {
    if (n < 0) throw new java.io.IOException(s"bad glog batch length in $seg")
    val body =
      if (n <= (1 << 20)) { val b = new Array[Byte](n); in.readFully(b); b }
      else in.readNBytes(n)
    if (body.length < n) throw new EOFException(
      s"glog batch truncated in $seg: ${body.length} of $n body bytes")
    body
  }

  /** Fail unless a v6 batch's body and header agree with its CRC32C. */
  private def checkCrc(h: Header, body: Array[Byte], seg: String): Unit =
    if (h.magic >= MagicC) {
      val crc = new java.util.zip.CRC32C()
      crc.update(java.nio.ByteBuffer.allocate(28).putInt(h.n).putLong(h.base)
        .putLong(h.maxTms).putLong(h.maxOffs).array())
      crc.update(body)
      if (crc.getValue.toInt != h.crc) throw new java.io.IOException(
        f"glog batch CRC32C mismatch in $seg at base offset ${h.base}: " +
          f"stored ${h.crc}%08x, computed ${crc.getValue.toInt}%08x")
    }

  /** Iterate a segment stream's records with `fromOffs <= offs <
    * untilOffs` and `tms >= minTms`, exactly: the scan hands these bounds
    * to Spark as applied. Batches entirely below `fromOffs`, at/after
    * `untilOffs` or before `minTms` are skipped from their headers without
    * decoding (or even buffering) the records — the header is read off the
    * stream and the body is `skip`ped, so an offset/time seek never copies
    * payload bytes (the [from, until) window is how a micro-batch reads
    * its slice). The records of a decoded batch are filtered on all three
    * bounds. A v3/v4 batch has no max offset in its header, so the
    * lower-bound skip does not apply to it: it is decoded and filtered.
    *
    * `needK` / `needV` thread the scan's column pruning down to the codec:
    * a projection that reads neither key nor value (a count, an offset
    * rollup) hops over each record body via its length prefixes instead of
    * materializing strings that the scan would immediately drop — the
    * payload is the dominant byte volume, so a metadata-only query decodes
    * ~0% of the store (GlogSpec pins payloadBytesDecoded == 0 for it).
    *
    * Every decoded v6 batch is checked against its CRC32C first; a
    * mismatch fails the read with an IOException naming `seg`. Skipped
    * batches are not checked: a skip reads the header only.
    */
  def readSegment(in: DataInputStream, topic: String, part: Long,
      fromOffs: Long, untilOffs: Long = Long.MaxValue,
      minTms: Long = Long.MinValue,
      needK: Boolean = true, needV: Boolean = true,
      seg: String = "glog segment"): Iterator[Rec] =
    new Iterator[Rec] {
    private var cur: Iterator[Rec] = Iterator.empty
    private def advance(): Unit = {
      while (!cur.hasNext) {
        val h = nextHeader(in) match {
          case Some(h) => h
          case None => return
        }
        // Header-only skip: the whole batch sits below the requested
        // offset or at/after its upper bound, or every record in it
        // predates the time lower bound. The body streams past unbuffered.
        if (h.maxOffs < fromOffs || h.base >= untilOffs || h.maxTms < minTms) {
          batchesSkipped.incrementAndGet()
          skipFully(in, h.bodyLen)
        } else {
          batchesRead.incrementAndGet()
          val body = readBody(in, h.bodyLen, seg)
          checkCrc(h, body, seg)
          val b = new DataInputStream(new java.io.ByteArrayInputStream(body))
          def str(need: Boolean): String = {
            val len = b.readInt()
            if (len < 0) null
            else if (!need) { b.skipBytes(len); null }
            else {
              val bs = new Array[Byte](len); b.readFully(bs)
              payloadBytesDecoded.addAndGet(len.toLong)
              new String(bs, java.nio.charset.StandardCharsets.UTF_8)
            }
          }
          val recs = Array.fill(h.n) {
            val delta = b.readInt()
            val tms = b.readLong()
            val eid = b.readLong()
            val kk = str(needK)
            val vv = str(needV)
            Rec(topic, part, h.base + delta, eid, tms, kk, vv)
          }
          // The skip above trusts a v5+ header's max offset; a batch whose
          // records disagree with it is corrupt.
          require(h.magic < MagicO || h.n == 0 ||
            recs.iterator.map(_.offs).max == h.maxOffs, "bad batch header")
          cur = recs.iterator.filter(r =>
            r.offs >= fromOffs && r.offs < untilOffs && r.tms >= minTms)
        }
      }
    }
    def hasNext: Boolean = { advance(); cur.hasNext }
    def next(): Rec = { advance(); cur.next() }
  }

  /** End offset (exclusive) of one (topic, part) directory: one past the
    * max offset over its segment batch headers — a header-only scan
    * that skips every payload (the glog analog of a log-end-offset
    * lookup). A v3/v4 batch has no max offset in its header; its record
    * offset deltas are walked instead, payloads still skipped. On a
    * compacted store this is the max surviving offset + 1.
    */
  def endOffset(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    var end = 0L
    segmentFiles(fs, dir).foreach { seg =>
      val in = new DataInputStream(fs.open(seg.getPath))
      try {
        var h = nextHeader(in)
        while (h.isDefined) {
          val hd = h.get
          val maxOffs =
            if (hd.magic >= MagicO) { skipFully(in, hd.bodyLen); hd.maxOffs }
            else {
              var mx = hd.base - 1
              for (_ <- 0 until hd.n) {
                mx = math.max(mx, hd.base + in.readInt())
                skipFully(in, 16) // tms, event id
                for (_ <- 0 to 1) skipFully(in, math.max(in.readInt(), 0))
              }
              mx
            }
          end = math.max(end, maxOffs + 1)
          h = nextHeader(in)
        }
      } finally in.close()
    }
    end
  }

  /** The segment files of one (topic, part) directory: every `*.glog`,
    * and nothing else — not in-flight `.*.tmp-*` files, not markers, not
    * the `.glogx` stats files that stores written by earlier versions
    * still hold (the batch headers carry the same bounds).
    */
  def segmentFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".glog"))

  /** The directory of one (topic, part) in the store at `root`. */
  def partitionDir(root: String, topic: String, part: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$root/topic=$topic/part=$part")

  /** The `topic=<t>/part=<p>` directories of a store, as (topic, part,
    * directory). The store root must exist.
    */
  def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(String, String, org.apache.hadoop.fs.Path)] =
    for {
      tDir <- fs.listStatus(root).toSeq
      if tDir.isDirectory && tDir.getPath.getName.startsWith("topic=")
      pDir <- fs.listStatus(tDir.getPath).toSeq
      if pDir.isDirectory && pDir.getPath.getName.startsWith("part=")
    } yield (tDir.getPath.getName.stripPrefix("topic="),
      pDir.getPath.getName.stripPrefix("part="), pDir.getPath)

  /** Topic names become directory names and "topic/part" offset-map keys;
    * reject names that cannot round-trip through either.
    */
  def validateTopic(topic: String): Unit =
    require(storableTopic(topic), s"glog topic name not storable as a directory: '$topic'")

  /** Whether a topic name can be a glog directory name. */
  def storableTopic(topic: String): Boolean =
    topic != null && topic.nonEmpty && !topic.exists(("/\\" + '\u0000').contains(_))

  /** Executor-side segment writer: one shuffle onto (topic, part),
    * offset-sorted, then one [[writeSegment]] per (topic, part), with no
    * driver involvement. A local store is written through java.nio and
    * its tasks carry no Hadoop configuration ([[TaskConf]]); any other
    * scheme is written through the Hadoop FileSystem API with the
    * session's conf shipped to each task.
    */
  def writeSegments(ds: org.apache.spark.sql.Dataset[Rec], outPath: String,
      segName: String): Unit = {
    val hconf = TaskConf(ds.sparkSession, outPath)
    import org.apache.spark.sql.functions.col
    ds.repartition(col("topic"), col("part"))
      .sortWithinPartitions("topic", "part", "offs")
      .foreachPartition { (it: Iterator[Rec]) =>
        val in = it.buffered
        while (in.hasNext) {
          val head = in.head
          val same = new Iterator[Rec] {
            def hasNext: Boolean = in.hasNext && in.head.topic == head.topic &&
              in.head.part == head.part
            def next(): Rec = in.next()
          }
          writeSegment(hconf.value, outPath, segName, head.topic, head.part, same)
        }
      }
  }

  /** Write segment `segName` of one (topic, part) of the store at
    * `outPath` from `recs`, that partition's records in ascending offset
    * order, as [[MaxBatch]]-record v6 batches: one file per commit, whose
    * batch headers are the only index and carry its checksums. Writes
    * nothing when `recs` is empty. This is the store's one commit path;
    * [[writeSegments]] and [[GlogOps.compactStore]] both end here.
    *
    * Commit protocol: the segment is written to a task-attempt-unique
    * hidden temp file and renamed into place on success, so a speculative
    * or zombie duplicate attempt can never interleave bytes with the
    * winner — the same staging+commit discipline Spark's file sources use.
    * Readers only see `*.glog`, never the in-flight `.*.tmp-*` files.
    *
    * A local store ([[graft.Tables.localPath]]) is written with
    * `Files.newOutputStream` and published with `Files.move(ATOMIC_MOVE)`:
    * no process is forked (Hadoop's local filesystem runs `chmod` per
    * create without its native library) and no `.crc` file is written.
    * Any other scheme goes through `FileSystem.create` and `rename` with
    * `conf`, which a local store's commit never reads.
    */
  def writeSegment(conf: org.apache.hadoop.conf.Configuration, outPath: String,
      segName: String, topic: String, part: Long, recs: Iterator[Rec]): Unit = {
    if (!recs.hasNext) return
    validateTopic(topic)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"${tc.stageId()}-${tc.taskAttemptId()}")
      .getOrElse("driver")
    val seg = s"$segName.glog"
    val tmp = s".$seg.tmp-$attempt"
    def writeBatches(os: java.io.OutputStream): Unit = {
      val out = new DataOutputStream(os)
      try {
        while (recs.hasNext) {
          val group = scala.collection.mutable.ArrayBuffer[Rec]()
          while (recs.hasNext && group.size < MaxBatch) group += recs.next()
          val bytes = encodeBatch(group.toSeq)
          out.writeInt(bytes.length)
          out.write(bytes)
        }
      } finally out.close()
    }
    // Publish with a rename-ONLY commit: a delete-then-rename pair
    // would open a window in which a concurrent reader (listEnds in
    // the streaming source's latestOffset, the sink's offset
    // assignment) lists the directory, misses a committed segment,
    // and computes a shrunken end offset. Retried batches drop
    // their stale segments up front (dropBatchSegments), so a
    // rename that loses because the destination exists is a
    // concurrent duplicate attempt with identical bytes — drop
    // ours and let theirs stand.
    graft.Tables.localPath(outPath) match {
      case Some(root) =>
        import java.nio.file.{Files, StandardCopyOption}
        val dir = root.resolve(s"topic=$topic").resolve(s"part=$part")
        Files.createDirectories(dir)
        writeBatches(new java.io.BufferedOutputStream(
          Files.newOutputStream(dir.resolve(tmp)), 1 << 16))
        // The `.crc` an older writer left beside a segment of this name
        // would fail the Hadoop reader's check of the new bytes.
        Files.deleteIfExists(dir.resolve(s".$seg.crc"))
        try Files.move(dir.resolve(tmp), dir.resolve(seg), StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: java.io.IOException =>
            Files.deleteIfExists(dir.resolve(tmp))
            if (!Files.exists(dir.resolve(seg))) throw new java.io.IOException(
              s"glog segment commit failed for ${dir.resolve(seg)}", e)
        }
      case None =>
        val dir = partitionDir(outPath, topic, part)
        val (segPath, tmpPath) =
          (new org.apache.hadoop.fs.Path(dir, seg), new org.apache.hadoop.fs.Path(dir, tmp))
        val pfs = segPath.getFileSystem(conf)
        writeBatches(pfs.create(tmpPath, true))
        if (!pfs.rename(tmpPath, segPath)) {
          pfs.delete(tmpPath, false)
          require(pfs.exists(segPath), s"glog segment commit failed for $segPath")
        }
    }
  }

  /** Write the canonical log view of `dir` as a glog store at `outPath`
    * (one `segment-0` per partition). Whether a store is current is the
    * caller's rule; [[GlogOps.glogRead]] keeps its copy in a
    * [[graft.Tables.store]].
    */
  def materialize(spark: SparkSession, dir: String, outPath: String): Unit = {
    import spark.implicits._
    writeSegments(LogOps.logView(spark, dir).as[Rec], outPath, "segment-0")
  }

  /** Delete `segment-b<id>.glog` files with id >= fromBatchId (and stale
    * temp files) across the store — the recovery step that makes the
    * streaming sink's foreachBatch idempotent: a retried or re-delivered
    * micro-batch first clears anything a previous attempt of the same (or
    * a later, rolled-back) batch wrote, so the end offsets it reads from
    * [[listEnds]] reflect only fully committed earlier batches.
    */
  def dropBatchSegments(path: String,
      conf: org.apache.hadoop.conf.Configuration, fromBatchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    val seg = "segment-b(\\d+)\\.glog".r
    for {
      (_, _, pDir) <- partitionDirs(fs, root)
      f <- fs.listStatus(pDir)
      name = f.getPath.getName
    } name match {
      case seg(id) if id.toLong >= fromBatchId => fs.delete(f.getPath, false)
      case _ if name.startsWith(".") && name.contains(".tmp-") =>
        fs.delete(f.getPath, false)
      case _ => ()
    }
  }

  /** Current end offsets per "topic/part" directory of a store (empty map
    * for a store that does not exist yet) — shared by the streaming
    * source (latestOffset) and the streaming sink (offset assignment).
    */
  def listEnds(path: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    partitionDirs(fs, root).map { case (topic, part, pDir) =>
      s"$topic/$part" -> endOffset(fs, pDir)
    }.toMap
  }
}
