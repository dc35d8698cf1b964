package graft.sources

import java.io.DataInputStream

import graft.log.LogOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-checked query over the [[Glog]] store: materialize the log into
  * the engine's own segment format, read it back through the DataSource V2
  * connector, and verify the round trip hash-exactly against the DuckDB
  * oracle computing the same log view from the raw events.
  */
object GlogOps {

  /** The log view of `dir` read back from its glog copy. The copy is a
    * [[graft.Tables.store]] keyed by the dataset and the `events` content
    * fingerprint, under a name that carries the batch format
    * ([[Glog.MagicC]]): rewritten events, another dataset or a new batch
    * header each read their own build, and a copy without its completion
    * marker is rebuilt, never read.
    */
  def glogRead(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Tables.store(spark, s"graft_glog_v${Glog.MagicC}", dir,
      "events")(r => Glog.materialize(spark, dir, r.toString))
    spark.read.format("glog").load(root.toString)
      .select("topic", "part", "offs", "event_id", "tms", "k", "v")
  }

  /** Time-bounded fetch through the store: the same DSv2 read with a
    * pushed `tms` lower bound, so each batch header's max timestamp (v4
    * and later; v6 today) skips whole batches payload-free (the
    * ListOffsets-by-time -> fetch path end to end over the engine's own
    * storage; Kafka's .timeindex seek). Hash-exact against DuckDB
    * filtering the log view the store was built from.
    */
  def glogFetchTime(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // One source of truth for the store path/format/projection: the tms
    // bound still pushes through glogRead's select into the DSv2 scan.
    glogRead(spark, dir)
      .filter(col("tms") >= 1705276800000L) // 2024-01-15 00:00 UTC
  }

  /** Store-level compaction (Kafka's LogCleaner as a batch rewrite): read
    * a glog store, keep the latest record per (topic, part, key) with its
    * ORIGINAL offset (compaction never renumbers), and write a compacted
    * store `segment-0` per partition — offsets inside segments stay
    * ordered, so header-based offset seeks keep working on the gaps.
    *
    * One Spark job with one task per `topic=/part=` directory of the
    * input; the store's layout already partitions the work, so there is
    * no shuffle, window or sort. Each task makes two passes over its
    * directory's segments:
    *  1. keys only (`needV = false`): an offset map from each key to the
    *     (tms, event_id, offs) of its latest record. Null keys are one
    *     key. Memory is bounded by the partition's distinct keys; values
    *     are never held.
    *  2. the segments again in ascending first-offset order (not name
    *     order: `segment-b10` sorts before `segment-b2`), streaming each
    *     record the map names, at its original offset, into
    *     [[Glog.writeSegment]] — the same commit path appends use.
    *
    * "Latest" is the engine-wide (tms, event_id) rule — deliberately the
    * same survivor LogOps.compact and Streams.latestPerKey pick (and the
    * specs pin), NOT Kafka's highest-offset rule; the three compaction
    * paths must agree with each other first. A full (tms, event_id) tie
    * goes to the higher offset, so the survivor is always unique.
    *
    * A glog partition is append-only: its offsets strictly increase
    * through its segments in first-offset order. A directory where they
    * do not (overlapping or unsorted segments) fails the job with an
    * IllegalStateException naming the directory. An input store with no
    * partition directories writes nothing.
    *
    * A task carries its directory, its (topic, part) and the two paths.
    * When both stores are local it carries no Hadoop configuration
    * ([[Glog.TaskConf]]); otherwise it carries the session's conf.
    */
  def compactStore(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val root = new Path(inPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = Glog.partitionDirs(fs, root)
      .map { case (topic, part, dir) => (topic, part.toLong, dir.toString) }
    if (dirs.isEmpty) return
    val hconf = Glog.TaskConf(spark, inPath, outPath)
    spark.sparkContext.parallelize(dirs, dirs.size).foreach {
      case (topic, part, dir) =>
        cleanPartition(hconf.value, topic, part, new Path(dir), outPath)
    }
  }

  /** The rank fields of a key's latest record so far. */
  private final class Latest(var tms: Long, var eventId: Long, var offs: Long)

  /** Both passes of [[compactStore]] over one partition directory. */
  private def cleanPartition(conf: Configuration, topic: String, part: Long,
      dir: Path, outPath: String): Unit = {
    val fs = dir.getFileSystem(conf)
    def open(seg: Path) = new DataInputStream(fs.open(seg))
    // Pass 1: the offset map, and each segment's offset range.
    val latest = new java.util.HashMap[String, Latest]()
    val ranges = Glog.segmentFiles(fs, dir).flatMap { st =>
      val in = open(st.getPath)
      try {
        var lo = Long.MaxValue
        var hi = Long.MinValue
        Glog.readSegment(in, topic, part, Long.MinValue, needV = false,
            seg = st.getPath.toString).foreach { r =>
          if (r.offs <= hi) throw new IllegalStateException(
            s"glog partition $dir is not append-only: offset ${r.offs} " +
              s"follows $hi in ${st.getPath.getName}")
          if (lo == Long.MaxValue) lo = r.offs
          hi = r.offs
          val l = latest.get(r.k)
          if (l == null) latest.put(r.k, new Latest(r.tms, r.event_id, r.offs))
          else if (r.tms > l.tms || r.tms == l.tms && (r.event_id > l.eventId ||
              r.event_id == l.eventId && r.offs > l.offs)) {
            l.tms = r.tms; l.eventId = r.event_id; l.offs = r.offs
          }
        }
        if (hi == Long.MinValue) None else Some((st.getPath, lo, hi))
      } finally in.close()
    }.sortBy(_._2)
    ranges.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
      if (a._3 >= b._2) throw new IllegalStateException(
        s"glog partition $dir is not append-only: ${a._1.getName} " +
          s"[${a._2}, ${a._3}] overlaps ${b._1.getName} [${b._2}, ${b._3}]")
    }
    // Pass 2: the survivors, streamed in offset order. Each segment's
    // stream closes when it is exhausted; the finally covers a failure.
    val opened = scala.collection.mutable.ArrayBuffer.empty[DataInputStream]
    try {
      val survivors = ranges.iterator.flatMap { case (seg, _, _) =>
        val in = open(seg)
        opened += in
        Glog.readSegment(in, topic, part, Long.MinValue, seg = seg.toString)
          .filter(r => latest.get(r.k).offs == r.offs) ++ { in.close(); Iterator.empty }
      }
      Glog.writeSegment(conf, outPath, "segment-0", topic, part, survivors)
    } finally opened.foreach(_.close())
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "glog_read" -> glogRead,
    "glog_fetch_time" -> glogFetchTime)

  val oracles: Map[String, String] = Map(
    "glog_read" -> (LogOps.logSql +
      "SELECT topic, part, offs, event_id, tms, k, v FROM log"),
    "glog_fetch_time" -> (LogOps.logSql +
      """SELECT topic, part, offs, event_id, tms, k, v FROM log
        |WHERE tms >= 1705276800000""".stripMargin))
}
