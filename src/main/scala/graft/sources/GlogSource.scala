package graft.sources

import java.io.DataInputStream
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the [[Glog]] segment format:
  * `spark.read.format("glog").load(path)`.
  *
  * A (topic, part) directory is the unit of reading, as the log's
  * partition is: planning lists the directories that pushed topic/part
  * equalities leave, without opening a file (both equalities name one
  * directory, which is all it lists), and plans one input partition per
  * directory holding all of its segment files. Pushed `offs` bounds and a
  * `tms` lower bound travel to the reader, whose v5+ batch headers skip
  * every batch outside them without decoding it — the reference's fetch
  * path (a bounded range scan of one topic-partition from an offset;
  * MessageFetchContext.java) expressed as a Spark source. Column pruning
  * drops unread fields before row materialization.
  *
  * The pushed filters are applied exactly, so Spark does not re-apply
  * them: `topic` and `part` equalities select directories, whose records
  * all carry that topic and part, and [[Glog.readSegment]] drops every
  * decoded record outside the `offs` and `tms` bounds. A residual with
  * inlined literals would make each fetch's generated code new, a
  * whole-stage compile per fetch. Every other filter stays a residual.
  */
class GlogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "glog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GlogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GlogTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object GlogSource {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("part", LongType),
    StructField("offs", LongType),
    StructField("event_id", LongType),
    StructField("tms", LongType),
    StructField("k", StringType),
    StructField("v", StringType)))

  /** Segment files in the directories planned by the most recent batch
    * scan (single-JVM test hook).
    */
  val lastPlannedFiles = new AtomicLong(-1)
}

class GlogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"glog:$path"
  override def schema(): StructType = GlogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GlogScanBuilder(path,
      options.getOrDefault("startingoffsets", "earliest")
        .equalsIgnoreCase("latest"),
      Option(options.get("maxrecordspertrigger")).map(_.toLong))
}

class GlogScanBuilder(path: String, startLatest: Boolean = false,
    maxPerTrigger: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = GlogSource.schema
  private var used: Array[Filter] = Array.empty
  private var topicEq: Option[String] = None
  private var partEq: Option[Long] = None
  private var fromOffs: Long = Long.MinValue
  private var untilOffs: Long = Long.MaxValue
  private var minTms: Long = Long.MinValue

  /** Keeps the filters the scan applies exactly and returns the rest as
    * residuals: `topic` and `part` equality, `offs` `>=`, `>`, `<`, `<=`
    * and `tms` `>=`, `>`, each against an integral literal where the
    * column is a number. Everything else (`k`, `v`, `tms <`, `In`,
    * `EqualNullSafe`, non-integral literals) stays with Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (exact, residual) = filters.partition(push)
    used ++= exact
    residual
  }
  override def pushedFilters(): Array[Filter] = used

  /** Narrow the scan by `f`; false when the scan cannot apply it exactly. */
  private def push(f: Filter): Boolean = {
    f match {
      case EqualTo("topic", t: String) =>
        if (topicEq.exists(_ != t)) selectNothing()
        topicEq = Some(t)
      case EqualTo("part", Integral(p)) =>
        if (partEq.exists(_ != p)) selectNothing()
        partEq = Some(p)
      case GreaterThanOrEqual("offs", Integral(o)) => fromOffs = math.max(fromOffs, o)
      case GreaterThan("offs", Integral(o)) =>
        if (o == Long.MaxValue) selectNothing() else fromOffs = math.max(fromOffs, o + 1)
      case LessThan("offs", Integral(o)) => untilOffs = math.min(untilOffs, o)
      // offs <= Long.MaxValue holds for every row: no bound
      case LessThanOrEqual("offs", Integral(o)) =>
        if (o != Long.MaxValue) untilOffs = math.min(untilOffs, o + 1)
      case GreaterThanOrEqual("tms", Integral(t)) => minTms = math.max(minTms, t)
      case GreaterThan("tms", Integral(t)) =>
        if (t == Long.MaxValue) selectNothing() else minTms = math.max(minTms, t + 1)
      case _ => return false
    }
    true
  }

  /** No offset is below Long.MinValue: the scan plans no partition. */
  private def selectNothing(): Unit = untilOffs = Long.MinValue

  /** A literal of an integral type, as a Long. */
  private object Integral {
    def unapply(v: Any): Option[Long] = v match {
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
          _: java.lang.Byte) => Some(n.asInstanceOf[Number].longValue())
      case _ => None
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GlogScan(path, required, topicEq, partEq, fromOffs, minTms,
      startLatest, maxPerTrigger, untilOffs)
}

/** One (topic, part) directory's segment files, read in turn. */
final case class GlogPartition(files: Seq[String], topic: String, part: Long,
    fromOffs: Long, untilOffs: Long = Long.MaxValue,
    minTms: Long = Long.MinValue) extends InputPartition

class GlogScan(path: String, required: StructType, topicEq: Option[String],
    partEq: Option[Long], fromOffs: Long,
    minTms: Long = Long.MinValue,
    startLatest: Boolean = false,
    maxPerTrigger: Option[Long] = None,
    untilOffs: Long = Long.MaxValue) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // Micro-batch execution builds its scan without pushing filters, so a
  // stream's scan has no bounds and Spark applies the query's filters.
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GlogMicroBatchStream(path, required, fromOffs, minTms, startLatest,
      maxPerTrigger)
  override def description(): String = {
    val t = topicEq.getOrElse("*")
    val p = partEq.map(_.toString).getOrElse("*")
    s"GlogScan path=$path topic=$t part=$p fromOffs=" +
      (if (fromOffs == Long.MinValue) "-inf" else fromOffs.toString) +
      " untilOffs=" + (if (untilOffs == Long.MaxValue) "inf" else untilOffs.toString) +
      " minTms=" + (if (minTms == Long.MinValue) "-inf" else minTms.toString)
  }

  /** One input partition per planned (topic, part) directory that holds
    * segment files. With both equalities pushed only that directory is
    * listed (a missing one plans nothing), as the micro-batch planner
    * does; otherwise the store is walked. Bounds no offset satisfies plan
    * nothing.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val root = new Path(path)
    val fs = root.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val dirs = (topicEq, partEq) match {
      case _ if fromOffs >= untilOffs => Seq.empty
      case (Some(t), Some(p)) =>
        if (Glog.storableTopic(t)) Seq((t, p, Glog.partitionDir(path, t, p))) else Seq.empty
      case _ =>
        for {
          (topic, part, dir) <- Glog.partitionDirs(fs, root)
          if topicEq.forall(_ == topic) && partEq.forall(_ == part.toLong)
        } yield (topic, part.toLong, dir)
    }
    val parts = for {
      (topic, part, dir) <- dirs
      files = (try Glog.segmentFiles(fs, dir)
        catch { case _: java.io.FileNotFoundException => Nil }).map(_.getPath.toString)
      if files.nonEmpty
    } yield GlogPartition(files, topic, part, fromOffs, untilOffs, minTms)
    GlogSource.lastPlannedFiles.set(parts.map(_.files.size.toLong).sum)
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GlogReaderFactory(required,
      Glog.TaskConf(org.apache.spark.sql.SparkSession.active, path))
}

/** Stream offset: the end offset (exclusive) per "topic/part" directory.
  * Serialized with json4s (already on the Spark classpath) so topic names
  * containing JSON-hostile characters round-trip through the checkpoint
  * intact; [[Glog.validateTopic]] separately rejects names that cannot be
  * directory names at all.
  */
final case class GlogOffset(ends: Map[String, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods
  override def json(): String =
    JsonMethods.compact(JsonMethods.render(
      ends.toSeq.sorted.foldLeft(org.json4s.JObject()) {
        case (o, (k, v)) => o ~ (k -> v)
      }))
}

object GlogOffset {
  def parse(json: String): GlogOffset = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    GlogOffset(org.json4s.jackson.JsonMethods.parse(json)
      .extract[Map[String, Long]])
  }
}

/** Micro-batch tail of a glog store — the engine's Kafka-source analog:
  * each trigger lists (topic, part) directories, computes their end
  * offsets from batch headers (a log-end-offset lookup, no payload read),
  * and plans one input partition per directory with a [start, end) slice
  * (one offset range per topic-partition, as Spark's Kafka source plans);
  * readers skip batches outside the window from their headers. New
  * segment files and new partitions appearing between triggers are
  * picked up naturally (their previous end offset defaults to 0).
  */
class GlogMicroBatchStream(path: String, required: StructType, minOffs: Long,
    minTms: Long = Long.MinValue, startLatest: Boolean = false,
    maxPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def conf = org.apache.spark.sql.SparkSession.active
    .sparkContext.hadoopConfiguration

  override def latestOffset(): Offset = GlogOffset(Glog.listEnds(path, conf))

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Admission control — Kafka's maxOffsetsPerTrigger semantics: when the
    * backlog exceeds the per-trigger cap, each partition advances
    * proportionally to its share of the total lag (plus one record so
    * small laggards always progress), so a backfill drains evenly instead
    * of partition by partition.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val ends = Glog.listEnds(path, conf)
    val from = start.asInstanceOf[GlogOffset].ends
    val cap = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        m.maxRows()
      case _ => return GlogOffset(ends)
    }
    val lags = ends.map { case (key, e) =>
      key -> math.max(0L, e - from.getOrElse(key, 0L))
    }
    val total = lags.values.sum
    if (total <= cap) GlogOffset(ends)
    else GlogOffset(ends.map { case (key, e) =>
      val lag = lags(key)
      // Proportional share in BigInt: lag * cap overflows Long once the
      // backlog times the trigger cap passes 2^63 (a regressed, negative
      // end offset would re-deliver committed records).
      val grant = math.min(lag, (BigInt(lag) * cap / total).toLong + 1L)
      key -> (from.getOrElse(key, 0L) + grant)
    })
  }
  /** Kafka's startingOffsets semantics: `earliest` (default) replays the
    * store from offset 0; `latest` begins at the current end offsets, so
    * only records appended after the query starts are delivered. Only the
    * FIRST run consults this — a restart resumes from the checkpoint.
    */
  override def initialOffset(): Offset =
    if (startLatest) GlogOffset(Glog.listEnds(path, conf))
    else GlogOffset(Map.empty)
  override def deserializeOffset(json: String): Offset = GlogOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GlogOffset].ends
    val until = end.asInstanceOf[GlogOffset].ends
    val fs = new Path(path).getFileSystem(conf)
    until.toSeq.flatMap { case (key, endOffs) =>
      val startOffs = math.max(from.getOrElse(key, 0L), minOffs)
      val Array(topic, part) = key.split("/", 2)
      if (endOffs <= startOffs) None
      else Some(GlogPartition(
        Glog.segmentFiles(fs, Glog.partitionDir(path, topic, part.toLong))
          .map(_.getPath.toString), topic, part.toLong, startOffs, endOffs, minTms))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GlogReaderFactory(required,
      Glog.TaskConf(org.apache.spark.sql.SparkSession.active, path))
}

class GlogReaderFactory(required: StructType, conf: Glog.TaskConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GlogPartition]
    new PartitionReader[InternalRow] {
      // The open segment; each one closes before the next opens.
      private var in: DataInputStream = _
      // Column pruning reaches the codec: record bodies are hopped over
      // via their length prefixes when the projection needs neither key
      // nor value, so a counts-only read decodes no payload at all.
      private val it = p.files.iterator.flatMap { f =>
        close()
        val fp = new Path(f)
        in = new DataInputStream(fp.getFileSystem(conf.value).open(fp))
        Glog.readSegment(in, p.topic, p.part, p.fromOffs, p.untilOffs, p.minTms,
          needK = required.fieldNames.contains("k"),
          needV = required.fieldNames.contains("v"), seg = f)
      }
      // Column pruning: precompute the projection from field name to the
      // record accessor once per partition.
      private val getters: Array[Glog.Rec => Any] = required.fields.map { f =>
        f.name match {
          case "topic" => (r: Glog.Rec) => UTF8String.fromString(r.topic)
          case "part" => (r: Glog.Rec) => r.part
          case "offs" => (r: Glog.Rec) => r.offs
          case "event_id" => (r: Glog.Rec) => r.event_id
          case "tms" => (r: Glog.Rec) => r.tms
          case "k" => (r: Glog.Rec) =>
            if (r.k == null) null else UTF8String.fromString(r.k)
          case "v" => (r: Glog.Rec) =>
            if (r.v == null) null else UTF8String.fromString(r.v)
        }
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val r = it.next()
          row = new GenericInternalRow(getters.map(_(r)))
          true
        } else false
      override def get(): InternalRow = row
      override def close(): Unit = if (in != null) { in.close(); in = null }
    }
  }
}
