package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test data.
  * At 100 TB these would be catalog tables partitioned by date/topic;
  * the loader keeps that swap localized to one place.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reader-plan cache: `spark.read.parquet` re-lists the directory and
    * re-reads the parquet footer on every call (measured ~85 ms/call at
    * sf0.1 — pure driver-side metadata work, guide §7.3), and the registry
    * pays it 1-3x per query per bench pass. Cache the analyzed reader
    * DataFrame, one slot per (session, path) holding (fingerprint, plan):
    * a logical PLAN, zero rows — every action still scans the parquet
    * files, so bench/oracle runs keep computing from the inputs. This is
    * exactly what a catalog table's relation cache would do at 100 TB (the
    * swap this loader localizes). A slot whose fingerprint no longer
    * matches (data regenerated in place) is replaced. Plans hold no
    * storage, so they stay outside [[FrameCache]]'s byte budget.
    */
  private type Slots[V] = TrieMap[(SparkSession, String), (String, V)]
  private val readerPlans: Slots[DataFrame] = TrieMap.empty
  private val artifactPlans: Slots[DataFrame] = TrieMap.empty
  private val scanWidth: Slots[Boolean] = TrieMap.empty

  private def slot[V](m: Slots[V], spark: SparkSession, path: String,
      fp: String)(make: => V): V =
    m.get((spark, path)) match {
      case Some((f, v)) if f == fp => v
      case _ =>
        // A stopped session's plans can never be used again.
        m.keys.foreach(k => if (k._1.sparkContext.isStopped) m.remove(k))
        val v = make
        m.put((spark, path), (fp, v))
        v
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    slot(readerPlans, spark, path, fingerprintPath(spark, path))(
      canonTs(spark.read.parquet(path)))
  }

  /** [[t]]'s reader-plan cache for ARTIFACT paths (persisted index /
    * tokenizer stores under tmp): same ~85 ms/call `spark.read.parquet`
    * metadata cost, same plan-only caching, keyed by a content fingerprint
    * of the path so a store rebuilt in place (the persist queries
    * overwrite their root every run) never serves a stale file listing.
    */
  def artifactPlan(spark: SparkSession, path: String): DataFrame =
    slot(artifactPlans, spark, path, fingerprintPath(spark, path))(
      spark.read.parquet(path))

  /** [[t]] with the scan conditionally repartitioned to the session's
    * cores — the guide §2.5 "unsplittable input" fix. The test tables are
    * single-row-group parquet files, so a scan is ONE task however many
    * cores the session has, and every per-row-expensive pipeline stage
    * above it (tokenize + explode, gram hashing, codec round-trips,
    * decimal arithmetic) runs single-threaded. Repartitioning right after
    * the read parallelizes that work; the extra exchange only exists when
    * the file layout is coarser than the core count — at 100 TB scans
    * yield far more splits than cores and this is a NO-OP, so no shuffle
    * is ever added at scale. Keyed (not round-robin) so the assignment is
    * a deterministic function of the data (SPARK-38388 discipline), and
    * only worth it when per-row CPU dominates: measured 2.2x on the gram
    * pipelines and 1.3x on the lineitem decimal aggregates, but a 2.4x
    * LOSS on cheap per-row event rollups — apply per measured pipeline,
    * never blanket. The split-count probe is cached per (session, data
    * fingerprint), so steady-state calls cost one directory listing.
    */
  def tPar(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame = {
    val df = t(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val narrow = slot(scanWidth, spark, s"$dir/$name.parquet",
      fingerprint(spark, dir, name))(df.rdd.getNumPartitions < cores)
    if (narrow) df.repartition(cores, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Schema of the raw parquet file, BEFORE [[canonTs]] — what a stream
    * reader must declare so Spark decodes the file's native types (a forced
    * bigint schema over an INT64 TIMESTAMP(MICROS) column silently yields
    * raw micros, 1000x off the nanos contract).
    */
  def rawSchema(spark: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  /** The engine's contract for the event-time column is nanos-since-epoch
    * as BIGINT. Two data generations exist: TIMESTAMP(NANOS) files arrive
    * as LongType already (GraftSession's legacy.parquet.nanosAsLong), and
    * TIMESTAMP(MICROS) files arrive as TimestampType (or TimestampNTZType
    * in a session without inferTimestampNTZ=false) — same instants,
    * different carrier. Canonicalize in the one helper every entrypoint
    * (batch loader AND stream readers) shares, so both generations present
    * identically. DuckDB oracles read the raw file and see TIMESTAMP either
    * way (epoch_ms(ts) is resolution-agnostic), so the cross-engine parity
    * rules in SURVEY §3 are unchanged. Any other carrier type fails loudly
    * here rather than silently corrupting downstream nanos arithmetic.
    */
  def canonTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(f) if f.dataType != LongType =>
        throw new IllegalStateException(
          s"events.ts carrier ${f.dataType} is neither TIMESTAMP nor BIGINT " +
            "nanos; refusing to guess its epoch unit")
      case _ => df
    }
  }

  /** Content fingerprint of one table's files under `dir` — (path, size,
    * mtime) of every file, hashed. Session-lifetime caches key on this so
    * data regenerated in-place mid-session (the gen_stress workflow reuses
    * one /tmp path) invalidates naturally instead of serving stale frames.
    * One driver-side directory listing per cache miss — no data read.
    */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    fingerprintPath(spark, s"$dir/$name.parquet")

  private[graft] def fingerprintPath(spark: SparkSession, raw: String)
      : String = {
    // Local-path fast path: Hadoop's LocalFileSystem stats each file
    // through a shim (measured ~7 ms per fingerprint at sf0.1); a plain
    // NIO walk of the same directory is ~0.1 ms. Every frame-cache access
    // and every reader-plan lookup pays this, so it is hot. Non-local
    // schemes (hdfs://, s3a://) keep the Hadoop path.
    val scheme = new java.net.URI(raw).getScheme
    val entries: Seq[String] =
      if (scheme == null || scheme == "file") {
        val p = java.nio.file.Paths.get(
          if (scheme == null) raw else new java.net.URI(raw).getPath)
        if (!java.nio.file.Files.exists(p)) Seq(s"absent:file:$p")
        else {
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          val stream = java.nio.file.Files.walk(p)
          try stream.forEach { f =>
            if (java.nio.file.Files.isRegularFile(f)) {
              val attrs = java.nio.file.Files.readAttributes(
                f, classOf[java.nio.file.attribute.BasicFileAttributes])
              // Match the Hadoop spelling exactly (path URI, length,
              // mtime millis) so the two branches produce the SAME key
              // for the same data — callers cache on it.
              buf += s"file:$f:${attrs.size}:${attrs.lastModifiedTime.toMillis}"
            }
          } finally stream.close()
          buf.sorted.toSeq
        }
      } else {
        val p = new org.apache.hadoop.fs.Path(raw)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Seq(s"absent:$p")
        else {
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            buf += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
          }
          buf.sorted.toSeq
        }
      }
    java.util.UUID.nameUUIDFromBytes(
      entries.mkString("\n").getBytes("UTF-8")).toString
  }
}
