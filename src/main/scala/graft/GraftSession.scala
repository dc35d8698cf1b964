package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every entrypoint (Verify, Bench, tests)
  * must share for cross-engine parity:
  *
  * - `nanosAsLong`: two events generations exist — TIMESTAMP(NANOS) files
  *   (which Spark 4 refuses to read as a timestamp; this flag reads them as
  *   exact nanos longs) and TIMESTAMP(MICROS) files (read as TimestampType
  *   and canonicalized to nanos longs by Tables.canonTs). Either way every
  *   entrypoint sees `ts` as BIGINT nanos (DuckDB's epoch_ms(ts) ==
  *   ts_ns div 1_000_000).
  * - `inferTimestampNTZ=false`: millis timestamps read as TIMESTAMP (session
  *   tz UTC) so unix_millis() works and literals compare like DuckDB's
  *   naive timestamps.
  * - Shuffle fan-out is SIZE-AWARE, not one-size: shuffles plan at cores
  *   (`initialPartitionNum` = cores, AQE coalesces below that on tiny
  *   inputs), and the handful of object-aggregation builds whose per-task
  *   hash state grows with the data (collect_set over fact-cardinality
  *   keys — the one class measured to OOM at the 1000x decade check) wrap
  *   themselves in [[withWideState]], which raises the fan-out to 16x
  *   cores for exactly that build. Round 12 ran 16x SESSION-WIDE and paid
  *   0.1–0.4 s per metadata-sized query across the whole registry (the
  *   schema family ran 2–5x slower) for an envelope only those builds
  *   need; measured at sf0.1/local[32]: 112 of 327 queries >50 ms faster
  *   at cores vs 16x, 8 the other way, net −14 s on the registry.
  */
object GraftSession {
  private[graft] val InitParts =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** The session Bench, Verify and Explain run in: `local[n]` with n =
    * `SPARK_GRAFT_CPUS` (default 4), the one place that env name is read.
    */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    build(s"local[$cpus]", cpus)
  }

  def build(master: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Apply AQE partition coalescing to CACHED plans too: persisted
      // frames built under a wide fan-out (withWideState) would otherwise
      // materialize with every initial shuffle partition (512 tiny cached
      // blocks at local scale) and force that width onto every consumer
      // stage — measured 4x on basket_lift's steady-state pass.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config(InitParts, cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` (which must EXECUTE its jobs eagerly — a persist+count or
    * localCheckpoint) with shuffles planned at 16x the session's reducer
    * count, AQE coalescing down. This is the 1000x memory envelope for
    * object-aggregation state over fact-cardinality keys (per-order
    * collect_set at 600M rows OOMs a 32 GiB JVM when the rows land on a
    * handful of reducers; at 16x the per-task hash map stays bounded) —
    * exactly the knob a 1000-executor cluster turns up for such a stage,
    * paid ONLY by the stage that needs it instead of by every
    * metadata-sized exchange in the session.
    */
  def withWideState[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(InitParts)
    setFanOut(spark, wide = true)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(InitParts, v)
      case None => spark.conf.unset(InitParts)
    }
  }

  /** Plan the session's shuffles at 16x its reducer count when `wide`, at
    * the reducer count otherwise. The conf is read when a plan
    * executes, so the setting holds until the next call.
    */
  private[graft] def setFanOut(spark: SparkSession, wide: Boolean): Unit = {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.conf.set(InitParts, (if (wide) base * 16 else base).toString)
  }
}
