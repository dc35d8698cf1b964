package graft.log

import graft.functions.Parity.md5LongSql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Broker-side log management semantics: segment rolling, leader-epoch
  * bookkeeping, and publish-rate quotas.
  *
  * - Segment rolling models the size-based log-segment split every Kafka
  *   log manager performs (the reference exposes the log config surface in
  *   /root/reference/kafka-impl/.../KafkaLogConfig.java; Pulsar's ledger
  *   rollover plays the segment role — see offset_translate's ledger model).
  * - Leader epochs model the epoch fields the Kafka protocol carries on
  *   ListOffsets/OffsetFetch responses
  *   (/root/reference/kafka-impl/.../utils/KafkaResponseUtils.java:379,426 —
  *   the reference reports -1 "unknown"; we compute what a broker tracking
  *   epoch bumps would return).
  * - Publish quotas model the reference's publish throttling
  *   (/root/reference/kafka-impl/.../KafkaRequestHandler.java:275
  *   throttling-publish-buffer; tests/PublishRateLimitTest.java).
  *
  * Scale: all three are one window or one aggregation on the natural
  * (topic, part) / producer keys — partial-agg friendly, no extra wide
  * exchange beyond the log view's own shuffle.
  */
object BrokerOps {

  /** Size-based segment rolling: a new 16 KiB segment starts whenever the
    * cumulative byte position crosses the segment boundary; per-segment
    * base/end offsets, record count, bytes, and time span (the inputs to
    * retention and compaction scheduling).
    */
  def logSegments(spark: SparkSession, dir: String): DataFrame =
    rolledSegments(spark, dir, 16384L)

  private def rolledSegments(spark: SparkSession, dir: String,
      roll: Long): DataFrame =
    LogOps.log(spark, dir)
      .withColumn("rec_bytes", (length(col("v")) + length(col("k")) + lit(16)).cast("long"))
      .withColumn("seg_id",
        expr(s"coalesce(sum(rec_bytes) over (partition by topic, part order by offs rows between unbounded preceding and 1 preceding), 0) div $roll"))
      .groupBy("topic", "part", "seg_id")
      .agg(
        min("offs").as("base_offset"),
        (max("offs") + 1L).as("end_offset"),
        count(lit(1)).as("n_records"),
        sum("rec_bytes").cast("long").as("seg_bytes"),
        min("tms").as("first_ms"),
        max("tms").as("last_ms"))

  /** Tiered-storage offload plan (the reference brokers sit on Pulsar
    * managed ledgers whose closed segments offload to object storage once
    * the local backlog passes a size threshold — README.md:11 "Infinite
    * event stream retention with Apache BookKeeper and tiered storage").
    * Modeled over 2 KiB-rolled segments: per partition, keep the newest
    * segments whose running size fits the 4 KiB local threshold plus the
    * active segment; everything older is an offload candidate. `local_
    * bytes` is the suffix size from this segment to the log head — the
    * bytes that stay local if offload cuts just below this segment.
    */
  def tieredOffloadPlan(spark: SparkSession, dir: String): DataFrame = {
    val suffix = Window.partitionBy("topic", "part")
      .orderBy(col("seg_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    rolledSegments(spark, dir, 2048L)
      .withColumn("local_bytes", sum("seg_bytes").over(suffix).cast("long"))
      .withColumn("max_seg",
        max("seg_id").over(Window.partitionBy("topic", "part")))
      .withColumn("offload",
        when(col("local_bytes") > 4096L && col("seg_id") =!= col("max_seg"),
          1L).otherwise(0L))
      .select(col("topic"), col("part"), col("seg_id"), col("base_offset"),
        col("end_offset"), col("seg_bytes"), col("local_bytes"), col("offload"))
  }

  /** Leader-epoch table: the leader changes every 100 offsets (a
    * deterministic stand-in for controller elections); per epoch the start
    * offset, end offset, and record count — exactly what an
    * OffsetsForLeaderEpoch lookup resolves against.
    */
  def leaderEpoch(spark: SparkSession, dir: String): DataFrame =
    LogOps.log(spark, dir)
      .withColumn("epoch", expr("offs div 100"))
      .groupBy("topic", "part", "epoch")
      .agg(
        min("offs").as("epoch_start"),
        (max("offs") + 1L).as("epoch_end"),
        count(lit(1)).as("n_records"))

  /** Producer publish quota: each producer gets 1536 bytes/day; rollup of
    * days over quota and the accumulated throttle time
    * (throttle_ms = excess / rate, rate = quota per day in ms).
    */
  def clientQuota(spark: SparkSession, dir: String): DataFrame =
    LogOps.logBase(spark, dir)
      .select(
        pmod(col("k").cast("long"), lit(16L)).as("producer_id"),
        expr("(tms div 86400000) * 86400000").as("day_ms"),
        (length(col("v")) + length(col("k")) + lit(16)).cast("long").as("rec_bytes"))
      .groupBy("producer_id", "day_ms")
      .agg(sum("rec_bytes").cast("long").as("bytes"))
      .withColumn("over", when(col("bytes") > 1536L, 1L).otherwise(0L))
      .withColumn("throttle_ms",
        when(col("over") === 1L, expr("((bytes - 1536) * 1000) div 1536")).otherwise(0L))
      .groupBy("producer_id")
      .agg(
        count(lit(1)).as("n_days"),
        sum("over").cast("long").as("n_throttled"),
        sum("bytes").cast("long").as("total_bytes"),
        max("bytes").as("max_day_bytes"),
        sum("throttle_ms").cast("long").as("total_throttle_ms"))

  /** Broker/bundle ownership routing, modeling the reference's topic
    * lookup (/root/reference/kafka-impl/.../KopBrokerLookupManager.java,
    * NamespaceBundleOwnershipListenerImpl.java): each (topic, part) hashes
    * onto one of 4 brokers (md5 — engine-identical), and when the most
    * loaded broker fails its partitions re-hash onto the 3 survivors —
    * the moved set a metadata refresh would observe. Per-partition record
    * counts come from one aggregation; everything after is broadcast-sized.
    */
  def brokerRouting(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val perPart = LogOps.logBase(spark, dir)
      .groupBy("topic", "part")
      .agg(count(lit(1)).as("n_records"))
      .withColumn("broker",
        pmod(md5Long(concat_ws("#", col("topic"), col("part"))), lit(4L)))
    val loads = perPart.groupBy("broker")
      .agg(sum("n_records").cast("long").as("total"))
    val failed = loads
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("total").desc, col("broker"))).cast("long"))
      .filter(col("rnk") === 1L)
      .select(col("broker").as("failed_broker"))
    perPart.crossJoin(broadcast(failed))
      .withColumn("alt",
        pmod(md5Long(concat_ws("#", col("topic"), col("part"), lit("f"))),
          lit(3L)))
      .withColumn("new_broker",
        when(col("broker") =!= col("failed_broker"), col("broker"))
          .otherwise(
            when(col("alt") >= col("failed_broker"), col("alt") + 1L)
              .otherwise(col("alt"))))
      .withColumn("moved",
        when(col("broker") === col("failed_broker"), 1L).otherwise(0L))
      .select("topic", "part", "n_records", "broker", "new_broker", "moved")
  }

  /** Format down-conversion accounting, modeling the reference's
    * per-client-version entry re-encode
    * (/root/reference/kafka-impl/.../format/AbstractEntryFormatter.java,
    * utils/ByteBufUtils.java — magic < 2 clients get v2 batches re-framed
    * as v1 records; the kafka-0-9/0-10/1-0 compat modules are exactly
    * those clients): per (consumer group, topic) the records that must
    * down-convert and the extra bytes the v1 framing costs vs the batched
    * v2 encoding.
    */
  def downConvert(spark: SparkSession, dir: String): DataFrame = {
    val perTopic = LogOps.logBase(spark, dir)
      .withColumn("payload", length(col("v")) + length(col("k")))
      .groupBy("topic", "part")
      .agg(
        count(lit(1)).as("n"),
        sum(col("payload") + lit(34)).cast("long").as("bytes_v1"),
        (lit(61L) + sum(col("payload") + lit(12))).cast("long").as("bytes_v2"))
      .groupBy("topic")
      .agg(
        sum("n").cast("long").as("n_records"),
        sum("bytes_v1").cast("long").as("bytes_v1"),
        sum("bytes_v2").cast("long").as("bytes_v2"))
    val clients = spark.range(0, 4, 1, 1).select(
      concat(lit("g"), col("id").cast("string")).as("group_id"),
      when(col("id") === 0L, 0L).when(col("id") <= 2L, 1L).otherwise(2L)
        .as("magic"))
    perTopic.crossJoin(broadcast(clients))
      .select(col("group_id"), col("magic"), col("topic"), col("n_records"),
        when(col("magic") < 2L, col("n_records")).otherwise(0L).as("n_down"),
        when(col("magic") < 2L, col("bytes_v1") - col("bytes_v2"))
          .otherwise(0L).as("extra_bytes"))
  }

  /** Compaction effectiveness per topic: raw record/byte volume vs what a
    * compacted topic retains (latest record per key), and the reclaim
    * ratio as an exact-integer division — what LogCleaner reports after a
    * clean and what decides whether a topic is worth compacting.
    * Ref: Kafka LogCleaner stats surfaced via KopLogValidator's
    * compact-topic key requirement.
    */
  def compactionRatio(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic", "part", "k")
      .orderBy(col("tms").desc, col("event_id").desc)
    LogOps.log(spark, dir)
      .withColumn("rec_bytes", (length(col("v")) + length(col("k")) + lit(16)).cast("long"))
      .withColumn("rn", row_number().over(w))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum("rec_bytes").cast("long").as("bytes_raw"),
        sum(when(col("rn") === 1, col("rec_bytes")).otherwise(0L)).cast("long")
          .as("bytes_kept"))
      .withColumn("reclaim_ratio",
        (col("n_raw") - col("n_kept")).cast("double") / col("n_raw").cast("double"))
  }

  /** Retention cleanup plan over the rolled segments: a segment is deleted
    * when every record in it is older than the retention cutoff AND it is
    * not the active (last) segment — exactly LogManager's
    * deleteOldSegments walk; reports the per-segment decision and bytes
    * reclaimed. Ref: KafkaLogConfig retention.ms + Kafka
    * LogManager.cleanupLogs semantics.
    */
  def segmentCleanupPlan(spark: SparkSession, dir: String): DataFrame = {
    val segs = logSegments(spark, dir)
    val lastSeg = Window.partitionBy("topic", "part")
    segs
      .withColumn("max_seg", max("seg_id").over(lastSeg))
      .withColumn("deletable",
        when(col("last_ms") < lit(LogOps.RetentionCutoffMs) &&
          col("seg_id") =!= col("max_seg"), 1L).otherwise(0L))
      .select(col("topic"), col("part"), col("seg_id"), col("base_offset"),
        col("end_offset"), col("seg_bytes"), col("last_ms"), col("deletable"))
  }

  /** Per-API request-latency stats table
    * (/root/reference/kafka-impl/.../RequestStats.java:111,141 — the
    * PRODUCE_ENCODE / MESSAGE_PUBLISH / FETCH_DECODE / MESSAGE_READ
    * OpStatsLoggers; stat names from KopServerStats.java:57-81). Every log
    * record is one request sample of the API it hits (event_id mod 4) with
    * a deterministic handle time: encode/decode scale with record bytes,
    * publish/read with a modular jitter — so the percentile table is
    * reproducible bit-for-bit. Percentiles use the nearest-rank method
    * (integer rank selection, engine-identical; same discipline as
    * value_percentiles).
    *
    * Scale: count-compressed — the latency domain is bounded (fixed base +
    * bounded record length / modular jitter), so the samples collapse to a
    * map-side-combinable `(api, lat_us) → count` aggregate; the nearest-rank
    * pick is then a running-sum window over that compressed distribution
    * (the digest rollup the reference's interval stats snapshots
    * materialize). No full-data sort, no 4-task parallelism floor.
    */
  /** The deterministic per-request (api, lat_us) sample model shared by
    * [[requestLatency]] and [[latencyHdrSketch]].
    */
  private def latencySamples(spark: SparkSession, dir: String): DataFrame =
    withLatency(LogOps.logBase(spark, dir))

  /** The api/lat_us modeling applied to any frame carrying (event_id, v)
    * — shared with the streaming twin (Streams.runStreamLatencySketch),
    * which must price latencies identically to the batch plan.
    */
  private[graft] def withLatency(df: DataFrame): DataFrame =
    df
      .withColumn("api",
        when(pmod(col("event_id"), lit(4L)) === 0L, "PRODUCE_ENCODE")
          .when(pmod(col("event_id"), lit(4L)) === 1L, "MESSAGE_PUBLISH")
          .when(pmod(col("event_id"), lit(4L)) === 2L, "FETCH_DECODE")
          .otherwise("MESSAGE_READ"))
      .withColumn("lat_us",
        when(col("api") === "PRODUCE_ENCODE",
          lit(20L) + length(col("v")).cast("long"))
          .when(col("api") === "MESSAGE_PUBLISH",
            lit(50L) + pmod(col("event_id"), lit(211L)))
          .when(col("api") === "FETCH_DECODE",
            lit(10L) + expr("CAST(length(v) AS BIGINT) div 2"))
          .otherwise(lit(5L) + pmod(col("event_id"), lit(53L))))

  def requestLatency(spark: SparkSession, dir: String): DataFrame = {
    val samples = latencySamples(spark, dir)
    val dist = samples.groupBy("api", "lat_us").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy("api").orderBy("lat_us")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = dist
      .withColumn("cum", sum("cnt").over(cw))
      .withColumn("n", sum("cnt").over(Window.partitionBy("api")))
    def pick(p: Double) =
      min(when(col("cum") >= expr(s"CAST(ceil(n * $p) AS BIGINT)"), col("lat_us")))
    ranked.groupBy("api").agg(
      sum("cnt").cast("long").as("n_requests"),
      pick(0.5).as("p50_us"),
      pick(0.95).as("p95_us"),
      pick(0.99).as("p99_us"),
      max("lat_us").as("max_us"),
      sum(col("lat_us") * col("cnt")).cast("long").as("total_us"))
  }

  /** The HdrHistogram bucket width for a value: 2^(m-3) where m =
    * floor(log2 v) — 8 linear sub-buckets per power of two, relative
    * error <= 1/8. Values below 8 are exact. Pure integer CASE chain so
    * Spark and DuckDB agree bit-for-bit (no libm log2).
    */
  private[graft] def hdrSubWidthSql(v: String): String = {
    val cases = (24 to 3 by -1)
      .map(m => s"WHEN $v >= ${1L << m} THEN ${1L << (m - 3)}")
      .mkString(" ")
    s"CASE $cases ELSE 1 END"
  }

  /** Mergeable latency-histogram sketch
    * (stats/DataSketchesOpStatsLogger.java — the reference records
    * request latencies into mergeable quantile sketches and publishes
    * p50/p95/p99; stats/PrometheusMetricsProvider.java exports them):
    * the deterministic analog is an HdrHistogram-style log2-major /
    * 8-linear-sub-bucket histogram — per api the bucket summary size,
    * quantile estimates (lower bound of the bucket holding the rank,
    * relative error <= 1/8 by construction), and the true max's bucket
    * ceiling.
    *
    * Scale: this is the sketch the exact [[requestLatency]] plan cannot
    * be at unbounded value domains — the shuffle carries at most
    * apis x ~176 bucket rows NO MATTER the data size (request_latency's
    * value-compressed distribution grows with distinct latencies), the
    * bucket rollup is map-side combinable (= sketch merge), and the same
    * frame streams: bucket counts are monoid state.
    */
  /** (api, b_lo, b_hi) -> cnt — the histogram state itself. Works on a
    * batch OR streaming samples frame (bucket counts are monoid state, so
    * a streaming complete-mode aggregation holds exactly this bounded
    * frame); shared with Streams.runStreamLatencySketch.
    */
  private[graft] def hdrHist(samples: DataFrame): DataFrame =
    samples
      .withColumn("sw", expr(hdrSubWidthSql("lat_us")))
      .withColumn("b_lo", expr("(lat_us div sw) * sw"))
      .withColumn("b_hi", col("b_lo") + col("sw") - 1L)
      .groupBy("api", "b_lo", "b_hi").agg(count(lit(1)).as("cnt"))

  def latencyHdrSketch(spark: SparkSession, dir: String): DataFrame = {
    val hist = hdrHist(latencySamples(spark, dir))
    val cw = Window.partitionBy("api").orderBy("b_lo")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = hist
      .withColumn("cum", sum("cnt").over(cw))
      .withColumn("n", sum("cnt").over(Window.partitionBy("api")))
    def pick(p: Double) =
      min(when(col("cum") >= expr(s"CAST(ceil(n * $p) AS BIGINT)"), col("b_lo")))
    ranked.groupBy("api").agg(
      sum("cnt").cast("long").as("n_requests"),
      count(lit(1)).as("n_buckets"),
      pick(0.5).as("p50_lo"),
      pick(0.95).as("p95_lo"),
      pick(0.99).as("p99_lo"),
      max("b_hi").as("max_hi"))
  }

  /** Hierarchical timing-wheel occupancy
    * (utils/timer/TimingWheel.java: tickMs=1, wheelSize=20, each overflow
    * wheel multiplies the interval by 20 — SystemTimer.java:54-55; add()
    * places a delay d in the first wheel whose interval exceeds it, at
    * bucket (d div tick) mod 20, and runs d < tick immediately). Every
    * record schedules one retry timer with a deterministic pseudo-delay
    * (prime-multiplied event_id mod 1h — the same modeling discipline as
    * request_latency's jitter); the view reports, per (topic, wheel
    * level): tick, timers held, distinct buckets occupied, and the delay
    * range — the purgatory's memory/efficiency profile.
    *
    * Scale: pure per-record arithmetic + one partial-aggregated rollup on
    * (topic, level); nothing holds state.
    */
  def timingWheel(spark: SparkSession, dir: String): DataFrame = {
    val ticks = Seq(0L -> 1L, 1L -> 20L, 2L -> 400L, 3L -> 8000L,
      4L -> 160000L, 5L -> 3200000L)
    val tickExpr = ticks.foldLeft(lit(1L)) { case (acc, (l, t)) =>
      when(col("level") === l, t).otherwise(acc)
    }
    LogOps.logBase(spark, dir)
      .select(col("topic"),
        pmod(col("event_id") * 7919L, lit(3600000L)).as("delay_ms"))
      .withColumn("level",
        when(col("delay_ms") < 1L, -1L)
          .when(col("delay_ms") < 20L, 0L)
          .when(col("delay_ms") < 400L, 1L)
          .when(col("delay_ms") < 8000L, 2L)
          .when(col("delay_ms") < 160000L, 3L)
          .when(col("delay_ms") < 3200000L, 4L)
          .otherwise(5L))
      .withColumn("tick_ms", tickExpr)
      .withColumn("bucket",
        when(col("level") === -1L, -1L)
          .otherwise(pmod(expr("delay_ms div tick_ms"), lit(20L))))
      .groupBy("topic", "level")
      .agg(
        max("tick_ms").as("tick_ms"),
        count(lit(1)).as("n_timers"),
        countDistinct("bucket").as("n_buckets"),
        min("delay_ms").as("min_delay_ms"),
        max("delay_ms").as("max_delay_ms"))
  }

  /** Purgatory watcher-list occupancy — the bookkeeping NEXT to
    * [[timingWheel]]'s timer placement (utils/delayed/
    * DelayedOperationPurgatory.java:110 `watchersForKey` — each delayed
    * operation is appended to the watcher list of every key it watches;
    * :115 `estimatedTotalOperations` counts registrations; :398-413
    * `advanceClock` purges completed-but-still-watched operations from
    * every list once `estimatedTotalOperations - delayed() >
    * purgeInterval` (builder default 1000 — :52); completed ops are
    * removed LAZILY, so the lists carry them as dead weight between
    * purge passes). Modeled per (api, key): the Produce purgatory parks
    * every acks=all batch (one watcher per [[LogOps.delayedProduce]]
    * batch; completed iff both follower acks beat the 200 ms timeout —
    * the SAME ack draw, via LogOps.ackDraw), and the Fetch purgatory
    * parks every under-min-bytes poll of [[LogOps.fetchWait]] (completed
    * when a later batch's arrival wakes it; the partition's final parked
    * poll has no later data and expires). Per (api, topic, part):
    * watchers registered, completed vs expired (the reaper's share), and
    * the api-wide purge accounting — total watched operations, full
    * purge passes at the 1000-op purgeInterval, and the residue the last
    * pass leaves watched.
    *
    * Scale: one (topic, part, sec) partial aggregate (the same compressed
    * shape fetch_wait/delayed_produce pay), a window over that
    * seconds-grain frame (not the data), and two metadata rollups.
    */
  def purgatoryWatchers(spark: SparkSession, dir: String): DataFrame = {
    // (topic, part, sec) is time-bounded metadata; fingerprint-cached +
    // checkpointed (the anomalyMinuteCounts discipline) so the Produce
    // and Fetch branches share ONE scan AND the build runs once per
    // (session, data) instead of once per call — the per-call checkpoint
    // was the query's dominant steady cost (plan ~1.1 s/pass). logBase,
    // not log: no column here needs the offset window.
    val secs = graft.FrameCache.get(spark, dir, "events", "BrokerOps.secs")(
      LogOps.logBase(spark, dir)
        .withColumn("sec", expr("tms div 1000"))
        .groupBy("topic", "part", "sec")
        .agg(sum(length(col("v")) + length(col("k")) + lit(16)).cast("long")
          .as("bytes"))
        .localCheckpoint())
    val produce = secs
      .withColumn("wait_ms",
        greatest(LogOps.ackDraw("1"), LogOps.ackDraw("2")))
      .select(lit("Produce").as("api"), col("topic"), col("part"),
        lit(1L).as("registered"),
        when(col("wait_ms") <= 200L, 1L).otherwise(0L).as("completed"))
    val fetch = secs
      .withColumn("max_sec",
        max("sec").over(Window.partitionBy("topic", "part")))
      .filter(col("bytes") < 1024L)
      .select(lit("Fetch").as("api"), col("topic"), col("part"),
        lit(1L).as("registered"),
        when(col("sec") < col("max_sec"), 1L).otherwise(0L).as("completed"))
    // (api, topic, part) rows — bounded by the partition universe at any
    // scale. ONE collect replaces the r17 shape's checkpoint job + api
    // rollup + broadcast join (guide §5 bounded driver work): the api
    // totals and purge accounting are exact long arithmetic driver-side.
    import spark.implicits._
    val perKey = produce.unionByName(fetch)
      .groupBy("api", "topic", "part")
      .agg(
        sum("registered").cast("long").as("n_registered"),
        sum("completed").cast("long").as("n_completed"),
        (sum("registered") - sum("completed")).cast("long").as("n_expired"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val apiTotals = perKey.groupBy(_._1).map { case (api, rows) =>
      api -> rows.map(_._4).sum }
    perKey.toSeq.map { case (api, topic, part, nReg, nComp, nExp) =>
      val tot = apiTotals(api)
      (api, topic, part, nReg, nComp, nExp, tot, tot / 1000L, tot % 1000L)
    }.toDF("api", "topic", "part", "n_registered", "n_completed",
      "n_expired", "api_total_watchers", "n_purge_passes", "purge_residue")
  }

  /** Tiered-storage READ path — the flip side of [[tieredOffloadPlan]]:
    * where each consumer group's next fetch actually reads from. Joins
    * every group's committed offset (the resume position) to the segment
    * containing it; a fetch landing in an offloaded segment pays the
    * object-storage read path, one landing in the local suffix reads from
    * the broker — the lag-vs-offload interaction every tiered-retention
    * operator watches (a group lagging past the local threshold silently
    * moves to the slow path).
    * Ref: README.md:11 (tiered storage retention); Pulsar managed-ledger
    * offloaded-read semantics behind storage/PartitionLog.java reads.
    *
    * Scale: the commit frame is broadcast-sized (|groups| x |partitions|);
    * the join is an equi-join on (topic, part) with the offset-range
    * predicate applied post-match — no shuffle on the segment side beyond
    * the rolled-segment window it already pays.
    */
  def tieredReadPath(spark: SparkSession, dir: String): DataFrame = {
    val commits = graft.coordinator.Groups.commits(spark, dir)
      .select(col("group_id"), col("topic"), col("part"), col("committed"))
    val plan = tieredOffloadPlan(spark, dir)
      .withColumnRenamed("topic", "ptopic").withColumnRenamed("part", "ppart")
    broadcast(commits).join(plan,
        col("topic") === col("ptopic") && col("part") === col("ppart") &&
          col("committed") >= col("base_offset") &&
          col("committed") < col("end_offset"))
      .select(col("group_id"), col("topic"), col("part"), col("committed"),
        col("seg_id"), col("base_offset"), col("end_offset"), col("offload"),
        when(col("offload") === 1L, "tiered").otherwise("local")
          .as("read_source"))
  }

  /** Replica placement + in-sync-replica status per partition — the #1
    * Kafka health surface (UnderReplicatedPartitions / min.insync.replicas
    * violations). RF = 3 chain placement off the md5 broker map
    * ([[brokerRouting]]'s leader, followers on the next two brokers);
    * each follower's replication lag is a deterministic md5 draw in
    * [0, 2 min); a follower is in-sync iff lag <= 30 s
    * (replica.lag.time.max.ms). A partition with n_isr < 3 is
    * under-replicated; with n_isr < min.insync.replicas = 2 an acks=all
    * produce is rejected (NOT_ENOUGH_REPLICAS — the [[graft.log]]
    * delayed_produce barrier can never complete).
    * Ref: KafkaResponseUtils metadata replica/ISR fields;
    * KopBrokerLookupManager placement; Kafka ISR semantics the reference
    * serves to clients.
    *
    * Scale: one partial-aggregated pass for per-partition sizes; the
    * replica frame is 3x |partitions| — metadata-sized.
    */
  def isrStatus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val parts = LogOps.logBase(spark, dir)
      .groupBy("topic", "part")
      .agg(count(lit(1)).as("n_records"))
      .withColumn("tp", concat(col("topic"), lit("#"), col("part").cast("string")))
      .withColumn("leader", pmod(md5Long(col("tp")), lit(4L)))
    val followers = parts
      .crossJoin(broadcast(spark.range(1, 3, 1, 1).select(col("id").as("r"))))
      .withColumn("broker", pmod(col("leader") + col("r"), lit(4L)))
      .withColumn("lag_ms",
        pmod(md5Long(concat_ws("#", lit("lag"), col("tp"), col("r").cast("string"))),
          lit(120000L)))
      .withColumn("in_sync", when(col("lag_ms") <= 30000L, 1L).otherwise(0L))
    followers
      .groupBy("topic", "part", "leader", "n_records")
      .agg(
        (sum("in_sync") + 1L).cast("long").as("n_isr"),
        max("lag_ms").as("max_follower_lag_ms"))
      .select(col("topic"), col("part"), col("leader"), col("n_records"),
        lit(3L).as("n_replicas"), col("n_isr"), col("max_follower_lag_ms"),
        when(col("n_isr") < 3L, 1L).otherwise(0L).as("under_replicated"),
        when(col("n_isr") < 2L, 1L).otherwise(0L).as("min_isr_violated"))
  }

  /** Broker-drain reassignment plan (the kafka-reassign-partitions
    * workflow against the same placement model): broker 3 is drained;
    * every replica it holds moves to the lowest-id broker not already in
    * the partition's replica set. Per partition: the moved replica role
    * (leader moves force a leader election), destination, and bytes to
    * ship; the per-broker ingress this plan creates is the throttle
    * planner's input.
    * Ref: KopBrokerLookupManager ownership moves; AdminManager metadata.
    */
  def replicaReassignment(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val parts = LogOps.logBase(spark, dir)
      .groupBy("topic", "part")
      .agg(
        count(lit(1)).as("n_records"),
        sum(length(col("v")) + length(col("k"))).cast("long").as("bytes"))
      .withColumn("tp", concat(col("topic"), lit("#"), col("part").cast("string")))
      .withColumn("leader", pmod(md5Long(col("tp")), lit(4L)))
      .withColumn("f1", pmod(col("leader") + 1L, lit(4L)))
      .withColumn("f2", pmod(col("leader") + 2L, lit(4L)))
    parts
      .withColumn("drained_role",
        when(col("leader") === 3L, "leader")
          .when(col("f1") === 3L, "follower")
          .when(col("f2") === 3L, "follower"))
      .filter(col("drained_role").isNotNull)
      // lowest broker id not already a replica (4 brokers, 3 replicas =>
      // exactly one candidate)
      .withColumn("dest",
        expr("array_min(filter(array(0L, 1L, 2L), b -> b != leader AND b != f1 AND b != f2))"))
      .select(col("topic"), col("part"), col("drained_role"),
        col("dest").as("dest_broker"), col("n_records"), col("bytes"),
        when(col("drained_role") === "leader", 1L).otherwise(0L)
          .as("needs_leader_election"))
  }

  /** First-access topic-lookup collapse accounting: the first produce to
    * a (topic, partition) triggers the PersistentTopic lookup; every
    * request arriving while that future is PENDING queues on it and runs
    * sequentially off its completion instead of issuing its own lookup,
    * and everything after completion is a topic-manager cache hit —
    * /root/reference/kafka-impl/.../PendingTopicFutures.java:63-77 (the
    * first pending future comes / the next reuses the completed result)
    * and KafkaTopicManager's per-broker topic cache. Lookup latency is a
    * fixed 50 ms model constant, so the split (1 lookup, N pending, rest
    * cached) is integer-exact per partition.
    *
    * Scale: one conditional aggregation over the (topic, part)
    * partitioning every log op reuses; the min-timestamp and the window
    * count are map-side combinable.
    */
  def pendingTopicFutures(spark: SparkSession, dir: String): DataFrame =
    LogOps.logBase(spark, dir)
      .withColumn("first_ms",
        min("tms").over(Window.partitionBy("topic", "part")))
      .groupBy("topic", "part")
      .agg(
        min("tms").as("lookup_ms"),
        count(lit(1)).as("n_requests"),
        sum(when(col("tms") > col("first_ms") &&
          col("tms") < col("first_ms") + 50L, 1L).otherwise(0L))
          .cast("long").as("n_pending_on_future"),
        sum(when(col("tms") >= col("first_ms") + 50L, 1L).otherwise(0L))
          .cast("long").as("n_cache_hits"))
      .withColumn("lookup_done_ms", col("lookup_ms") + 50L)

  /** Proxy split-and-route accounting — the proxy module's per-broker
    * request fan-out (/root/reference/proxy/.../KafkaProxyRequestHandler
    * .java:625 "split the request per broker": a multi-partition Produce
    * is re-framed as one sub-request per OWNER broker, each carrying only
    * that broker's partitions, and the partition responses are merged
    * back into one client response once `topicPartitionNum` drains to 0;
    * :2659 the WriteTxnMarkers variant — one marker may span partitions
    * owned by different brokers, so the marker list is filtered per
    * broker the same way and the responses concatenated). Per request —
    * a topic-wide Produce flush per topic, and one WriteTxnMarkers per
    * DECIDED transaction over its registered partition set (the
    * add_partitions_to_txn universe; ONGOING txns have no markers) — the
    * sub-requests created, the partition spread across them, and the
    * merge fan-in the proxy must await. Ownership is broker_routing's
    * md5 map, so the two views cannot disagree about who owns what.
    *
    * Scale: one distinct-aggregation per request kind on natural keys;
    * the ownership join rides the broadcast-sized (topic, part) universe.
    */
  def proxyRouting(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val owned = LogOps.logBase(spark, dir).select("topic", "part").distinct()
      .withColumn("broker",
        pmod(md5Long(concat_ws("#", col("topic"), col("part"))), lit(4L)))
    val produce = owned.select(
      lit("produce").as("request_kind"),
      col("topic").as("request_id"),
      col("topic"), col("part"), col("broker"))
    val txnParts = LogOps.logBase(spark, dir)
      .withColumn("txn_id", pmod(col("event_id"), lit(64L)))
      .select("txn_id", "topic", "part").distinct()
      .filter(graft.txn.Transactions.txnFate(col("txn_id")) =!= "ONGOING")
    val markers = txnParts
      .join(broadcast(owned), Seq("topic", "part"))
      .select(
        lit("markers").as("request_kind"),
        concat(lit("t"), col("txn_id").cast("string")).as("request_id"),
        col("topic"), col("part"), col("broker"))
    produce.unionByName(markers)
      .groupBy("request_kind", "request_id", "broker")
      .agg(count(lit(1)).as("parts"))
      .groupBy("request_kind", "request_id")
      .agg(
        sum("parts").cast("long").as("n_partitions"),
        count(lit(1)).as("n_sub_requests"),
        max("parts").as("max_parts_per_sub"),
        min("parts").as("min_parts_per_sub"))
      .withColumn("fan_in", col("n_sub_requests"))
      .withColumn("split_needed",
        when(col("n_sub_requests") > 1L, 1L).otherwise(0L))
  }

  /** Ownership-cache invalidation per namespace-bundle unload
    * (KafkaProtocolHandler.java:256-296 — the TopicOwnershipListener's
    * whenUnload deReferences every affected topic from the
    * KafkaTopicManagerSharedState lookup cache AND removes its
    * PartitionLog from the ReplicaManager, both for the same topic set;
    * tests/CacheInvalidatorTest.java unloads every bundle and asserts
    * the lookup cache AND the PartitionLog map drain to empty;
    * KafkaTopicManager.java:163 is the cache the next produce refills).
    * COMPOSES broker_routing: a (topic, part)'s bundle is broker_routing's
    * exact md5 ownership hash, so the two views cannot disagree about who
    * owns what. Unload events are brokers_change's universe (one per
    * active hour, kop_event_queue's arrival instant), each targeting one
    * md5-drawn bundle. Per event: the cached lookup entries + PartitionLog
    * state invalidated (pairs first produced BEFORE the unload — the
    * reference drops both for the same set, so one count covers both
    * maps), the re-lookup storm the next produce pays (pairs with traffic
    * AFTER the unload, at pending_topic_futures' 50 ms lookup constant),
    * and the coordinator moves the transfer forces — consumer groups
    * whose __consumer_offsets partition and __transaction_state
    * partitions ride the unloaded bundle (the same ownership hash again).
    *
    * Scale: one scan partial-aggregated to (topic, part) min/max bounds;
    * the event frame is |active hours| rows and the join key is the
    * 4-ary bundle hash — everything after the first aggregate is
    * metadata-sized.
    */
  def bundleUnloadInvalidation(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.Parity.md5Long
    def owner(t: Column, p: Column): Column =
      pmod(md5Long(concat_ws("#", t, p)), lit(4L))
    val pairs = LogOps.logBase(spark, dir)
      .groupBy("topic", "part")
      .agg(min("tms").as("first_ms"), max("tms").as("last_ms"))
      .withColumn("bundle", owner(col("topic"), col("part")))
    val events = LogOps.logBase(spark, dir)
      .select(expr("tms div 3600000").as("h")).distinct()
      .select(col("h"), (col("h") * 3600000L).as("unload_ms"),
        pmod(md5Long(concat(lit("unload#h"), col("h").cast("string"))),
          lit(4L)).as("bundle"))
    val gMoves = spark.range(0L, 4L, 1, 1)
      .select(owner(lit("__consumer_offsets"),
        pmod(md5Long(concat(lit("gcoord#g"), col("id").cast("string"))),
          lit(8L))).as("bundle"))
      .groupBy("bundle").agg(count(lit(1)).as("n_group_moves"))
    val tMoves = spark.range(0L, 8L, 1, 1)
      .select(owner(lit("__transaction_state"), col("id")).as("bundle"))
      .groupBy("bundle").agg(count(lit(1)).as("n_txn_moves"))
    events.join(pairs, "bundle")
      .groupBy("h", "unload_ms", "bundle")
      .agg(
        countDistinct("topic").as("n_topics"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("first_ms") < col("unload_ms"), 1L).otherwise(0L))
          .cast("long").as("n_invalidated"),
        sum(when(col("last_ms") >= col("unload_ms"), 1L).otherwise(0L))
          .cast("long").as("n_relookups"))
      .withColumn("relookup_cost_ms", col("n_relookups") * 50L)
      .join(gMoves, Seq("bundle"), "left")
      .join(tMoves, Seq("bundle"), "left")
      .select(
        concat(lit("h"), col("h").cast("string")).as("unload_event"),
        col("unload_ms"), col("bundle"), col("n_topics"), col("n_pairs"),
        col("n_invalidated"), col("n_relookups"), col("relookup_cost_ms"),
        coalesce(col("n_group_moves"), lit(0L)).as("n_group_moves"),
        coalesce(col("n_txn_moves"), lit(0L)).as("n_txn_moves"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bundle_unload_invalidation" -> bundleUnloadInvalidation,
    "proxy_routing" -> proxyRouting,
    "pending_topic_futures" -> pendingTopicFutures,
    "isr_status" -> isrStatus,
    "replica_reassignment" -> replicaReassignment,
    "timing_wheel" -> timingWheel,
    "purgatory_watchers" -> purgatoryWatchers,
    "request_latency" -> requestLatency,
    "latency_hdr_sketch" -> latencyHdrSketch,
    "compaction_ratio" -> compactionRatio,
    "segment_cleanup_plan" -> segmentCleanupPlan,
    "tiered_offload_plan" -> tieredOffloadPlan,
    "tiered_read_path" -> tieredReadPath,
    "log_segments" -> logSegments,
    "leader_epoch" -> leaderEpoch,
    "client_quota" -> clientQuota,
    "broker_routing" -> brokerRouting,
    "down_convert" -> downConvert)

  private val L = LogOps.logSqlCte

  /** 2 KiB-rolled segments + offload flag as a reusable CTE chain (ends
    * with `plan(topic, part, seg_id, base_offset, end_offset, seg_bytes,
    * local_bytes, offload)`) — one definition for the offload plan and the
    * read path so the threshold cannot drift.
    */
  /** The 16 KiB segment-rolling assignment (`sized(topic, part, offs,
    * tms, rec_bytes, seg_id)`) as a shared CTE — ONE spelling of the
    * roll size (16384) and per-record overhead (+16) for the
    * log_segments / segment_cleanup_plan oracles here and Admin's
    * delete_topics oracle (their Spark sides all call [[logSegments]]).
    */
  private[graft] val sizedSegSql: String =
    """sized AS (
      |  SELECT topic, part, offs, tms,
      |    length(v) + length(k) + 16 AS rec_bytes,
      |    CAST(COALESCE(SUM(length(v) + length(k) + 16) OVER (
      |      PARTITION BY topic, part ORDER BY offs
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 16384
      |      AS BIGINT) AS seg_id
      |  FROM log)""".stripMargin

  private val tieredPlanSql: String =
    """sized AS (
      |  SELECT topic, part, offs,
      |    length(v) + length(k) + 16 AS rec_bytes,
      |    CAST(COALESCE(SUM(length(v) + length(k) + 16) OVER (
      |      PARTITION BY topic, part ORDER BY offs
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
      |      AS BIGINT) AS seg_id
      |  FROM log),
      |segs AS (
      |  SELECT topic, part, seg_id, MIN(offs) AS base_offset,
      |    MAX(offs) + 1 AS end_offset,
      |    CAST(SUM(rec_bytes) AS BIGINT) AS seg_bytes
      |  FROM sized GROUP BY topic, part, seg_id),
      |plan AS (
      |  SELECT topic, part, seg_id, base_offset, end_offset, seg_bytes,
      |    CAST(SUM(seg_bytes) OVER (PARTITION BY topic, part
      |      ORDER BY seg_id DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS local_bytes,
      |    CAST(CASE WHEN SUM(seg_bytes) OVER (PARTITION BY topic, part
      |        ORDER BY seg_id DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 4096
      |      AND seg_id <> MAX(seg_id) OVER (PARTITION BY topic, part)
      |      THEN 1 ELSE 0 END AS BIGINT) AS offload
      |  FROM segs)
      |""".stripMargin

  /** DuckDB mirror of [[latencySamples]] (continuable CTE). */
  private val latencySamplesSql: String =
    """samples AS (
      |  SELECT event_id,
      |    CASE event_id % 4
      |      WHEN 0 THEN 'PRODUCE_ENCODE' WHEN 1 THEN 'MESSAGE_PUBLISH'
      |      WHEN 2 THEN 'FETCH_DECODE' ELSE 'MESSAGE_READ' END AS api,
      |    CASE event_id % 4
      |      WHEN 0 THEN 20 + length(v)
      |      WHEN 1 THEN 50 + event_id % 211
      |      WHEN 2 THEN 10 + length(v) // 2
      |      ELSE 5 + event_id % 53 END AS lat_us
      |  FROM log),
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "bundle_unload_invalidation" ->
      (s"""WITH pairs AS (
        |  SELECT event_type AS topic, user_id % 8 AS part,
        |    MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY 1, 2),
        |pb AS (
        |  SELECT *,
        |    ${md5LongSql("(topic || '#' || CAST(part AS VARCHAR))")} % 4
        |      AS bundle
        |  FROM pairs),
        |ev AS (
        |  SELECT h, h * 3600000 AS unload_ms,
        |    ${md5LongSql("('unload#h' || h)")} % 4 AS bundle
        |  FROM (SELECT DISTINCT epoch_ms(ts) // 3600000 AS h
        |        FROM events)),
        |gm AS (
        |  SELECT bundle, COUNT(*) AS n_group_moves FROM (
        |    SELECT ${md5LongSql(
             s"""('__consumer_offsets#' || CAST(
                |      ${md5LongSql("('gcoord#g' || g)")} % 8 AS VARCHAR))"""
               .stripMargin)} % 4 AS bundle
        |    FROM generate_series(0, 3) t(g)) GROUP BY 1),
        |tm AS (
        |  SELECT bundle, COUNT(*) AS n_txn_moves FROM (
        |    SELECT ${md5LongSql(
             "('__transaction_state#' || CAST(p AS VARCHAR))")} % 4
        |      AS bundle
        |    FROM generate_series(0, 7) t(p)) GROUP BY 1),
        |""".stripMargin +
      """agg AS (
        |  SELECT ev.h, ev.unload_ms, ev.bundle,
        |    CAST(COUNT(DISTINCT pb.topic) AS BIGINT) AS n_topics,
        |    COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN pb.first_ms < ev.unload_ms
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_invalidated,
        |    CAST(SUM(CASE WHEN pb.last_ms >= ev.unload_ms
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_relookups
        |  FROM ev JOIN pb ON pb.bundle = ev.bundle
        |  GROUP BY 1, 2, 3)
        |SELECT 'h' || CAST(h AS VARCHAR) AS unload_event, unload_ms,
        |  bundle, n_topics, n_pairs, n_invalidated, n_relookups,
        |  n_relookups * 50 AS relookup_cost_ms,
        |  COALESCE(gm.n_group_moves, 0) AS n_group_moves,
        |  COALESCE(tm.n_txn_moves, 0) AS n_txn_moves
        |FROM agg LEFT JOIN gm USING (bundle)
        |LEFT JOIN tm USING (bundle)""".stripMargin),
    "pending_topic_futures" -> (L +
      """fm AS (
        |  SELECT *, MIN(tms) OVER (PARTITION BY topic, part) AS first_ms
        |  FROM log)
        |SELECT topic, part, MIN(tms) AS lookup_ms, COUNT(*) AS n_requests,
        |  CAST(SUM(CASE WHEN tms > first_ms AND tms < first_ms + 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pending_on_future,
        |  CAST(SUM(CASE WHEN tms >= first_ms + 50 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cache_hits,
        |  MIN(tms) + 50 AS lookup_done_ms
        |FROM fm GROUP BY topic, part""".stripMargin),
    "isr_status" -> (L +
      s"""pp AS (
        |  SELECT topic, part, COUNT(*) AS n_records,
        |    topic || '#' || CAST(part AS VARCHAR) AS tp,
        |    ${md5LongSql("topic || '#' || CAST(part AS VARCHAR)")} % 4
        |      AS leader
        |  FROM log GROUP BY topic, part),
        |fr AS (
        |  SELECT pp.*, r,
        |    ${md5LongSql("'lag#' || tp || '#' || CAST(r AS VARCHAR)")}
        |      % 120000 AS lag_ms
        |  FROM pp, (SELECT CAST(r AS BIGINT) AS r FROM generate_series(1, 2) t(r))),
        |isr AS (
        |  SELECT topic, part, leader, n_records,
        |    CAST(SUM(CASE WHEN lag_ms <= 30000 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |      AS n_isr,
        |    MAX(lag_ms) AS max_follower_lag_ms
        |  FROM fr GROUP BY topic, part, leader, n_records)
        |SELECT topic, part, leader, n_records, CAST(3 AS BIGINT) AS n_replicas,
        |  n_isr, max_follower_lag_ms,
        |  CAST(CASE WHEN n_isr < 3 THEN 1 ELSE 0 END AS BIGINT)
        |    AS under_replicated,
        |  CAST(CASE WHEN n_isr < 2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS min_isr_violated
        |FROM isr""".stripMargin),
    // dest_broker is derived by a DIFFERENT algorithm than the Spark side
    // (closed form (leader+3)%4 vs array_min over the complement) —
    // identical output, an independent check of the placement math.
    "replica_reassignment" -> (L +
      s"""pp AS (
        |  SELECT topic, part, COUNT(*) AS n_records,
        |    CAST(SUM(length(v) + length(k)) AS BIGINT) AS bytes,
        |    ${md5LongSql("topic || '#' || CAST(part AS VARCHAR)")} % 4
        |      AS leader
        |  FROM log GROUP BY topic, part),
        |rp AS (
        |  SELECT *, (leader + 1) % 4 AS f1, (leader + 2) % 4 AS f2 FROM pp),
        |dr AS (
        |  SELECT *, CASE WHEN leader = 3 THEN 'leader'
        |                 WHEN f1 = 3 OR f2 = 3 THEN 'follower' END AS drained_role
        |  FROM rp)
        |SELECT topic, part, drained_role,
        |  (leader + 3) % 4 AS dest_broker, n_records, bytes,
        |  CAST(CASE WHEN drained_role = 'leader' THEN 1 ELSE 0 END AS BIGINT)
        |    AS needs_leader_election
        |FROM dr WHERE drained_role IS NOT NULL""".stripMargin),
    "timing_wheel" -> (L +
      """timers AS (
        |  SELECT topic, (event_id * 7919) % 3600000 AS delay_ms FROM log),
        |leveled AS (
        |  SELECT topic, delay_ms,
        |    CAST(CASE WHEN delay_ms < 1 THEN -1
        |         WHEN delay_ms < 20 THEN 0
        |         WHEN delay_ms < 400 THEN 1
        |         WHEN delay_ms < 8000 THEN 2
        |         WHEN delay_ms < 160000 THEN 3
        |         WHEN delay_ms < 3200000 THEN 4
        |         ELSE 5 END AS BIGINT) AS level
        |  FROM timers),
        |placed AS (
        |  SELECT topic, delay_ms, level,
        |    CAST(CASE level WHEN 0 THEN 1 WHEN 1 THEN 20 WHEN 2 THEN 400
        |      WHEN 3 THEN 8000 WHEN 4 THEN 160000 WHEN 5 THEN 3200000
        |      ELSE 1 END AS BIGINT) AS tick_ms
        |  FROM leveled),
        |bucketed AS (
        |  SELECT *, CASE WHEN level = -1 THEN -1
        |    ELSE (delay_ms // tick_ms) % 20 END AS bucket
        |  FROM placed)
        |SELECT topic, level, MAX(tick_ms) AS tick_ms, COUNT(*) AS n_timers,
        |  CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
        |  MIN(delay_ms) AS min_delay_ms, MAX(delay_ms) AS max_delay_ms
        |FROM bucketed GROUP BY topic, level""".stripMargin),
    // The Produce branch samples the SAME ack draw as delayed_produce
    // (LogOps.ackDraw); the secs frame is fetch_wait's poll grain.
    "purgatory_watchers" -> (L +
      s"""secs AS (
        |  SELECT topic, part, tms // 1000 AS sec,
        |    CAST(SUM(length(v) + length(k) + 16) AS BIGINT) AS bytes
        |  FROM log GROUP BY topic, part, tms // 1000),
        |produce AS (
        |  SELECT 'Produce' AS api, topic, part, 1 AS registered,
        |    CASE WHEN GREATEST(
        |        ${md5LongSql(
             "topic || '#' || CAST(part AS VARCHAR) || '#' || CAST(sec AS VARCHAR) || '#1'")} % 250,
        |        ${md5LongSql(
             "topic || '#' || CAST(part AS VARCHAR) || '#' || CAST(sec AS VARCHAR) || '#2'")} % 250)
        |      <= 200 THEN 1 ELSE 0 END AS completed
        |  FROM secs),
        |fpolls AS (
        |  SELECT 'Fetch' AS api, topic, part, 1 AS registered,
        |    CASE WHEN sec < max_sec THEN 1 ELSE 0 END AS completed
        |  FROM (SELECT *, MAX(sec) OVER (PARTITION BY topic, part)
        |          AS max_sec
        |        FROM secs)
        |  WHERE bytes < 1024),
        |uni AS (SELECT * FROM produce UNION ALL SELECT * FROM fpolls),
        |pk AS (
        |  SELECT api, topic, part,
        |    CAST(SUM(registered) AS BIGINT) AS n_registered,
        |    CAST(SUM(completed) AS BIGINT) AS n_completed,
        |    CAST(SUM(registered) - SUM(completed) AS BIGINT) AS n_expired
        |  FROM uni GROUP BY api, topic, part),
        |pa AS (
        |  SELECT api, CAST(SUM(n_registered) AS BIGINT)
        |    AS api_total_watchers
        |  FROM pk GROUP BY api)
        |SELECT pk.api, topic, part, n_registered, n_completed, n_expired,
        |  api_total_watchers,
        |  api_total_watchers // 1000 AS n_purge_passes,
        |  api_total_watchers % 1000 AS purge_residue
        |FROM pk JOIN pa USING (api)""".stripMargin),
    "latency_hdr_sketch" -> (L + latencySamplesSql +
      s"""hist AS (
         |  SELECT api,
         |    CAST((lat_us // sw) * sw AS BIGINT) AS b_lo,
         |    CAST((lat_us // sw) * sw + sw - 1 AS BIGINT) AS b_hi,
         |    COUNT(*) AS cnt
         |  FROM (SELECT api, lat_us, ${hdrSubWidthSql("lat_us")} AS sw
         |        FROM samples)
         |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *,
        |    SUM(cnt) OVER (PARTITION BY api ORDER BY b_lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY api) AS n
        |  FROM hist)
        |SELECT api, CAST(SUM(cnt) AS BIGINT) AS n_requests,
        |  COUNT(*) AS n_buckets,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(n * 0.5) AS BIGINT)
        |    THEN b_lo END) AS BIGINT) AS p50_lo,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(n * 0.95) AS BIGINT)
        |    THEN b_lo END) AS BIGINT) AS p95_lo,
        |  CAST(MIN(CASE WHEN cum >= CAST(ceil(n * 0.99) AS BIGINT)
        |    THEN b_lo END) AS BIGINT) AS p99_lo,
        |  CAST(MAX(b_hi) AS BIGINT) AS max_hi
        |FROM ranked GROUP BY api""".stripMargin),
    "request_latency" -> (L + latencySamplesSql +
      """ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY api ORDER BY lat_us, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY api) AS n
        |  FROM samples)
        |SELECT api, COUNT(*) AS n_requests,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN lat_us END) AS p50_us,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN lat_us END) AS p95_us,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN lat_us END) AS p99_us,
        |  MAX(lat_us) AS max_us,
        |  CAST(SUM(lat_us) AS BIGINT) AS total_us
        |FROM ranked GROUP BY api""".stripMargin),
    "log_segments" -> (L + sizedSegSql +
      """
        |SELECT topic, part, seg_id, MIN(offs) AS base_offset,
        |  MAX(offs) + 1 AS end_offset, COUNT(*) AS n_records,
        |  CAST(SUM(rec_bytes) AS BIGINT) AS seg_bytes,
        |  MIN(tms) AS first_ms, MAX(tms) AS last_ms
        |FROM sized GROUP BY topic, part, seg_id""".stripMargin),
    "leader_epoch" -> (LogOps.logSql +
      """SELECT topic, part, offs // 100 AS epoch, MIN(offs) AS epoch_start,
        |  MAX(offs) + 1 AS epoch_end, COUNT(*) AS n_records
        |FROM log GROUP BY topic, part, offs // 100""".stripMargin),
    "compaction_ratio" -> (L +
      """r AS (
        |  SELECT topic, length(v) + length(k) + 16 AS rec_bytes,
        |    ROW_NUMBER() OVER (PARTITION BY topic, part, k
        |      ORDER BY tms DESC, event_id DESC) AS rn
        |  FROM log)
        |SELECT topic, COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(rec_bytes) AS BIGINT) AS bytes_raw,
        |  CAST(SUM(CASE WHEN rn = 1 THEN rec_bytes ELSE 0 END) AS BIGINT)
        |    AS bytes_kept,
        |  CAST(COUNT(*) - CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS reclaim_ratio
        |FROM r GROUP BY topic""".stripMargin),
    "segment_cleanup_plan" -> (L + sizedSegSql +
      s""",
        |segs AS (
        |  SELECT topic, part, seg_id, MIN(offs) AS base_offset,
        |    MAX(offs) + 1 AS end_offset,
        |    CAST(SUM(rec_bytes) AS BIGINT) AS seg_bytes, MAX(tms) AS last_ms
        |  FROM sized GROUP BY topic, part, seg_id)
        |SELECT topic, part, seg_id, base_offset, end_offset, seg_bytes,
        |  last_ms,
        |  CAST(CASE WHEN last_ms < ${graft.log.LogOps.RetentionCutoffMs}
        |    AND seg_id <> MAX(seg_id) OVER (PARTITION BY topic, part)
        |    THEN 1 ELSE 0 END AS BIGINT) AS deletable
        |FROM segs""".stripMargin),
    "tiered_offload_plan" -> (L + tieredPlanSql +
      """SELECT topic, part, seg_id, base_offset, end_offset, seg_bytes,
        |  local_bytes, offload
        |FROM plan""".stripMargin),
    "tiered_read_path" -> (L + graft.coordinator.Groups.commitsSql
      .stripSuffix("\n") + ",\n" + tieredPlanSql +
      """SELECT c.group_id, c.topic, c.part, c.committed, p.seg_id,
        |  p.base_offset, p.end_offset, p.offload,
        |  CASE WHEN p.offload = 1 THEN 'tiered' ELSE 'local' END AS read_source
        |FROM commits c JOIN plan p ON p.topic = c.topic AND p.part = c.part
        |  AND c.committed >= p.base_offset AND c.committed < p.end_offset"""
        .stripMargin),
    // Ownership spelled exactly as broker_routing's map; the marker
    // universe samples Transactions.fateSql — the one fate draw.
    "proxy_routing" -> (L +
      s"""own AS (
        |  SELECT topic, part,
        |    ${md5LongSql("topic || '#' || CAST(part AS VARCHAR)")} % 4
        |      AS broker
        |  FROM (SELECT DISTINCT topic, part FROM log)),
        |tpx AS (
        |  SELECT DISTINCT event_id % 64 AS txn_id, topic, part FROM log),
        |tpd AS (
        |  SELECT * FROM tpx
        |  WHERE (${graft.txn.Transactions.fateSql("txn_id")}) <> 'ONGOING'),
        |req AS (
        |  SELECT 'produce' AS request_kind, topic AS request_id,
        |    topic, part, broker
        |  FROM own
        |  UNION ALL
        |  SELECT 'markers', 't' || CAST(t.txn_id AS VARCHAR),
        |    t.topic, t.part, o.broker
        |  FROM tpd t JOIN own o USING (topic, part)),
        |sub AS (
        |  SELECT request_kind, request_id, broker, COUNT(*) AS parts
        |  FROM req GROUP BY 1, 2, 3)
        |SELECT request_kind, request_id,
        |  CAST(SUM(parts) AS BIGINT) AS n_partitions,
        |  COUNT(*) AS n_sub_requests,
        |  MAX(parts) AS max_parts_per_sub,
        |  MIN(parts) AS min_parts_per_sub,
        |  COUNT(*) AS fan_in,
        |  CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS split_needed
        |FROM sub GROUP BY 1, 2""".stripMargin),
    "broker_routing" -> (L +
      s"""pp AS (
        |  SELECT topic, part, COUNT(*) AS n_records,
        |    ${md5LongSql("topic || '#' || CAST(part AS VARCHAR)")} % 4
        |      AS broker
        |  FROM log GROUP BY topic, part),
        |failed AS (
        |  SELECT broker AS failed_broker FROM (
        |    SELECT broker, ROW_NUMBER() OVER (
        |      ORDER BY SUM(n_records) DESC, broker) AS rnk
        |    FROM pp GROUP BY broker)
        |  WHERE rnk = 1),
        |alt AS (
        |  SELECT pp.*, failed_broker,
        |    ${md5LongSql("topic || '#' || CAST(part AS VARCHAR) || '#f'")} % 3
        |      AS a
        |  FROM pp, failed)
        |SELECT topic, part, n_records, CAST(broker AS BIGINT) AS broker,
        |  CAST(CASE WHEN broker <> failed_broker THEN broker
        |    WHEN a >= failed_broker THEN a + 1 ELSE a END AS BIGINT) AS new_broker,
        |  CAST(CASE WHEN broker = failed_broker THEN 1 ELSE 0 END AS BIGINT) AS moved
        |FROM alt""".stripMargin),
    "down_convert" -> (L +
      """pt AS (
        |  SELECT topic, CAST(SUM(n) AS BIGINT) AS n_records,
        |    CAST(SUM(bytes_v1) AS BIGINT) AS bytes_v1,
        |    CAST(SUM(bytes_v2) AS BIGINT) AS bytes_v2
        |  FROM (
        |    SELECT topic, part, COUNT(*) AS n,
        |      SUM(length(v) + length(k) + 34) AS bytes_v1,
        |      61 + SUM(length(v) + length(k) + 12) AS bytes_v2
        |    FROM log GROUP BY topic, part)
        |  GROUP BY topic),
        |clients AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
        |    CAST(CASE WHEN g = 0 THEN 0 WHEN g <= 2 THEN 1 ELSE 2 END AS BIGINT)
        |      AS magic
        |  FROM generate_series(0, 3) t(g))
        |SELECT group_id, magic, topic, n_records,
        |  CASE WHEN magic < 2 THEN n_records ELSE 0 END AS n_down,
        |  CASE WHEN magic < 2 THEN bytes_v1 - bytes_v2 ELSE 0 END AS extra_bytes
        |FROM pt CROSS JOIN clients""".stripMargin),
    "client_quota" -> (L +
      """days AS (
        |  SELECT CAST(k AS BIGINT) % 16 AS producer_id,
        |    (tms // 86400000) * 86400000 AS day_ms,
        |    CAST(SUM(length(v) + length(k) + 16) AS BIGINT) AS bytes
        |  FROM log GROUP BY 1, 2),
        |flagged AS (
        |  SELECT *, CASE WHEN bytes > 1536 THEN 1 ELSE 0 END AS over,
        |    CASE WHEN bytes > 1536 THEN ((bytes - 1536) * 1000) // 1536
        |         ELSE 0 END AS throttle_ms
        |  FROM days)
        |SELECT producer_id, COUNT(*) AS n_days,
        |  CAST(SUM(over) AS BIGINT) AS n_throttled,
        |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |  MAX(bytes) AS max_day_bytes,
        |  CAST(SUM(throttle_ms) AS BIGINT) AS total_throttle_ms
        |FROM flagged GROUP BY producer_id""".stripMargin))
}
