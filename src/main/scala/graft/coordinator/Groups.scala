package graft.coordinator

import graft.functions.Parity.md5LongSql
import graft.log.LogOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Consumer-group coordination semantics
  * (/root/reference/kafka-impl/.../coordinator/group/GroupCoordinator.java,
  * GroupMetadataManager.java) as declarative queries.
  *
  * Four synthetic groups g0..g3 subscribe to every topic; group g's
  * committed offset on a partition is floor(logEnd*(g+1)/5) and its commit
  * time trails the partition head by g weeks — deterministic functions of
  * the data so the oracle reproduces them bit-for-bit.
  *
  * Scale: group metadata is tiny relative to the log (|groups| x |topic
  * partitions|); everything downstream of the one log aggregation is a
  * broadcast-sized frame. Lag joins stay on the (topic, part) key.
  */
object Groups {

  /** Log-end offsets per partition, the frame every coordinator view
    * composes (often 3-6 times per query: group state, member
    * heartbeats, commits, the now watermark). Offsets are a dense
    * row_number, so log_end = COUNT(*) — no offset window, no sort: one
    * partial-aggregated scan, and the |topics|x|parts|-row result is
    * checkpointed and cached per (session, dir) so the decision tables
    * above it are pure metadata joins. The unchanged MAX(offs)+1 oracle
    * spelling is value-identical (the migration_status dense-offset
    * equivalence).
    */
  private def leo(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "events", "Groups.leo")(
      LogOps.logBase(spark, dir).groupBy("topic", "part").agg(
        count(lit(1)).as("log_end"),
        max("tms").as("latest_ms"))
        .localCheckpoint())

  private val leoSql: String =
    """leo AS (
      |  SELECT topic, part, MAX(offs) + 1 AS log_end, MAX(tms) AS latest_ms
      |  FROM log GROUP BY topic, part),
      |""".stripMargin

  /** Simulated commit log: latest committed offset per (group, partition).
    * Carries both the rendered `group_id` and the numeric `g` so consumers
    * never re-parse the id out of the string (a substring parse would
    * silently break past g9).
    */
  def commits(spark: SparkSession, dir: String): DataFrame = {
    val groups = spark.range(0, 4, 1, 1).withColumnRenamed("id", "g")
    leo(spark, dir).crossJoin(groups)
      .select(
        col("g"),
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        col("topic"), col("part"),
        expr("(log_end * (g + 1)) div 5").as("committed"),
        (col("latest_ms") - col("g") * 604800000L).as("commit_ms"),
        col("log_end"))
  }

  private[graft] val commitsSql: String = leoSql +
    """commits AS (
      |  SELECT g, 'g' || CAST(g AS VARCHAR) AS group_id, topic, part,
      |    (log_end * (g + 1)) // 5 AS committed,
      |    latest_ms - g * 604800000 AS commit_ms, log_end
      |  FROM leo CROSS JOIN (SELECT CAST(g AS BIGINT) AS g
      |                       FROM generate_series(0, 3) t(g)))
      |""".stripMargin

  def groupOffsets(spark: SparkSession, dir: String): DataFrame =
    commits(spark, dir).select("group_id", "topic", "part", "committed")

  /** OffsetCommit metadata validation: each commit carries a client
    * metadata string, stored only when it fits the coordinator's
    * offsetMetadataMaxSize (4096 — OffsetConfig.DefaultMaxMetadataSize,
    * /root/reference/kafka-impl/.../coordinator/group/OffsetConfig.java:32);
    * an oversized commit is rejected whole with
    * OFFSET_METADATA_TOO_LARGE and the previously stored offset stands
    * (GroupMetadataManager.java:439,463,560-563,675
    * validateOffsetMetadataLength). Metadata lengths are md5 coins over
    * (group, topic, part) straddling the cap; the stored offset for a
    * rejected commit falls back to the previous commit's position
    * (modeled as the 4/5-scaled prior point of the same commit ladder).
    *
    * Scale: in-row arithmetic on the |groups|·|topics|·|parts| commit
    * frame — no new exchange.
    */
  def offsetCommitValidation(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    commits(spark, dir)
      .withColumn("metadata_len", pmod(md5Long(concat_ws("#",
        lit("commitmeta"), col("group_id"), col("topic"), col("part"))),
        lit(6000L)))
      .withColumn("outcome",
        when(col("metadata_len") <= 4096L, "NONE")
          .otherwise("OFFSET_METADATA_TOO_LARGE"))
      .withColumn("stored_committed",
        when(col("outcome") === "NONE", col("committed"))
          .otherwise(expr("(log_end * g) div 5")))
      .select(col("group_id"), col("topic"), col("part"), col("committed"),
        col("metadata_len"), col("outcome"), col("stored_committed"))
  }

  /** Log-end minus committed: the lag every Kafka monitoring stack computes. */
  def consumerLag(spark: SparkSession, dir: String): DataFrame =
    commits(spark, dir).select(
      col("group_id"), col("topic"), col("part"), col("committed"),
      col("log_end"), (col("log_end") - col("committed")).as("lag"))

  private def topicParts(spark: SparkSession, dir: String): DataFrame =
    LogOps.logBase(spark, dir).select("topic", "part").distinct()

  /** Kafka RangeAssignor: partitions of each topic split into contiguous
    * blocks across 3 members (first np%3 members get one extra).
    */
  def assignRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic").orderBy("part")
    topicParts(spark, dir)
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
      .withColumn("member",
        concat(lit("m"), expr(s"CAST(${rangeMemberExpr(3)} AS STRING)")))
      .select("topic", "part", "member")
  }

  /** Kafka RoundRobinAssignor: all topic-partitions in global order dealt
    * round-robin across 3 members.
    */
  def assignRoundRobin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("topic", "part")
    topicParts(spark, dir)
      .withColumn("member",
        concat(lit("m"), ((row_number().over(w).cast("long") - 1L) % 3).cast("string")))
      .select("topic", "part", "member")
  }

  /** DescribeGroups rollup: member count, assigned partitions, lag summary. */
  def describeGroups(spark: SparkSession, dir: String): DataFrame =
    consumerLag(spark, dir).groupBy("group_id").agg(
      lit(3L).as("n_members"),
      count(lit(1)).as("n_partitions"),
      sum("lag").cast("long").as("total_lag"),
      max("lag").as("max_lag"))

  /** Offset retention: commits older than the cutoff are expired
    * (GroupMetadataManager.cleanupGroupMetadata).
    */
  def offsetExpiration(spark: SparkSession, dir: String): DataFrame =
    commits(spark, dir)
      .filter(col("commit_ms") >= lit(1705708800000L)) // 2024-01-20 00:00 UTC
      .select("group_id", "topic", "part", "committed", "commit_ms")

  /** Member index under the range assignor with `nc` consumers (the
    * arithmetic form of Kafka's RangeAssignor partition split).
    */
  private def rangeMemberExpr(nc: Int): String =
    s"""CASE WHEN idx < ((np div $nc) + 1) * (np % $nc)
       |  THEN idx div ((np div $nc) + 1)
       |  ELSE (np % $nc) + (idx - ((np div $nc) + 1) * (np % $nc)) div (np div $nc)
       |END""".stripMargin

  /** Rebalance impact analysis: which partitions move when the group grows
    * from 3 to 4 members (GroupCoordinator rebalance; the moved set is what
    * an incremental/sticky protocol tries to minimize).
    */
  def rebalanceDiff(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic").orderBy("part")
    topicParts(spark, dir)
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
      .withColumn("member_3", concat(lit("m"), expr(s"CAST(${rangeMemberExpr(3)} AS STRING)")))
      .withColumn("member_4", concat(lit("m"), expr(s"CAST(${rangeMemberExpr(4)} AS STRING)")))
      .withColumn("moved", when(col("member_3") =!= col("member_4"), 1L).otherwise(0L))
      .select("topic", "part", "member_3", "member_4", "moved")
  }

  /** Sticky (cooperative) assignor: when the group grows from 3 round-robin
    * members to 4, each old member keeps its lowest (topic, part) partitions
    * up to the balanced target and releases only the excess to the new
    * member — the minimal moved set (compare rebalance_diff, where the
    * range assignor reshuffles far more). Kafka CooperativeStickyAssignor
    * semantics over the reference's rebalance path
    * (/root/reference/kafka-impl/.../coordinator/group/GroupCoordinator.java).
    */
  def assignSticky(spark: SparkSession, dir: String): DataFrame = {
    val rrW = Window.orderBy("topic", "part")
    val withOld = topicParts(spark, dir)
      .withColumn("gidx", row_number().over(rrW).cast("long") - 1L)
      .withColumn("n_total", count(lit(1)).over(Window.partitionBy()))
      .withColumn("m", col("gidx") % 3L)
    val keepW = Window.partitionBy("m").orderBy("topic", "part")
    withOld
      .withColumn("r", row_number().over(keepW).cast("long"))
      .withColumn("target",
        expr("n_total div 4 + (CASE WHEN m < n_total % 4 THEN 1 ELSE 0 END)"))
      .withColumn("member_old", concat(lit("m"), col("m").cast("string")))
      .withColumn("member_new",
        when(col("r") <= col("target"), col("member_old")).otherwise(lit("m3")))
      .withColumn("moved",
        when(col("member_new") =!= col("member_old"), 1L).otherwise(0L))
      .select("topic", "part", "member_old", "member_new", "moved")
  }

  /** Cursor-cache hit accounting, modeling the reference's
    * KafkaTopicConsumerManager (/root/reference/kafka-impl/.../
    * KafkaTopicConsumerManager.java:54 — cursors keyed by offset; a fetch
    * continues a cached cursor iff it starts exactly where the previous
    * fetch ended, otherwise it pays a seek): each group consumes from its
    * committed offset to the log end in 64-record fetches, so per
    * partition the first fetch is a seek and every subsequent fetch is a
    * cache hit. Closed-form per-partition arithmetic on the leo frame —
    * no per-record work at all.
    */
  def cursorCache(spark: SparkSession, dir: String): DataFrame =
    commits(spark, dir)
      .withColumn("n_fetches",
        expr("(log_end - committed + 63) div 64"))
      .groupBy("group_id", "topic")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("n_fetches").cast("long").as("n_fetches"),
        count(lit(1)).as("n_seeks"),
        (sum("n_fetches") - count(lit(1))).cast("long").as("n_hits"))
      .withColumn("hit_ratio",
        col("n_hits").cast("double") / col("n_fetches").cast("double"))

  /** Cursor-expiry window: a fetch cursor idle past this is deleted
    * (KafkaTopicConsumerManager.deleteExpiredCursor's expirePeriodMillis).
    */
  private val CursorExpiryMs = 604800000L

  /** Cursor expiration sweep — the destructive sibling of [[cursorCache]]
    * (KafkaTopicConsumerManager.java:86-115 `deleteExpiredCursor` /
    * `deleteOneExpiredCursor`: the manager tracks lastAccessTimes per
    * cursor and the periodic sweep deletes any cursor with
    * `current - lastAccess - expirePeriod > 0`, dropping it from the
    * cache and async-deleting the managed cursor so the backlog it
    * pinned can be cleared). Per (group, topic, partition) fetch cursor:
    * the last access time (the commit time plus a deterministic md5
    * jitter, clamped to now — an access cannot be in the future), its
    * idle age at the log head, the DELETED/RETAINED verdict under the
    * one-week expiry window, and the backlog the deletion releases
    * (log_end - committed, the retention the open cursor was pinning).
    *
    * Scale: rides the cached [[leo]] aggregate — the commit frame is
    * |groups|·|partitions| metadata rows; all decisions in-row.
    */
  def cursorExpiration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    commits(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .withColumn("last_access_ms",
        least(col("commit_ms") +
          pmod(md5Long(concat_ws("#", lit("curexp"), col("group_id"),
            col("topic"), col("part").cast("string"))),
            lit(2L * CursorExpiryMs)),
          col("now_ms")))
      .withColumn("idle_ms", col("now_ms") - col("last_access_ms"))
      .withColumn("expired",
        when(col("idle_ms") > CursorExpiryMs, 1L).otherwise(0L))
      .select(
        col("group_id"), col("topic"), col("part"),
        col("committed"), col("log_end"),
        col("last_access_ms"), col("idle_ms"), col("expired"),
        when(col("expired") === 1L, "DELETED").otherwise("RETAINED")
          .as("action"),
        when(col("expired") === 1L, col("log_end") - col("committed"))
          .otherwise(0L).as("backlog_released"))
  }

  /** auto.offset.reset impact: after retention truncates each partition
    * (the `retention` op's surviving range), a group whose committed
    * offset fell off the log must reset — resume at the new earliest,
    * count the records it lost, or (reset=none) fail. The operational
    * query every Kafka on-call runs after a retention misconfiguration.
    * Ref: GroupMetadataManager + Kafka auto.offset.reset semantics;
    * retention cutoffs from KafkaLogConfig (retention.ms).
    */
  def offsetReset(spark: SparkSession, dir: String): DataFrame = {
    val survived = LogOps.retention(spark, dir)
      .select(col("topic"), col("part"), col("new_earliest"))
    commits(spark, dir)
      .join(survived, Seq("topic", "part"))
      .select(
        col("group_id"), col("topic"), col("part"),
        col("committed"), col("new_earliest"),
        greatest(col("committed"), col("new_earliest")).as("resume_at"),
        greatest(col("new_earliest") - col("committed"), lit(0L)).as("n_lost"),
        when(col("committed") < col("new_earliest"), 1L).otherwise(0L)
          .as("reset_needed"))
  }

  /** Static membership (KIP-345) bounce impact: when member m0 bounces,
    * a DYNAMIC group rebalances onto the 2 survivors — every partition
    * whose owner changes pays a revoke/reassign — while a STATIC group
    * (group.instance.id) keeps the assignment and merely pauses m0's
    * partitions until it returns. Per topic: partitions reassigned
    * dynamically vs merely paused statically. Survivor ids shift up
    * (2-member member j is original member j+1).
    * Ref: coordinator/group/GroupCoordinator.java rebalance path; Kafka
    * 2.8-client static membership the reference serves.
    */
  def staticMembershipBounce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic").orderBy("part")
    topicParts(spark, dir)
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
      .withColumn("member_before",
        concat(lit("m"), expr(s"CAST(${rangeMemberExpr(3)} AS STRING)")))
      .withColumn("member_dynamic",
        concat(lit("m"), expr(s"CAST((${rangeMemberExpr(2)}) + 1 AS STRING)")))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_parts"),
        sum(when(col("member_before") =!= col("member_dynamic"), 1L)
          .otherwise(0L)).as("moved_dynamic"),
        sum(when(col("member_before") === "m0", 1L).otherwise(0L))
          .as("paused_static"))
  }

  /** Per-member heartbeat simulation: each of the 3 range-assigned members
    * last heartbeat at the head of its freshest assigned partition, trailed
    * by g*(m+1)*4h — a deterministic function of the data, so group g0 is
    * fully live, g1 has a partial failure, and g2/g3 have fully timed out.
    */
  /** |groups| x |members| rows (12 at the modeled universe) behind two
    * Window passes over [[leo]] — and EIGHT coordinator views compose it
    * (several, like [[groupState]] + protocolSelect + the codec, in ONE
    * plan). Checkpoint-cached like [[leo]]: r17 plan audit measured
    * group_metadata_codec re-planning this subtree 4x per query (9
    * Window+Sort pairs, 13 Exchanges for metadata-sized frames); caching
    * the 12-row result cuts every consumer to pure broadcast joins.
    */
  private[coordinator] def memberHeartbeats(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "events", "Groups.mh") {
      val w = Window.partitionBy("topic").orderBy("part")
      val groups = spark.range(0, 4, 1, 1).withColumnRenamed("id", "g")
      leo(spark, dir)
        .withColumn("idx", row_number().over(w).cast("long") - 1L)
        .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
        .withColumn("m", expr(rangeMemberExpr(3)))
        .crossJoin(groups)
        .groupBy("g", "m")
        .agg(count(lit(1)).as("n_parts"), max("latest_ms").as("hb_base"))
        .withColumn("last_hb_ms",
          col("hb_base") - col("g") * (col("m") + 1L) * lit(14400000L))
        .localCheckpoint()
    }

  private[coordinator] def nowMs(spark: SparkSession, dir: String): DataFrame =
    leo(spark, dir).agg(max("latest_ms").as("now_ms"))

  private[coordinator] val memberHbSql: String =
    s"""pidx AS (
       |  SELECT topic, part, latest_ms,
       |    ROW_NUMBER() OVER (PARTITION BY topic ORDER BY part) - 1 AS idx,
       |    COUNT(*) OVER (PARTITION BY topic) AS np
       |  FROM leo),
       |mh AS (
       |  SELECT g, m, COUNT(*) AS n_parts,
       |    MAX(latest_ms) - g * (m + 1) * 14400000 AS last_hb_ms
       |  FROM (SELECT *, ${rangeMemberSql(3)} AS m FROM pidx)
       |  CROSS JOIN (SELECT CAST(g AS BIGINT) AS g FROM generate_series(0, 3) t(g))
       |  GROUP BY g, m),
       |nw AS (SELECT MAX(latest_ms) AS now_ms FROM leo),
       |""".stripMargin

  /** session.timeout.ms member-eviction sweep: the group coordinator's
    * heartbeat purgatory (DelayedHeartbeat.java:23 `onExpiration` ->
    * GroupCoordinator.onExpireHeartbeat) evaluated as a point-in-time
    * query — a member is evicted iff its last heartbeat is older than the
    * 8h session timeout at the log head. The txn_expire analog for groups.
    * Ref: /root/reference/kafka-impl/.../coordinator/group/DelayedHeartbeat.java:23,
    * GroupCoordinator.java (completeAndScheduleNextHeartbeatExpiration).
    */
  def memberEviction(spark: SparkSession, dir: String): DataFrame =
    memberHeartbeats(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        concat(lit("m"), col("m").cast("string")).as("member"),
        col("n_parts"),
        col("last_hb_ms"),
        (col("now_ms") - col("last_hb_ms")).as("age_ms"),
        when(col("now_ms") - col("last_hb_ms") > 28800000L, 1L).otherwise(0L)
          .as("evicted"))

  /** Tenant-scoped coordinator placement — the multi-tenant refinement
    * of [[coordinatorPlacement]]: the reference bootstraps ONE
    * GroupCoordinator and ONE TransactionCoordinator PER TENANT
    * (/root/reference/kafka-impl/.../TenantContextManager.java:30,38),
    * each owning a tenant-scoped metadata topic
    * (persistent://tenant/__kafka/__consumer_offsets — the
    * MetadataUtils provisioning surface), so the placement chain is
    * entity → tenant → that tenant's coordinator instance → partition
    * of the TENANT's metadata topic → owning broker. Tenants are md5
    * draws per entity; coordinator instance names match
    * [[graft.admin.Admin.tenantSummary]]'s gc-/tc- discipline so the
    * two views cannot disagree about who coordinates whom.
    *
    * Scale: in-row hashing on the |groups| + |txns| metadata frame.
    */
  def tenantCoordinatorPlacement(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.functions.Parity.md5Long
    val groups = spark.range(0, 4, 1, 1).select(
      lit("group").as("entity_type"),
      concat(lit("g"), col("id").cast("string")).as("entity_id"),
      lit("__consumer_offsets").as("meta_topic"))
    val txns = LogOps.logBase(spark, dir)
      .select(pmod(col("event_id"), lit(64L)).as("txn_id")).distinct()
      .select(
        lit("txn").as("entity_type"),
        concat(lit("t"), col("txn_id").cast("string")).as("entity_id"),
        lit("__transaction_state").as("meta_topic"))
    groups.unionByName(txns)
      .withColumn("tenant", concat(lit("t"),
        pmod(md5Long(concat(lit("gtenant#"), col("entity_id"))), lit(3L))
          .cast("string")))
      .withColumn("coordinator",
        when(col("entity_type") === "group",
          concat(lit("gc-"), col("tenant")))
          .otherwise(concat(lit("tc-"), col("tenant"))))
      .withColumn("pulsar_meta_topic",
        concat(lit("persistent://"), col("tenant"), lit("/__kafka/"),
          col("meta_topic")))
      .withColumn("meta_partition",
        pmod(md5Long(col("entity_id")), lit(50L)))
      .withColumn("broker",
        pmod(md5Long(concat_ws("#", col("tenant"), col("meta_topic"),
          col("meta_partition"))), lit(4L)))
      .select(col("entity_type"), col("entity_id"), col("tenant"),
        col("coordinator"), col("pulsar_meta_topic"),
        col("meta_partition"), col("broker"))
  }

  /** JoinGroup request validation — the admission checks of
    * GroupCoordinator.handleJoinGroup
    * (/root/reference/kafka-impl/.../coordinator/group/GroupCoordinator
    * .java:215-246): the client's sessionTimeoutMs must sit inside the
    * broker's [groupMinSessionTimeoutMs, groupMaxSessionTimeoutMs] band
    * (6000..300000, KafkaServiceConfiguration.java:50-51) or the join is
    * rejected INVALID_SESSION_TIMEOUT before any group mutation; then a
    * join that names a member id the group does not know is rejected
    * UNKNOWN_MEMBER_ID, and a protocol-type mismatch against the group's
    * established type rejects INCONSISTENT_GROUP_PROTOCOL (doJoinGroup /
    * GroupMetadata supportsProtocols). Timeouts/protocols/member-id
    * staleness are md5 coins over the (group, member) heartbeat
    * universe, checked in the reference's order.
    *
    * Scale: in-row decisions on the |groups|·|members| metadata frame.
    */
  def joinGroupValidation(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    memberHeartbeats(spark, dir)
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        concat(lit("m"), col("m").cast("string")).as("member"))
      .withColumn("session_timeout_ms",
        element_at(array(lit(3000L), lit(6000L), lit(30000L), lit(100000L),
          lit(300000L), lit(400000L)),
          (pmod(md5Long(concat_ws("#", lit("sesst"), col("group_id"),
            col("member"))), lit(6L)) + 1L).cast("int")))
      .withColumn("protocol_type",
        when(pmod(md5Long(concat_ws("#", lit("proto"), col("group_id"),
          col("member"))), lit(8L)) === 0L, "connect")
          .otherwise("consumer"))
      .withColumn("member_id_known",
        pmod(md5Long(concat_ws("#", lit("knownid"), col("group_id"),
          col("member"))), lit(5L)) =!= 0L)
      .withColumn("outcome",
        when(col("session_timeout_ms") < 6000L ||
          col("session_timeout_ms") > 300000L, "INVALID_SESSION_TIMEOUT")
          .when(!col("member_id_known"), "UNKNOWN_MEMBER_ID")
          .when(col("protocol_type") =!= "consumer",
            "INCONSISTENT_GROUP_PROTOCOL")
          .otherwise("NONE"))
      .select(col("group_id"), col("member"), col("session_timeout_ms"),
        col("protocol_type"), col("member_id_known"), col("outcome"))
  }

  /** GroupState-machine rollup (GroupState.java:21 — Empty /
    * PreparingRebalance / CompletingRebalance / Stable / Dead, transitions
    * documented at :36-47): the point-in-time state of each group after the
    * heartbeat sweep. All members alive => Stable; a detected member
    * failure => PreparingRebalance ("member failure detected via heartbeat");
    * no members but unexpired offsets => Empty ("lingers until all offsets
    * have expired"); no members and no live offsets => Dead.
    * CompletingRebalance is the transient sync-barrier phase between a join
    * round and the leader's assignment — it has no extent in a point-in-time
    * rollup, so it cannot appear here (documented, not missing).
    * Generation bumps once per completed rebalance, i.e. per detected
    * failure: generation = 1 + n_evicted.
    * Ref: /root/reference/kafka-impl/.../coordinator/group/GroupState.java:21,
    * GroupMetadata.java (currentState / generationId).
    */
  def groupState(spark: SparkSession, dir: String): DataFrame = {
    val now = broadcast(nowMs(spark, dir))
    val members = memberHeartbeats(spark, dir)
      .crossJoin(now)
      .groupBy("g")
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("now_ms") - col("last_hb_ms") <= 28800000L, 1L)
          .otherwise(0L)).cast("long").as("n_alive"),
        sum(when(col("now_ms") - col("last_hb_ms") > 28800000L, 1L)
          .otherwise(0L)).cast("long").as("n_evicted"))
    val offsets = commits(spark, dir)
      .crossJoin(now)
      .groupBy("g")
      .agg(sum(when(col("commit_ms") >= col("now_ms") - 1512000000L, 1L)
        .otherwise(0L)).cast("long").as("n_live_offsets"))
    members.join(offsets, Seq("g"))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        (lit(1L) + col("n_evicted")).as("generation"),
        col("n_members"), col("n_alive"), col("n_evicted"),
        col("n_live_offsets"),
        when(col("n_alive") === col("n_members"), "Stable")
          .when(col("n_alive") > 0L, "PreparingRebalance")
          .when(col("n_live_offsets") > 0L, "Empty")
          .otherwise("Dead").as("state"))
  }

  /** Rebalance join-barrier accounting (DelayedJoin purgatory:
    * coordinator/group/DelayedJoin.java:29-49 — `tryComplete` fires when
    * every known member has re-joined, `onExpiration` marks the members
    * that never re-joined as failed and proceeds with the rest; the wait
    * is bounded by rebalance.timeout.ms). One join round per group: each
    * member's join request arrives with its heartbeat age as latency, the
    * barrier completes early (`onComplete`) iff every member re-joins
    * within the 6h rebalance timeout, else waits out the full timeout and
    * evicts the stragglers. This is the extent of [[groupState]]'s
    * transient CompletingRebalance phase: barrier_wait_ms is how long the
    * group sits between PreparingRebalance and Stable.
    *
    * Scale: the member frame is |groups| x |members| — broadcast-sized;
    * only the leo aggregate underneath touches the log.
    */
  def rebalanceJoin(spark: SparkSession, dir: String): DataFrame = {
    val timeoutMs = 21600000L // 6h rebalance.timeout.ms
    memberHeartbeats(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .withColumn("join_delay_ms", col("now_ms") - col("last_hb_ms"))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("join_delay_ms") <= timeoutMs, 1L).otherwise(0L))
          .cast("long").as("n_joined"),
        sum(when(col("join_delay_ms") > timeoutMs, 1L).otherwise(0L))
          .cast("long").as("n_stragglers"),
        max("join_delay_ms").as("max_join_delay_ms"))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        lit(timeoutMs).as("rebalance_timeout_ms"),
        col("n_members"), col("n_joined"), col("n_stragglers"),
        least(col("max_join_delay_ms"), lit(timeoutMs)).as("barrier_wait_ms"),
        when(col("n_stragglers") === 0L, "OnComplete").otherwise("OnExpiration")
          .as("completed_via"))
  }

  /** Per-member ConsumerProtocolAssignment frame size under the range
    * assignor — what a SyncGroup response actually ships: version (2) +
    * topic-array length (4) + per owned topic (name length prefix (2) +
    * name + partition-array length (4) + 4 bytes per partition index) +
    * user-data length prefix (4). Composes the assign_range map so the
    * bytes Sync distributes are exactly the assignor's output.
    */
  private[coordinator] def memberAssignmentBytes(spark: SparkSession, dir: String)
      : DataFrame =
    // 3-row result behind the same Window-over-topicParts subtree as
    // [[memberHeartbeats]]; checkpoint-cached for the same reason.
    graft.FrameCache.get(spark, dir, "events", "Groups.mab") {
      val w = Window.partitionBy("topic").orderBy("part")
      topicParts(spark, dir)
        .withColumn("idx", row_number().over(w).cast("long") - 1L)
        .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
        .withColumn("m", expr(rangeMemberExpr(3)))
        .groupBy("m", "topic")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("m")
        .agg((lit(10L) + sum(lit(2L) + length(col("topic")).cast("long") +
          lit(4L) + lit(4L) * col("cnt"))).cast("long")
          .as("assignment_bytes"))
        .localCheckpoint()
    }

  /** SyncGroup decision table — the rebalance's second barrier
    * (GroupCoordinator.handleSyncGroup / doSyncGroup,
    * /root/reference/kafka-impl/.../coordinator/group/GroupCoordinator
    * .java:439-520; request entry KafkaRequestHandler.java:1945). Per
    * (group, member), the checks in the reference's order: a coordinator
    * still loading the group's metadata partition answers
    * REBALANCE_IN_PROGRESS before any member validation — the reference
    * deliberately maps COORDINATOR_LOAD_IN_PROGRESS to it because older
    * clients do not know the loading error (:462-470, the `loading`
    * group coin); an unknown member id — a coin, or a join-barrier
    * straggler the expiration already removed (DelayedJoin.onExpiration)
    * — fails UNKNOWN_MEMBER_ID (:497); a stale request generation fails
    * ILLEGAL_GENERATION (:499); Empty/Dead groups answer
    * UNKNOWN_MEMBER_ID (:503-506);
    * CompletingRebalance parks followers and lets the LEADER
    * (lowest member that made the barrier — the first joiner) persist
    * the full per-member assignment map and transition the group to
    * Stable (:512-545); a Stable sync just returns the member's stored
    * assignment (:547-550). Assignment sizes come from
    * [[memberAssignmentBytes]] (the assign_range output), so the bytes
    * the leader ships up (`leader_payload_bytes`, summed over the
    * members that made the barrier) and the slice each member gets back
    * (`response_bytes`) are the assignor's real output.
    *
    * Scale: every frame here is |groups| x |members| metadata off the one
    * leo aggregation; joins are broadcasts.
    */
  def syncGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val timeoutMs = 21600000L // rebalance.timeout.ms, as rebalance_join
    val gstate = groupState(spark, dir)
      .select(col("group_id"), col("generation"), col("state"))
    val mh = memberHeartbeats(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        col("m"),
        concat(lit("m"), col("m").cast("string")).as("member"),
        col("n_parts"),
        (col("now_ms") - col("last_hb_ms")).as("join_delay_ms"))
      .withColumn("straggler",
        when(col("join_delay_ms") > timeoutMs, 1L).otherwise(0L))
    val leader = mh.filter(col("straggler") === 0L)
      .groupBy("group_id").agg(min("m").as("leader_m"))
    val bytes = memberAssignmentBytes(spark, dir)
    val payload = mh.join(broadcast(bytes), "m")
      .filter(col("straggler") === 0L)
      .groupBy("group_id")
      .agg(sum("assignment_bytes").cast("long").as("group_payload_bytes"))
    mh.join(broadcast(bytes), "m")
      .join(broadcast(gstate), "group_id")
      .join(broadcast(leader), Seq("group_id"), "left")
      .join(broadcast(payload), Seq("group_id"), "left")
      .withColumn("loading",
        pmod(md5Long(concat_ws("#", lit("syncload"), col("group_id"))),
          lit(4L)) === 0L)
      .withColumn("known",
        pmod(md5Long(concat_ws("#", lit("syncknown11"), col("group_id"),
          col("member"))), lit(6L)) =!= 0L)
      .withColumn("gen_ok",
        pmod(md5Long(concat_ws("#", lit("syncgen1"), col("group_id"),
          col("member"))), lit(5L)) =!= 0L)
      .withColumn("req_generation",
        when(col("gen_ok"), col("generation"))
          .otherwise(col("generation") - 1L))
      // Post-barrier vantage (the sync round FOLLOWS the join round, and
      // stragglers were removed at its expiration), so a rebalancing
      // group sits in CompletingRebalance here, never PreparingRebalance.
      .withColumn("state_at_sync",
        when(col("state").isin("Empty", "Dead"), col("state"))
          .when(col("state") === "Stable", lit("Stable"))
          .otherwise(lit("CompletingRebalance")))
      .withColumn("is_leader",
        when(col("leader_m").isNotNull && col("m") === col("leader_m"), 1L)
          .otherwise(0L))
      .withColumn("outcome",
        when(col("loading"), "REBALANCE_IN_PROGRESS")
          .when(!col("known") || col("straggler") === 1L,
            "UNKNOWN_MEMBER_ID")
          .when(!col("gen_ok"), "ILLEGAL_GENERATION")
          .when(col("state_at_sync").isin("Empty", "Dead"),
            "UNKNOWN_MEMBER_ID")
          .otherwise("NONE"))
      .select(
        col("group_id"), col("member"), col("state_at_sync"),
        col("generation"), col("req_generation"), col("is_leader"),
        col("outcome"),
        col("n_parts").as("assigned_parts"),
        col("assignment_bytes").as("member_assignment_bytes"),
        when(col("outcome") === "NONE", col("assignment_bytes"))
          .otherwise(0L).as("response_bytes"),
        when(col("outcome") === "NONE" && col("is_leader") === 1L &&
          col("state_at_sync") === "CompletingRebalance",
          coalesce(col("group_payload_bytes"), lit(0L)))
          .otherwise(0L).as("leader_payload_bytes"))
  }

  /** Heartbeat decision table — the liveness beat every consumer sends
    * between poll()s (GroupCoordinator.handleHeartbeat,
    * /root/reference/kafka-impl/.../coordinator/group/GroupCoordinator
    * .java:658-718; request entry KafkaRequestHandler.java:1975). Per
    * (group, member) in the reference's check order: a loading
    * coordinator answers NONE BLINDLY — the one validateGroupStatus
    * error handleHeartbeat deliberately swallows (:662-664, "respond
    * just blindly"), so `blind_accept` marks beats that were acked
    * without any member validation; Dead/Empty groups answer
    * UNKNOWN_MEMBER_ID (:675-679); a member the group does not hold —
    * session-timeout evicted (the [[memberEviction]] sweep) or the
    * unknown-id draw — answers UNKNOWN_MEMBER_ID in every live state;
    * CompletingRebalance answers REBALANCE_IN_PROGRESS without a
    * generation check (:681-686, the sync barrier is still open);
    * PreparingRebalance checks the generation (ILLEGAL_GENERATION on
    * mismatch) and answers REBALANCE_IN_PROGRESS with the heartbeat
    * deadline EXTENDED (:688-697 completeAndScheduleNextHeartbeat-
    * Expiration — `hb_scheduled`); Stable likewise but answers NONE
    * (:699-709). A rebalancing group splits Preparing-vs-Completing by
    * a deterministic phase draw (the barrier vantage sync_group fixes
    * post-barrier is genuinely bimodal mid-beat).
    *
    * Scale: |groups| x |members| metadata frames over the shared
    * [[groupState]] machine; only the leo aggregate touches the log.
    */
  def heartbeat(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val gstate = groupState(spark, dir)
      .select(col("group_id"), col("generation"), col("state"))
    val mh = memberHeartbeats(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        concat(lit("m"), col("m").cast("string")).as("member"),
        (col("now_ms") - col("last_hb_ms")).as("hb_age_ms"))
      .withColumn("alive",
        when(col("hb_age_ms") <= 28800000L, 1L).otherwise(0L))
    mh.join(broadcast(gstate), "group_id")
      .withColumn("loading",
        pmod(md5Long(concat_ws("#", lit("hbload1"), col("group_id"))),
          lit(5L)) === 0L)
      .withColumn("known",
        col("alive") === 1L &&
          pmod(md5Long(concat_ws("#", lit("hbknown"), col("group_id"),
            col("member"))), lit(6L)) =!= 0L)
      .withColumn("gen_ok",
        pmod(md5Long(concat_ws("#", lit("hbgen3"), col("group_id"),
          col("member"))), lit(5L)) =!= 0L)
      .withColumn("state_at_hb",
        when(col("state") === "PreparingRebalance" &&
          pmod(md5Long(concat_ws("#", lit("hbphase"), col("group_id"))),
            lit(2L)) === 0L, lit("CompletingRebalance"))
          .otherwise(col("state")))
      .withColumn("outcome",
        when(col("loading"), "NONE")
          .when(col("state_at_hb").isin("Dead", "Empty"),
            "UNKNOWN_MEMBER_ID")
          .when(!col("known"), "UNKNOWN_MEMBER_ID")
          .when(col("state_at_hb") === "CompletingRebalance",
            "REBALANCE_IN_PROGRESS")
          .when(!col("gen_ok"), "ILLEGAL_GENERATION")
          .when(col("state_at_hb") === "PreparingRebalance",
            "REBALANCE_IN_PROGRESS")
          .otherwise("NONE"))
      .select(
        col("group_id"), col("member"), col("state_at_hb"),
        col("generation"),
        when(col("gen_ok"), col("generation"))
          .otherwise(col("generation") - 1L).as("req_generation"),
        col("hb_age_ms"),
        when(col("loading"), 1L).otherwise(0L).as("blind_accept"),
        col("outcome"),
        when(!col("loading") && col("known") && col("gen_ok") &&
          col("state_at_hb").isin("PreparingRebalance", "Stable"), 1L)
          .otherwise(0L).as("hb_scheduled"))
  }

  /** Graceful LeaveGroup impact — the counterpart of [[memberEviction]]'s
    * session-timeout path (GroupCoordinator.handleLeaveGroup,
    * /root/reference/kafka-impl/.../coordinator/group/GroupCoordinator
    * .java:565-690; request entry KafkaRequestHandler.java:1998). Per
    * (group, member): a Dead group answers COORDINATOR_NOT_AVAILABLE
    * (:571); a member the group does not hold — an Empty group, a
    * member the heartbeat sweep already evicted, or the unknown-id coin
    * — answers UNKNOWN_MEMBER_ID (:573); otherwise the member is removed
    * (removeHeartbeatForLeavingMember + removeMemberAndUpdateGroup,
    * :576-583), which RELEASES its range-assigned partitions and
    * triggers a rebalance when the group was Stable (maybePrepareRebalance
    * — an in-flight PreparingRebalance just re-checks its join barrier).
    * The moved-set columns contrast the assignors on the survivor
    * re-assignment: the range assignor re-splits every topic across the
    * 2 survivors and moves `moved_other_range` partitions that the
    * leaver never owned, while the sticky assignor keeps every survivor
    * partition in place (`moved_other_sticky` = 0 — the assign_sticky
    * minimal-move property) and only redistributes the released set.
    *
    * Scale: |groups| x |members| metadata frames; the moved-set rollup is
    * one pass over the broadcast-sized (topic, part) universe per member.
    */
  def leaveGroup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val gstate = groupState(spark, dir)
      .select(col("group_id"), col("generation"), col("state"))
    val mh = memberHeartbeats(spark, dir)
      .crossJoin(broadcast(nowMs(spark, dir)))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        col("m"),
        concat(lit("m"), col("m").cast("string")).as("member"),
        col("n_parts"),
        (col("now_ms") - col("last_hb_ms")).as("age_ms"))
      .withColumn("alive",
        when(col("age_ms") <= 28800000L, 1L).otherwise(0L))
    val w = Window.partitionBy("topic").orderBy("part")
    val members = spark.range(0, 3, 1, 1).select(col("id").as("lm"))
    val moved = topicParts(spark, dir)
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("np", count(lit(1)).over(Window.partitionBy("topic")))
      .withColumn("o", expr(rangeMemberExpr(3)))
      .withColumn("new2", expr(rangeMemberExpr(2)))
      .crossJoin(broadcast(members))
      // Survivor list after lm leaves, sorted: the 2-consumer range slot
      // new2 maps onto the surviving original member ids.
      .withColumn("new_owner",
        when(col("lm") === 0L, col("new2") + 1L)
          .when(col("lm") === 1L,
            when(col("new2") === 0L, 0L).otherwise(2L))
          .otherwise(col("new2")))
      .filter(col("o") =!= col("lm"))
      .groupBy("lm")
      .agg(sum(when(col("new_owner") =!= col("o"), 1L).otherwise(0L))
        .cast("long").as("moved_range"))
    mh.join(broadcast(gstate), "group_id")
      .join(broadcast(moved), col("m") === col("lm"))
      .withColumn("member_known",
        col("alive") === 1L &&
          pmod(md5Long(concat_ws("#", lit("leaveknown"), col("group_id"),
            col("member"))), lit(6L)) =!= 0L)
      .withColumn("outcome",
        when(col("state") === "Dead", "COORDINATOR_NOT_AVAILABLE")
          .when(col("state") === "Empty" || !col("member_known"),
            "UNKNOWN_MEMBER_ID")
          .otherwise("NONE"))
      .withColumn("rebalance_triggered",
        when(col("outcome") === "NONE" && col("state") === "Stable", 1L)
          .otherwise(0L))
      .select(
        col("group_id"), col("member"),
        col("state").as("state_before"), col("member_known"),
        col("outcome"),
        when(col("outcome") === "NONE", col("n_parts")).otherwise(0L)
          .as("released_parts"),
        when(col("outcome") === "NONE", col("moved_range")).otherwise(0L)
          .as("moved_other_range"),
        lit(0L).as("moved_other_sticky"),
        col("rebalance_triggered"),
        (col("generation") + col("rebalance_triggered"))
          .as("generation_after"),
        when(col("outcome") === "NONE", lit("PreparingRebalance"))
          .otherwise(col("state")).as("state_after"))
  }

  /** Rebalance protocol election (GroupMetadata.java:361 `selectProtocol`:
    * candidates = protocols supported by every member; each member votes
    * for the candidate it prefers most; the protocol with the most votes
    * wins). Members advertise subsets of {range, roundrobin, sticky}:
    * range always (the guaranteed common candidate), the others by a
    * deterministic md5 coin on (group, member, protocol); member m's
    * preference order is the universe rotated by m (m0 prefers range,
    * m1 roundrobin, m2 sticky). Vote-count ties break to the
    * lexicographically smallest protocol — a documented modeling choice
    * (the reference's stream-max tie order is JVM-map iteration order,
    * which no engine-independent oracle can reproduce).
    */
  def protocolSelect(spark: SparkSession, dir: String): DataFrame = {
    val protos = spark.range(0, 3, 1, 1).select(
      col("id").cast("long").as("pidx"),
      element_at(
        array(lit("range"), lit("roundrobin"), lit("sticky")),
        (col("id") + 1).cast("int")).as("p"))
    val members = spark.range(0, 4, 1, 1).withColumnRenamed("id", "g")
      .crossJoin(spark.range(0, 3, 1, 1).withColumnRenamed("id", "m"))
    val support = members.crossJoin(broadcast(protos))
      .withColumn("supported",
        when(col("p") === "range", 1L)
          .when(substring(md5(concat_ws("#",
            col("g").cast("string"), col("m").cast("string"), col("p"))), 1, 1)
            .isin("0", "1", "2", "3"), 0L)
          .otherwise(1L))
    val candW = Window.partitionBy("g", "p")
    val votes = support
      .withColumn("candidate", min("supported").over(candW))
      .filter(col("candidate") === 1L)
      // preference rank of protocol pidx for member m under rotation-by-m
      .withColumn("pref", pmod(col("pidx") - col("m"), lit(3L)))
      .groupBy("g", "m")
      .agg(min(struct(col("pref"), col("p"))).as("best"))
      .select(col("g"), col("m"), col("best.p").as("vote"))
    val counted = votes.groupBy("g", "vote").agg(count(lit(1)).as("n_votes"))
    val sel = Window.partitionBy("g").orderBy(col("n_votes").desc, col("vote"))
    counted
      .withColumn("rn", row_number().over(sel))
      .filter(col("rn") === 1)
      .join(
        votes.groupBy("g").agg(countDistinct("vote").as("n_distinct_votes")),
        Seq("g"))
      .select(
        concat(lit("g"), col("g").cast("string")).as("group_id"),
        col("vote").as("selected_protocol"),
        col("n_votes"),
        col("n_distinct_votes"),
        when(col("n_votes") === 3L, 1L).otherwise(0L).as("unanimous"))
  }

  /** Coordinator metadata placement (GroupMetadataManager.java:299
    * `partitionFor(groupId)` = hash(groupId) % offsets-topic partitions;
    * TransactionStateManager.java:376 likewise for transactional ids):
    * each group id maps to a partition of __consumer_offsets and each
    * transactional id to a partition of __transaction_state (50 partitions
    * each, the Kafka default); the broker owning that metadata partition
    * coordinates the entity. Hashing is the engine-portable md5 map (the
    * same discipline as [[graft.txn.Transactions.producerIdBlocks]]'s
    * broker placement, documented in SURVEY §3 parity rules).
    */
  def coordinatorPlacement(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val groups = spark.range(0, 4, 1, 1).select(
      lit("group").as("entity_type"),
      concat(lit("g"), col("id").cast("string")).as("entity_id"),
      lit("__consumer_offsets").as("meta_topic"))
    val txns = LogOps.logBase(spark, dir)
      .select(pmod(col("event_id"), lit(64L)).as("txn_id")).distinct()
      .select(
        lit("txn").as("entity_type"),
        concat(lit("t"), col("txn_id").cast("string")).as("entity_id"),
        lit("__transaction_state").as("meta_topic"))
    groups.unionByName(txns)
      .withColumn("meta_partition", pmod(md5Long(col("entity_id")), lit(50L)))
      .withColumn("broker",
        pmod(md5Long(concat(col("meta_topic"), lit("#"),
          col("meta_partition").cast("string"))), lit(4L)))
  }

  /** DeleteGroups impact (KafkaRequestHandler.java:2161,
    * GroupCoordinator.handleDeleteGroups) — the destructive sibling of
    * [[offsetExpiration]]: a DeleteGroups call succeeds only against an
    * Empty group (offsets purged, state -> Dead); a Dead group answers
    * GROUP_ID_NOT_FOUND; a group with live members answers
    * NON_EMPTY_GROUP and nothing is purged. Composes [[groupState]]'s
    * point-in-time state with the commit ledger to report, per group, the
    * request outcome and exactly how many committed offsets deletion
    * would purge.
    */
  def deleteGroups(spark: SparkSession, dir: String): DataFrame = {
    val st = groupState(spark, dir)
      .select(col("group_id"), col("state").as("state_before"))
    val offs = commits(spark, dir).groupBy("group_id")
      .agg(count(lit(1)).as("n_offsets"))
    st.join(offs, Seq("group_id"))
      .withColumn("result",
        when(col("state_before") === "Empty", "DELETED")
          .when(col("state_before") === "Dead", "GROUP_ID_NOT_FOUND")
          .otherwise("NON_EMPTY_GROUP"))
      .select(
        col("group_id"), col("state_before"), col("n_offsets"), col("result"),
        when(col("result") === "DELETED", col("n_offsets")).otherwise(0L)
          .as("n_offsets_purged"),
        when(col("result") === "DELETED", lit("Dead"))
          .otherwise(col("state_before")).as("state_after"))
  }

  /** Offsets-topic replay accounting — what the coordinator rebuilds at
    * startup/failover when it loads a __consumer_offsets partition
    * (GroupMetadataManager.doLoadGroupsAndOffsets,
    * /root/reference/kafka-impl/.../coordinator/group/GroupMetadataManager
    * .java:718-920). Per (offsets-topic partition, group), the replay in
    * the reference's record order: the plain offset-commit records load
    * into loadedOffsets (:884-897); an expiration tombstone (value-less
    * record, the [[offsetExpiration]] cutoff) REMOVES the entry (:876-881
    * `loadedOffsets.remove`); transactional offset-commits park in
    * pendingOffsets keyed by producerId (:869-874, :890-895) until the
    * control batch lands — COMMIT folds them into loadedOffsets
    * (newest-batch-wins, :838-848), ABORT just drops the pending map
    * (:850 `pendingOffsets.remove`), and a transaction still open at the
    * partition end stays pending and restores NOTHING (`n_txn_pending_end`
    * — the read-committed property of the load path); a group-metadata
    * tombstone (the [[deleteGroups]] DELETED verdict) moves the group to
    * removedGroups and its offset tombstones drop every entry (:900-907).
    * `n_live_offsets` is the cache the coordinator serves after load;
    * `meta_partition` is the [[coordinatorPlacement]] md5 mapping, so the
    * replay accounting sits on the same partition the placement view says
    * owns the group. The has-txn / txn-id draws are deterministic md5
    * coins; the fate is the SHARED [[graft.txn.Transactions.txnFate]]
    * draw every transaction view samples.
    *
    * Scale: rides the cached [[leo]] aggregate — |groups| metadata rows;
    * nothing data-sized beyond the shared one-pass scan.
    */
  def offsetsLoadReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val cutoff = 1705708800000L // the offsetExpiration retention fence
    val perGroup = commits(spark, dir)
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("commit_ms") < cutoff, 1L).otherwise(0L)).cast("long")
          .as("n_expired"))
    val del = deleteGroups(spark, dir)
      .select(col("group_id"),
        when(col("result") === "DELETED", 1L).otherwise(0L)
          .as("group_tombstone"))
    perGroup.join(broadcast(del), "group_id")
      .withColumn("has_txn",
        pmod(md5Long(concat(lit("rh1#"), col("group_id"))), lit(4L)) < 3L)
      .withColumn("txn_id",
        when(col("has_txn"),
          pmod(md5Long(concat(lit("rt22#"), col("group_id"))), lit(64L)))
          .otherwise(lit(-1L)))
      .withColumn("txn_fate",
        when(!col("has_txn"), "NONE")
          .otherwise(graft.txn.Transactions.txnFate(col("txn_id"))))
      .withColumn("n_txn_offset_records",
        when(col("has_txn"), col("n_parts")).otherwise(0L))
      .withColumn("n_txn_applied",
        when(col("txn_fate") === "COMMITTED", col("n_parts")).otherwise(0L))
      .withColumn("n_txn_discarded",
        when(col("txn_fate") === "ABORTED", col("n_parts")).otherwise(0L))
      .withColumn("n_txn_pending_end",
        when(col("txn_fate") === "ONGOING", col("n_parts")).otherwise(0L))
      .withColumn("n_control_records",
        when(col("txn_fate").isin("COMMITTED", "ABORTED"), 1L).otherwise(0L))
      .withColumn("n_live_offsets",
        when(col("group_tombstone") === 1L, 0L)
          .when(col("txn_fate") === "COMMITTED", col("n_parts"))
          .otherwise(col("n_parts") - col("n_expired")))
      .withColumn("n_records_replayed",
        col("n_parts") + col("n_expired") + col("n_txn_offset_records") +
          col("n_control_records") + lit(1L) +
          col("group_tombstone") * (lit(1L) + col("n_parts")))
      .select(
        pmod(md5Long(col("group_id")), lit(50L)).as("meta_partition"),
        col("group_id"), col("n_parts").as("n_offset_records"),
        col("n_expired").as("n_expired_tombstones"),
        col("txn_fate"), col("n_txn_offset_records"), col("n_txn_applied"),
        col("n_txn_discarded"), col("n_txn_pending_end"),
        col("group_tombstone"),
        (lit(1L) - col("group_tombstone")).as("group_loaded"),
        col("n_live_offsets"), col("n_records_replayed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sync_group" -> syncGroup,
    "heartbeat" -> heartbeat,
    "leave_group" -> leaveGroup,
    "offsets_load_replay" -> offsetsLoadReplay,
    "delete_groups" -> deleteGroups,
    "rebalance_join" -> rebalanceJoin,
    "protocol_select" -> protocolSelect,
    "coordinator_placement" -> coordinatorPlacement,
    "tenant_coordinator_placement" -> tenantCoordinatorPlacement,
    "member_eviction" -> memberEviction,
    "group_state" -> groupState,
    "static_membership" -> staticMembershipBounce,
    "offset_reset" -> offsetReset,
    "cursor_cache" -> cursorCache,
    "cursor_expiration" -> cursorExpiration,
    "assign_sticky" -> assignSticky,
    "rebalance_diff" -> rebalanceDiff,
    "group_offsets" -> groupOffsets,
    "offset_commit_validation" -> offsetCommitValidation,
    "join_group_validation" -> joinGroupValidation,
    "consumer_lag" -> consumerLag,
    "assign_range" -> assignRange,
    "assign_roundrobin" -> assignRoundRobin,
    "describe_groups" -> describeGroups,
    "offset_expiration" -> offsetExpiration)

  private val L = LogOps.logSqlCte

  private[coordinator] def rangeMemberSql(nc: Int): String =
    s"""CASE WHEN idx < ((np // $nc) + 1) * (np % $nc)
       |    THEN idx // ((np // $nc) + 1)
       |    ELSE (np % $nc) + (idx - ((np // $nc) + 1) * (np % $nc)) // (np // $nc)
       |  END""".stripMargin

  /** The [[groupState]] state machine as a CTE chain (continues
    * memberHbSql; ends with `gs(group_id, generation, n_members, n_alive,
    * n_evicted, n_live_offsets, state)`) — one definition shared by the
    * group_state and delete_groups oracles so the two cannot drift.
    */
  /** The range-assignor member-assignment-bytes frame as a reusable CTE
    * (no leading comma; ends with `ab(m, assignment_bytes)`), continuing
    * memberHbSql's `pidx` — ONE SQL spelling of
    * [[memberAssignmentBytes]], shared by the sync_group and
    * group_metadata_codec oracles so the byte model cannot drift.
    */
  private[coordinator] lazy val abSql: String =
    s"""ab AS (
       |  SELECT m, CAST(10 + SUM(2 + length(topic) + 4 + 4 * cnt)
       |    AS BIGINT) AS assignment_bytes
       |  FROM (SELECT ${rangeMemberSql(3)} AS m, topic, COUNT(*) AS cnt
       |        FROM pidx GROUP BY 1, 2)
       |  GROUP BY m)""".stripMargin

  private[coordinator] val gstateSql: String =
    """members AS (
      |  SELECT g, COUNT(*) AS n_members,
      |    CAST(SUM(CASE WHEN now_ms - last_hb_ms <= 28800000 THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_alive,
      |    CAST(SUM(CASE WHEN now_ms - last_hb_ms > 28800000 THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_evicted
      |  FROM mh CROSS JOIN nw GROUP BY g),
      |offs AS (
      |  SELECT g, CAST(SUM(CASE WHEN commit_ms >= now_ms - 1512000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_live_offsets
      |  FROM commits CROSS JOIN nw GROUP BY g),
      |gs AS (
      |  SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
      |    1 + n_evicted AS generation,
      |    n_members, n_alive, n_evicted, n_live_offsets,
      |    CASE WHEN n_alive = n_members THEN 'Stable'
      |         WHEN n_alive > 0 THEN 'PreparingRebalance'
      |         WHEN n_live_offsets > 0 THEN 'Empty'
      |         ELSE 'Dead' END AS state
      |  FROM members JOIN offs USING (g))
      |""".stripMargin

  /** The [[protocolSelect]] election as a reusable CTE chain (no WITH
    * prefix, no trailing comma; ends with `psel(g, vote, n_votes)` — the
    * winner per group — and `pnd(g, n_distinct_votes)`). CTE names are
    * p-prefixed so the chain composes next to gstateSql/memberHbSql
    * without collisions. One definition shared by the protocol_select and
    * group_metadata_codec oracles so the election cannot drift.
    */
  /** The DeleteGroups verdict as a reusable CTE chain (no leading comma;
    * continues `gs`; ends with `delres(group_id, state_before, n_offsets,
    * result)`) — ONE SQL spelling of the [[deleteGroups]] outcome rule,
    * shared by the delete_groups and offsets_load_replay oracles so the
    * group-tombstone derivation cannot drift from the verdict (the Spark
    * side of offsets_load_replay derives its tombstone FROM deleteGroups'
    * DELETED result, so the oracle must too).
    */
  private[coordinator] val delVerdictSql: String =
    """oc AS (
      |  SELECT group_id, COUNT(*) AS n_offsets FROM commits GROUP BY group_id),
      |delres AS (
      |  SELECT gs.group_id, gs.state AS state_before, oc.n_offsets,
      |    CASE WHEN gs.state = 'Empty' THEN 'DELETED'
      |         WHEN gs.state = 'Dead' THEN 'GROUP_ID_NOT_FOUND'
      |         ELSE 'NON_EMPTY_GROUP' END AS result
      |  FROM gs JOIN oc ON oc.group_id = gs.group_id)""".stripMargin

  private[coordinator] val protoVoteSql: String =
    """pmembers AS (
      |  SELECT CAST(g AS BIGINT) AS g, CAST(m AS BIGINT) AS m
      |  FROM generate_series(0, 3) tg(g)
      |  CROSS JOIN generate_series(0, 2) tm(m)),
      |protos AS (
      |  SELECT * FROM (VALUES ('range', 0), ('roundrobin', 1), ('sticky', 2))
      |    pr(p, pidx)),
      |support AS (
      |  SELECT g, m, p, pidx,
      |    CASE WHEN p = 'range' THEN 1
      |         WHEN substring(md5(CAST(g AS VARCHAR) || '#' ||
      |           CAST(m AS VARCHAR) || '#' || p), 1, 1)
      |           IN ('0','1','2','3') THEN 0 ELSE 1 END AS supported
      |  FROM pmembers CROSS JOIN protos),
      |pcand AS (
      |  SELECT *, MIN(supported) OVER (PARTITION BY g, p) AS candidate
      |  FROM support),
      |pvotes AS (
      |  SELECT g, m, p AS vote FROM (
      |    SELECT g, m, p, ROW_NUMBER() OVER (PARTITION BY g, m
      |      ORDER BY ((pidx - m) % 3 + 3) % 3) AS rn
      |    FROM pcand WHERE candidate = 1)
      |  WHERE rn = 1),
      |pcounted AS (
      |  SELECT g, vote, COUNT(*) AS n_votes FROM pvotes GROUP BY g, vote),
      |psel AS (
      |  SELECT g, vote, n_votes FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY g
      |      ORDER BY n_votes DESC, vote) AS rn
      |    FROM pcounted)
      |  WHERE rn = 1),
      |pnd AS (
      |  SELECT g, CAST(COUNT(DISTINCT vote) AS BIGINT) AS n_distinct_votes
      |  FROM pvotes GROUP BY g)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Chains the one gstate definition plus the member/assignment frames —
    // sync decisions derive from the identical state machine the
    // group_state / delete_groups oracles use.
    "sync_group" -> (L + commitsSql.stripSuffix("\n") + ",\n" + memberHbSql +
      gstateSql +
      s""", mh2 AS (
        |  SELECT g, m, n_parts, now_ms - last_hb_ms AS join_delay_ms,
        |    CASE WHEN now_ms - last_hb_ms > 21600000 THEN 1 ELSE 0 END
        |      AS straggler
        |  FROM mh CROSS JOIN nw),
        |ldr AS (
        |  SELECT g, MIN(m) AS leader_m FROM mh2 WHERE straggler = 0
        |  GROUP BY g),
        |$abSql,
        |pay AS (
        |  SELECT g, CAST(SUM(assignment_bytes) AS BIGINT)
        |    AS group_payload_bytes
        |  FROM mh2 JOIN ab USING (m) WHERE straggler = 0 GROUP BY g),
        |d AS (
        |  SELECT mh2.g, mh2.m, 'g' || CAST(mh2.g AS VARCHAR) AS group_id,
        |    'm' || CAST(mh2.m AS VARCHAR) AS member,
        |    mh2.n_parts, mh2.straggler, ab.assignment_bytes,
        |    gs.generation, gs.state, ldr.leader_m, pay.group_payload_bytes
        |  FROM mh2 JOIN ab USING (m)
        |  JOIN gs ON gs.group_id = 'g' || CAST(mh2.g AS VARCHAR)
        |  LEFT JOIN ldr ON ldr.g = mh2.g
        |  LEFT JOIN pay ON pay.g = mh2.g),
        |e AS (
        |  SELECT *,
        |    ${md5LongSql("concat_ws('#', 'syncload', group_id)")} % 4 = 0
        |      AS loading,
        |    ${md5LongSql(
             "concat_ws('#', 'syncknown11', group_id, member)")} % 6 <> 0
        |      AS known,
        |    ${md5LongSql(
             "concat_ws('#', 'syncgen1', group_id, member)")} % 5 <> 0
        |      AS gen_ok,
        |    CASE WHEN leader_m IS NOT NULL AND m = leader_m THEN 1 ELSE 0
        |      END AS is_leader
        |  FROM d),
        |f AS (
        |  SELECT *,
        |    CASE WHEN state IN ('Empty', 'Dead') THEN state
        |         WHEN state = 'Stable' THEN 'Stable'
        |         ELSE 'CompletingRebalance' END AS state_at_sync
        |  FROM e),
        |h AS (
        |  SELECT *,
        |    CASE WHEN loading THEN 'REBALANCE_IN_PROGRESS'
        |         WHEN NOT known OR straggler = 1 THEN 'UNKNOWN_MEMBER_ID'
        |         WHEN NOT gen_ok THEN 'ILLEGAL_GENERATION'
        |         WHEN state_at_sync IN ('Empty', 'Dead')
        |           THEN 'UNKNOWN_MEMBER_ID'
        |         ELSE 'NONE' END AS outcome
        |  FROM f)
        |SELECT group_id, member, state_at_sync, generation,
        |  CASE WHEN gen_ok THEN generation ELSE generation - 1 END
        |    AS req_generation,
        |  CAST(is_leader AS BIGINT) AS is_leader, outcome,
        |  n_parts AS assigned_parts,
        |  assignment_bytes AS member_assignment_bytes,
        |  CASE WHEN outcome = 'NONE' THEN assignment_bytes ELSE 0 END
        |    AS response_bytes,
        |  CASE WHEN outcome = 'NONE' AND is_leader = 1
        |      AND state_at_sync = 'CompletingRebalance'
        |    THEN COALESCE(group_payload_bytes, 0) ELSE 0 END
        |    AS leader_payload_bytes
        |FROM h""".stripMargin),
    // Same gs chain; the beat decisions derive from the identical state
    // machine, with the loading/known/generation/phase draws mirrored.
    "heartbeat" -> (L + commitsSql.stripSuffix("\n") + ",\n" + memberHbSql +
      gstateSql +
      s""", mh2 AS (
        |  SELECT g, m, now_ms - last_hb_ms AS hb_age_ms,
        |    CASE WHEN now_ms - last_hb_ms <= 28800000 THEN 1 ELSE 0 END
        |      AS alive
        |  FROM mh CROSS JOIN nw),
        |d AS (
        |  SELECT 'g' || CAST(mh2.g AS VARCHAR) AS group_id,
        |    'm' || CAST(mh2.m AS VARCHAR) AS member,
        |    mh2.hb_age_ms, mh2.alive, gs.generation, gs.state
        |  FROM mh2
        |  JOIN gs ON gs.group_id = 'g' || CAST(mh2.g AS VARCHAR)),
        |e AS (
        |  SELECT *,
        |    ${md5LongSql("concat_ws('#', 'hbload1', group_id)")} % 5 = 0
        |      AS loading,
        |    alive = 1 AND ${md5LongSql(
             "concat_ws('#', 'hbknown', group_id, member)")} % 6 <> 0
        |      AS known,
        |    ${md5LongSql("concat_ws('#', 'hbgen3', group_id, member)")} % 5
        |      <> 0 AS gen_ok,
        |    CASE WHEN state = 'PreparingRebalance' AND ${md5LongSql(
             "concat_ws('#', 'hbphase', group_id)")} % 2 = 0
        |      THEN 'CompletingRebalance' ELSE state END AS state_at_hb
        |  FROM d),
        |h AS (
        |  SELECT *,
        |    CASE WHEN loading THEN 'NONE'
        |         WHEN state_at_hb IN ('Dead', 'Empty')
        |           THEN 'UNKNOWN_MEMBER_ID'
        |         WHEN NOT known THEN 'UNKNOWN_MEMBER_ID'
        |         WHEN state_at_hb = 'CompletingRebalance'
        |           THEN 'REBALANCE_IN_PROGRESS'
        |         WHEN NOT gen_ok THEN 'ILLEGAL_GENERATION'
        |         WHEN state_at_hb = 'PreparingRebalance'
        |           THEN 'REBALANCE_IN_PROGRESS'
        |         ELSE 'NONE' END AS outcome
        |  FROM e)
        |SELECT group_id, member, state_at_hb, generation,
        |  CASE WHEN gen_ok THEN generation ELSE generation - 1 END
        |    AS req_generation,
        |  hb_age_ms,
        |  CAST(CASE WHEN loading THEN 1 ELSE 0 END AS BIGINT)
        |    AS blind_accept,
        |  outcome,
        |  CAST(CASE WHEN NOT loading AND known AND gen_ok
        |      AND state_at_hb IN ('PreparingRebalance', 'Stable')
        |    THEN 1 ELSE 0 END AS BIGINT) AS hb_scheduled
        |FROM h""".stripMargin),
    // Same gs chain; the moved-set rollup mirrors the 3->2 survivor
    // re-split of the Spark side.
    "leave_group" -> (L + commitsSql.stripSuffix("\n") + ",\n" + memberHbSql +
      gstateSql +
      s""", mh2 AS (
        |  SELECT g, m, n_parts, now_ms - last_hb_ms AS age_ms,
        |    CASE WHEN now_ms - last_hb_ms <= 28800000 THEN 1 ELSE 0 END
        |      AS alive
        |  FROM mh CROSS JOIN nw),
        |mv AS (
        |  SELECT lm, CAST(SUM(CASE WHEN new_owner <> o THEN 1 ELSE 0 END)
        |    AS BIGINT) AS moved_range
        |  FROM (
        |    SELECT ${rangeMemberSql(3)} AS o, ${rangeMemberSql(2)} AS new2,
        |      CAST(lm AS BIGINT) AS lm
        |    FROM pidx CROSS JOIN generate_series(0, 2) t(lm)) s
        |  CROSS JOIN LATERAL (SELECT CASE WHEN lm = 0 THEN new2 + 1
        |    WHEN lm = 1 THEN (CASE WHEN new2 = 0 THEN 0 ELSE 2 END)
        |    ELSE new2 END AS new_owner) x
        |  WHERE o <> lm
        |  GROUP BY lm),
        |d AS (
        |  SELECT mh2.g, mh2.m, 'g' || CAST(mh2.g AS VARCHAR) AS group_id,
        |    'm' || CAST(mh2.m AS VARCHAR) AS member,
        |    mh2.n_parts, mh2.alive, mv.moved_range,
        |    gs.generation, gs.state
        |  FROM mh2 JOIN mv ON mv.lm = mh2.m
        |  JOIN gs ON gs.group_id = 'g' || CAST(mh2.g AS VARCHAR)),
        |e AS (
        |  SELECT *,
        |    alive = 1 AND ${md5LongSql(
             "concat_ws('#', 'leaveknown', group_id, member)")} % 6 <> 0
        |      AS member_known
        |  FROM d),
        |f AS (
        |  SELECT *,
        |    CASE WHEN state = 'Dead' THEN 'COORDINATOR_NOT_AVAILABLE'
        |         WHEN state = 'Empty' OR NOT member_known
        |           THEN 'UNKNOWN_MEMBER_ID'
        |         ELSE 'NONE' END AS outcome
        |  FROM e),
        |h AS (
        |  SELECT *,
        |    CAST(CASE WHEN outcome = 'NONE' AND state = 'Stable' THEN 1
        |      ELSE 0 END AS BIGINT) AS rebalance_triggered
        |  FROM f)
        |SELECT group_id, member, state AS state_before, member_known,
        |  outcome,
        |  CASE WHEN outcome = 'NONE' THEN n_parts ELSE 0 END
        |    AS released_parts,
        |  CASE WHEN outcome = 'NONE' THEN moved_range ELSE 0 END
        |    AS moved_other_range,
        |  CAST(0 AS BIGINT) AS moved_other_sticky,
        |  rebalance_triggered,
        |  generation + rebalance_triggered AS generation_after,
        |  CASE WHEN outcome = 'NONE' THEN 'PreparingRebalance' ELSE state
        |    END AS state_after
        |FROM h""".stripMargin),
    "offset_commit_validation" -> (L + commitsSql +
      s"""SELECT group_id, topic, part, committed, metadata_len,
        |  CASE WHEN metadata_len <= 4096 THEN 'NONE'
        |    ELSE 'OFFSET_METADATA_TOO_LARGE' END AS outcome,
        |  CASE WHEN metadata_len <= 4096 THEN committed
        |    ELSE (log_end * g) // 5 END AS stored_committed
        |FROM (
        |  SELECT *, ${md5LongSql(
             "concat_ws('#', 'commitmeta', group_id, topic, part)")} % 6000
        |    AS metadata_len
        |  FROM commits)""".stripMargin),
    "join_group_validation" -> (L + leoSql.stripSuffix("\n") + "\n" +
      memberHbSql +
      s"""base AS (
        |  SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
        |    'm' || CAST(m AS VARCHAR) AS member
        |  FROM mh),
        |d AS (
        |  SELECT *,
        |    CASE ${md5LongSql(
             "concat_ws('#', 'sesst', group_id, member)")} % 6
        |      WHEN 0 THEN 3000 WHEN 1 THEN 6000 WHEN 2 THEN 30000
        |      WHEN 3 THEN 100000 WHEN 4 THEN 300000
        |      ELSE 400000 END AS session_timeout_ms,
        |    CASE WHEN ${md5LongSql(
             "concat_ws('#', 'proto', group_id, member)")} % 8 = 0
        |      THEN 'connect' ELSE 'consumer' END AS protocol_type,
        |    ${md5LongSql(
             "concat_ws('#', 'knownid', group_id, member)")} % 5 <> 0
        |      AS member_id_known
        |  FROM base)
        |SELECT group_id, member, session_timeout_ms, protocol_type,
        |  member_id_known,
        |  CASE WHEN session_timeout_ms < 6000 OR session_timeout_ms > 300000
        |      THEN 'INVALID_SESSION_TIMEOUT'
        |    WHEN NOT member_id_known THEN 'UNKNOWN_MEMBER_ID'
        |    WHEN protocol_type <> 'consumer'
        |      THEN 'INCONSISTENT_GROUP_PROTOCOL'
        |    ELSE 'NONE' END AS outcome
        |FROM d""".stripMargin),
    "rebalance_join" -> (L + leoSql.stripSuffix("\n") + "\n" + memberHbSql +
      """jd AS (
        |  SELECT g, m, now_ms - last_hb_ms AS join_delay_ms
        |  FROM mh CROSS JOIN nw)
        |SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
        |  CAST(21600000 AS BIGINT) AS rebalance_timeout_ms,
        |  COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN join_delay_ms <= 21600000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_joined,
        |  CAST(SUM(CASE WHEN join_delay_ms > 21600000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stragglers,
        |  LEAST(MAX(join_delay_ms), CAST(21600000 AS BIGINT)) AS barrier_wait_ms,
        |  CASE WHEN SUM(CASE WHEN join_delay_ms > 21600000 THEN 1 ELSE 0 END) = 0
        |    THEN 'OnComplete' ELSE 'OnExpiration' END AS completed_via
        |FROM jd GROUP BY g""".stripMargin),
    "protocol_select" ->
      ("WITH " + protoVoteSql +
      """
        |SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
        |  vote AS selected_protocol, n_votes, n_distinct_votes,
        |  CAST(CASE WHEN n_votes = 3 THEN 1 ELSE 0 END AS BIGINT) AS unanimous
        |FROM psel JOIN pnd USING (g)""".stripMargin),
    "tenant_coordinator_placement" -> (L +
      s"""ent AS (
        |  SELECT 'group' AS entity_type, 'g' || CAST(g AS VARCHAR) AS entity_id,
        |    '__consumer_offsets' AS meta_topic
        |  FROM generate_series(0, 3) t(g)
        |  UNION ALL
        |  SELECT DISTINCT 'txn', 't' || CAST(event_id % 64 AS VARCHAR),
        |    '__transaction_state'
        |  FROM log),
        |tn AS (
        |  SELECT *,
        |    't' || CAST(${md5LongSql("'gtenant#' || entity_id")} % 3
        |      AS VARCHAR) AS tenant,
        |    ${md5LongSql("entity_id")} % 50 AS meta_partition
        |  FROM ent)
        |SELECT entity_type, entity_id, tenant,
        |  CASE WHEN entity_type = 'group' THEN 'gc-' || tenant
        |    ELSE 'tc-' || tenant END AS coordinator,
        |  'persistent://' || tenant || '/__kafka/' || meta_topic
        |    AS pulsar_meta_topic,
        |  meta_partition,
        |  ${md5LongSql(
           "concat_ws('#', tenant, meta_topic, meta_partition)")} % 4
        |    AS broker
        |FROM tn""".stripMargin),
    "coordinator_placement" -> (L +
      s"""ent AS (
        |  SELECT 'group' AS entity_type, 'g' || CAST(g AS VARCHAR) AS entity_id,
        |    '__consumer_offsets' AS meta_topic
        |  FROM generate_series(0, 3) t(g)
        |  UNION ALL
        |  SELECT DISTINCT 'txn', 't' || CAST(event_id % 64 AS VARCHAR),
        |    '__transaction_state'
        |  FROM log),
        |placed AS (
        |  SELECT *, ${md5LongSql("entity_id")} % 50
        |    AS meta_partition
        |  FROM ent)
        |SELECT entity_type, entity_id, meta_topic, meta_partition,
        |  ${md5LongSql("meta_topic || '#' || CAST(meta_partition AS VARCHAR)")} % 4 AS broker
        |FROM placed""".stripMargin),
    "member_eviction" -> (L + leoSql.stripSuffix("\n") + "\n" + memberHbSql +
      """sel AS (SELECT * FROM mh CROSS JOIN nw)
        |SELECT 'g' || CAST(g AS VARCHAR) AS group_id,
        |  'm' || CAST(m AS VARCHAR) AS member,
        |  n_parts, last_hb_ms,
        |  now_ms - last_hb_ms AS age_ms,
        |  CAST(CASE WHEN now_ms - last_hb_ms > 28800000 THEN 1 ELSE 0 END
        |    AS BIGINT) AS evicted
        |FROM sel""".stripMargin),
    // Composes commitsSql (the one commit-simulation definition) rather
    // than re-implementing it inline — the two cannot drift.
    "group_state" -> (L + commitsSql.stripSuffix("\n") + ",\n" + memberHbSql +
      gstateSql +
      """SELECT group_id, generation, n_members, n_alive, n_evicted,
        |  n_live_offsets, state
        |FROM gs""".stripMargin),
    // Same gs CTE as group_state — the deletion outcome derives from the
    // identical state machine, then joins the commit ledger for the purge
    // count.
    // The replay accounting chains the SAME gstate/delete verdict, the
    // offsetExpiration cutoff, and the shared txn-fate draw.
    "offsets_load_replay" -> (L + commitsSql.stripSuffix("\n") + ",\n" +
      memberHbSql + gstateSql +
      s""", pg AS (
        |  SELECT group_id, COUNT(*) AS n_parts,
        |    CAST(SUM(CASE WHEN commit_ms < 1705708800000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_expired
        |  FROM commits GROUP BY group_id),
        |$delVerdictSql,
        |del AS (
        |  SELECT group_id,
        |    CAST(CASE WHEN result = 'DELETED' THEN 1 ELSE 0 END AS BIGINT)
        |      AS group_tombstone
        |  FROM delres),
        |d AS (
        |  SELECT pg.group_id, pg.n_parts, pg.n_expired, del.group_tombstone,
        |    ${md5LongSql("'rh1#' || pg.group_id")} % 4 < 3 AS has_txn
        |  FROM pg JOIN del ON del.group_id = pg.group_id),
        |e AS (
        |  SELECT *,
        |    CASE WHEN has_txn
        |      THEN ${md5LongSql("'rt22#' || group_id")} % 64
        |      ELSE -1 END AS txn_id
        |  FROM d),
        |f AS (
        |  SELECT *,
        |    CASE WHEN NOT has_txn THEN 'NONE'
        |      ELSE (${graft.txn.Transactions.fateSql("txn_id")}) END
        |      AS txn_fate,
        |    CASE WHEN has_txn THEN n_parts ELSE 0 END
        |      AS n_txn_offset_records
        |  FROM e),
        |h AS (
        |  SELECT *,
        |    CASE WHEN txn_fate = 'COMMITTED' THEN n_parts ELSE 0 END
        |      AS n_txn_applied,
        |    CASE WHEN txn_fate = 'ABORTED' THEN n_parts ELSE 0 END
        |      AS n_txn_discarded,
        |    CASE WHEN txn_fate = 'ONGOING' THEN n_parts ELSE 0 END
        |      AS n_txn_pending_end,
        |    CASE WHEN txn_fate IN ('COMMITTED', 'ABORTED') THEN 1 ELSE 0 END
        |      AS n_control_records,
        |    CASE WHEN group_tombstone = 1 THEN 0
        |         WHEN txn_fate = 'COMMITTED' THEN n_parts
        |         ELSE n_parts - n_expired END AS n_live_offsets
        |  FROM f)
        |SELECT ${md5LongSql("group_id")} % 50 AS meta_partition,
        |  group_id, n_parts AS n_offset_records,
        |  n_expired AS n_expired_tombstones, txn_fate,
        |  CAST(n_txn_offset_records AS BIGINT) AS n_txn_offset_records,
        |  CAST(n_txn_applied AS BIGINT) AS n_txn_applied,
        |  CAST(n_txn_discarded AS BIGINT) AS n_txn_discarded,
        |  CAST(n_txn_pending_end AS BIGINT) AS n_txn_pending_end,
        |  group_tombstone,
        |  CAST(1 - group_tombstone AS BIGINT) AS group_loaded,
        |  CAST(n_live_offsets AS BIGINT) AS n_live_offsets,
        |  CAST(n_parts + n_expired + n_txn_offset_records +
        |    n_control_records + 1 + group_tombstone * (1 + n_parts)
        |    AS BIGINT) AS n_records_replayed
        |FROM h""".stripMargin),
    "delete_groups" -> (L + commitsSql.stripSuffix("\n") + ",\n" + memberHbSql +
      gstateSql +
      s""", $delVerdictSql
        |SELECT group_id, state_before, n_offsets, result,
        |  CAST(CASE WHEN result = 'DELETED' THEN n_offsets ELSE 0 END AS BIGINT)
        |    AS n_offsets_purged,
        |  CASE WHEN result = 'DELETED' THEN 'Dead' ELSE state_before END
        |    AS state_after
        |FROM delres""".stripMargin),
    "static_membership" -> (L +
      s"""tp AS (SELECT DISTINCT topic, part FROM log),
         |ix AS (
         |  SELECT topic, part,
         |    ROW_NUMBER() OVER (PARTITION BY topic ORDER BY part) - 1 AS idx,
         |    COUNT(*) OVER (PARTITION BY topic) AS np
         |  FROM tp)
         |SELECT topic, COUNT(*) AS n_parts,
         |  CAST(SUM(CASE WHEN (${rangeMemberSql(3)})
         |    <> (${rangeMemberSql(2)}) + 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS moved_dynamic,
         |  CAST(SUM(CASE WHEN (${rangeMemberSql(3)}) = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS paused_static
         |FROM ix GROUP BY topic""".stripMargin),
    "offset_reset" -> (L + commitsSql +
      s""", surv AS (
        |  SELECT topic, part, MIN(offs) AS new_earliest
        |  FROM ${LogOps.survivorsSql} survivors
        |  GROUP BY topic, part)
        |SELECT group_id, topic, part, committed, new_earliest,
        |  GREATEST(committed, new_earliest) AS resume_at,
        |  GREATEST(new_earliest - committed, 0) AS n_lost,
        |  CAST(CASE WHEN committed < new_earliest THEN 1 ELSE 0 END AS BIGINT)
        |    AS reset_needed
        |FROM commits JOIN surv USING (topic, part)""".stripMargin),
    // Composes commitsSql (the one commit-simulation definition) and the
    // same now_ms frame the heartbeat family reads.
    "cursor_expiration" -> (L + commitsSql +
      s""", nw AS (SELECT MAX(latest_ms) AS now_ms FROM leo),
        |la AS (
        |  SELECT group_id, topic, part, committed, log_end,
        |    LEAST(commit_ms + ${md5LongSql(
             "'curexp#' || group_id || '#' || topic || '#' || CAST(part AS VARCHAR)")} % 1209600000,
        |      now_ms) AS last_access_ms,
        |    now_ms
        |  FROM commits CROSS JOIN nw)
        |SELECT group_id, topic, part, committed, log_end, last_access_ms,
        |  now_ms - last_access_ms AS idle_ms,
        |  CAST(CASE WHEN now_ms - last_access_ms > 604800000 THEN 1 ELSE 0
        |    END AS BIGINT) AS expired,
        |  CASE WHEN now_ms - last_access_ms > 604800000 THEN 'DELETED'
        |    ELSE 'RETAINED' END AS action,
        |  CAST(CASE WHEN now_ms - last_access_ms > 604800000
        |    THEN log_end - committed ELSE 0 END AS BIGINT)
        |    AS backlog_released
        |FROM la""".stripMargin),
    "cursor_cache" -> (L + commitsSql +
      """, fetches AS (
        |  SELECT group_id, topic, part,
        |    (log_end - committed + 63) // 64 AS n_fetches
        |  FROM commits)
        |SELECT group_id, topic, COUNT(*) AS n_parts,
        |  CAST(SUM(n_fetches) AS BIGINT) AS n_fetches,
        |  COUNT(*) AS n_seeks,
        |  CAST(SUM(n_fetches) - COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(CAST(SUM(n_fetches) - COUNT(*) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(SUM(n_fetches) AS BIGINT) AS DOUBLE) AS hit_ratio
        |FROM fetches GROUP BY group_id, topic""".stripMargin),
    "assign_sticky" -> (L +
      """tp AS (SELECT DISTINCT topic, part FROM log),
        |rr AS (
        |  SELECT topic, part,
        |    (ROW_NUMBER() OVER (ORDER BY topic, part) - 1) % 3 AS m,
        |    COUNT(*) OVER () AS n_total
        |  FROM tp),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY m ORDER BY topic, part) AS r,
        |    n_total // 4 + (CASE WHEN m < n_total % 4 THEN 1 ELSE 0 END) AS target
        |  FROM rr)
        |SELECT topic, part, 'm' || CAST(m AS VARCHAR) AS member_old,
        |  CASE WHEN r <= target THEN 'm' || CAST(m AS VARCHAR) ELSE 'm3' END
        |    AS member_new,
        |  CAST(CASE WHEN r > target THEN 1 ELSE 0 END AS BIGINT) AS moved
        |FROM ranked""".stripMargin),
    "rebalance_diff" -> (L +
      s"""pidx AS (
         |  SELECT topic, part,
         |    ROW_NUMBER() OVER (PARTITION BY topic ORDER BY part) - 1 AS idx,
         |    COUNT(*) OVER (PARTITION BY topic) AS np
         |  FROM (SELECT DISTINCT topic, part FROM log))
         |SELECT topic, part,
         |  'm' || CAST(${rangeMemberSql(3)} AS VARCHAR) AS member_3,
         |  'm' || CAST(${rangeMemberSql(4)} AS VARCHAR) AS member_4,
         |  CAST(CASE WHEN CAST(${rangeMemberSql(3)} AS VARCHAR)
         |    <> CAST(${rangeMemberSql(4)} AS VARCHAR) THEN 1 ELSE 0 END AS BIGINT) AS moved
         |FROM pidx""".stripMargin),
    "group_offsets" -> (L + commitsSql +
      "SELECT group_id, topic, part, committed FROM commits"),
    "consumer_lag" -> (L + commitsSql +
      """SELECT group_id, topic, part, committed, log_end,
        |  log_end - committed AS lag FROM commits""".stripMargin),
    "assign_range" -> (L +
      s"""pidx AS (
        |  SELECT topic, part,
        |    ROW_NUMBER() OVER (PARTITION BY topic ORDER BY part) - 1 AS idx,
        |    COUNT(*) OVER (PARTITION BY topic) AS np
        |  FROM (SELECT DISTINCT topic, part FROM log))
        |SELECT topic, part,
        |  'm' || CAST(${rangeMemberSql(3)} AS VARCHAR) AS member
        |FROM pidx""".stripMargin),
    "assign_roundrobin" -> (L +
      """tp AS (SELECT DISTINCT topic, part FROM log)
        |SELECT topic, part,
        |  'm' || CAST((ROW_NUMBER() OVER (ORDER BY topic, part) - 1) % 3 AS VARCHAR) AS member
        |FROM tp""".stripMargin),
    "describe_groups" -> (L + commitsSql +
      """SELECT group_id, CAST(3 AS BIGINT) AS n_members,
        |  COUNT(*) AS n_partitions,
        |  CAST(SUM(log_end - committed) AS BIGINT) AS total_lag,
        |  MAX(log_end - committed) AS max_lag
        |FROM commits GROUP BY group_id""".stripMargin),
    "offset_expiration" -> (L + commitsSql +
      """SELECT group_id, topic, part, committed, commit_ms
        |FROM commits WHERE commit_ms >= 1705708800000""".stripMargin))
}
