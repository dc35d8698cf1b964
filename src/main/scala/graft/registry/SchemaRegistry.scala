package graft.registry

import graft.log.LogOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Schema-registry semantics
  * (/root/reference/schema-registry/.../model/Schema.java,
  * CompatibilityChecker.java) over the message payloads.
  *
  * Subjects are topics; a "schema version" is the field-set observed in the
  * JSON payloads, with THREE versions per subject (version = event_id mod 3
  * + 1 — ≥3 versions so the transitive compatibility modes are a real
  * check, not degenerate to the non-transitive ones). `schema_infer` builds
  * the per-subject field inventory with type inference; `schema_compat`
  * runs the non-transitive BACKWARD check of the newest version (v3)
  * against the latest prior (v2); `schema_compat_transitive` checks v3
  * against ALL prior versions (CompatibilityChecker.java:141-146
  * BACKWARD_TRANSITIVE / FORWARD_TRANSITIVE / FULL_TRANSITIVE).
  *
  * Compatibility is TYPE-AWARE, not just field-set-aware: every (topic,
  * field, version) slot carries a declared Avro primitive type (see
  * [[typedVersionedFields]]), and a field surviving a version bump with a
  * type change passes only when the change is an allowed Avro promotion
  * ([[promotable]]) — mirroring how CompatibilityChecker.java:16-22
  * delegates to Avro's structural SchemaValidator rather than comparing
  * field names.
  *
  * Scale: field explosion is a narrow map-side op (from_json is codegen'd);
  * the aggregation key (topic, field) has tiny cardinality so the shuffle
  * is negligible; no driver-side JSON parsing.
  */
object SchemaRegistry {

  private def fields(spark: SparkSession, dir: String): DataFrame =
    // no offset consumer anywhere in the registry family — use the
    // window-free projection (the row_number sort is pure waste here)
    LogOps.logBase(spark, dir)
      .select(col("topic"), col("event_id"),
        explode(from_json(col("v"), MapType(StringType, StringType)))
          .as(Seq("field", "fval")))

  /** The versioned field inventory (topic, version, field) — the one
    * version-model definition every compat/versions operator derives from.
    *
    * The payloads themselves carry a single field everywhere, so a purely
    * observed version model is degenerate (every version identical — no
    * compat check would ever fire). Each version's field set is therefore
    * the observed payload fields (present in every version) UNION a
    * deterministic evolution universe {ts, user, val, src, tag, geo}:
    * field f is in version v of subject t iff the first md5 hex digit of
    * "t#f#v" is 0-9 (~62% — the same engine-portable md5-coin modeling
    * discipline as Groups.protocolSelect's support matrix). Fields appear
    * AND disappear across versions, so transitive vs non-transitive modes
    * genuinely diverge.
    */
  private def versionedFields(spark: SparkSession, dir: String): DataFrame = {
    val observed = fields(spark, dir)
      .withColumn("version", pmod(col("event_id"), lit(3L)) + 1L)
      .select("topic", "version", "field")
    val universe = spark.createDataFrame(
      Seq("ts", "user", "val", "src", "tag", "geo").map(Tuple1(_))).toDF("field")
    val synth = LogOps.log(spark, dir).select("topic").distinct()
      .crossJoin(broadcast(
        spark.range(1, 4, 1, 1).select(col("id").as("version")).crossJoin(universe)))
      .filter(substring(md5(concat_ws("#",
        col("topic"), col("field"), col("version").cast("string"))), 1, 1)
        .rlike("^[0-9]$"))
      .select("topic", "version", "field")
    observed.union(synth).distinct()
  }

  /** The Avro primitive universe the evolved types draw from. */
  private val Types = Seq("int", "long", "float", "double", "string", "bytes")

  private def typeAt(idx: Column): Column =
    element_at(array(Types.map(lit): _*), (pmod(idx, lit(6L)) + 1L).cast("int"))

  /** Avro schema-resolution promotion rules
    * (CompatibilityChecker.java:16-22 delegates to Avro's
    * SchemaValidatorBuilder, whose structural check applies the spec's
    * promotion table): data written with type `w` is readable by a reader
    * declaring type `r` iff equal or w promotes to r — int→long/float/
    * double, long→float/double, float→double, string↔bytes.
    */
  private[graft] def promotable(w: Column, r: Column): Column =
    (w === r) ||
      (w === "int" && r.isin("long", "float", "double")) ||
      (w === "long" && r.isin("float", "double")) ||
      (w === "float" && r === "double") ||
      (w === "string" && r === "bytes") ||
      (w === "bytes" && r === "string")

  /** Typed version inventory (topic, version, field, ftype): the field
    * model of [[versionedFields]] deepened with a per-(topic, field,
    * version) TYPE. Observed payload fields base on [[schemaInfer]]'s
    * value-driven inference; synthetic universe fields base on an md5-coin
    * pick from the Avro primitive set; and each (field, version) slot
    * independently EVOLVES away from its base type with probability ~25%
    * (first hex digit of md5("tyv#t#f#v") in 0-3, second digit picking the
    * replacement) — rare enough that type breaks are a distinct signal
    * from field-set breaks, common enough that both verdicts appear on
    * testdata.
    *
    * Scale: one broadcast of the (topic, field)-cardinality inferred-type
    * table onto the metadata-sized version inventory; all hashing is
    * per-row codegen.
    */
  private def typedVersionedFieldsBuild(
      spark: SparkSession, dir: String): DataFrame = {
    val obs = fields(spark, dir)
      .groupBy("topic", "field")
      .agg(when(
        min(when(col("fval").rlike("^-?[0-9]+$"), 1).otherwise(0)) === 1,
        "long").otherwise("string").as("base_obs"))
    val h = md5(concat_ws("#", lit("tyv"), col("topic"), col("field"),
      col("version").cast("string")))
    versionedFields(spark, dir)
      .join(broadcast(obs), Seq("topic", "field"), "left")
      .withColumn("base_type", coalesce(col("base_obs"),
        typeAt(conv(substring(md5(concat_ws("#", lit("ty"), col("topic"),
          col("field"))), 1, 1), 16, 10).cast("long"))))
      .withColumn("ftype",
        when(substring(h, 1, 1).isin("0", "1", "2", "3"),
          typeAt(conv(substring(h, 2, 1), 16, 10).cast("long")))
          .otherwise(col("base_type")))
      .select("topic", "version", "field", "ftype")
  }

  /** The typed inventory is (topic, field, version)-cardinality metadata
    * consumed by NINE registry queries, each of whose uncached build runs
    * two JSON field explosions over the full log — so it is cached per
    * (session, data fingerprint) like the knn/decontaminate frames: one
    * build per data generation, every registry view reads the
    * materialized ~metadata-sized frame.
    */
  private def typedVersionedFields(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "events", "SchemaRegistry.tvf")(
      typedVersionedFieldsBuild(spark, dir).cache())

  /** Per-(topic, field) presence flags AND declared types for the three
    * schema versions (null type where the field is absent).
    */
  private[graft] def versionFlags(spark: SparkSession, dir: String): DataFrame =
    typedVersionedFields(spark, dir)
      .groupBy("topic", "field")
      .agg(
        max(when(col("version") === 1L, 1L).otherwise(0L)).as("has_v1"),
        max(when(col("version") === 2L, 1L).otherwise(0L)).as("has_v2"),
        max(when(col("version") === 3L, 1L).otherwise(0L)).as("has_v3"),
        max(when(col("version") === 1L, col("ftype"))).as("ty_v1"),
        max(when(col("version") === 2L, col("ftype"))).as("ty_v2"),
        max(when(col("version") === 3L, col("ftype"))).as("ty_v3"))

  /** Per-field BACKWARD verdict of v3 (reader) against prior version p
    * (writer): 0 when p's field is dropped in v3 OR survives with a type
    * the promotion rules can't bridge.
    */
  private def bwdOk(hasP: Column, tyP: Column): Column =
    when(hasP === 1L && col("has_v3") === 0L, 0L)
      .when(hasP === 1L && col("has_v3") === 1L &&
        !promotable(tyP, col("ty_v3")), 0L)
      .otherwise(1L)

  /** Per-field FORWARD verdict of v3 (writer) against prior version p
    * (reader): 0 when v3 adds a field absent from p OR writes a type p's
    * declaration can't read.
    */
  private def fwdOk(hasP: Column, tyP: Column): Column =
    when(col("has_v3") === 1L && hasP === 0L, 0L)
      .when(col("has_v3") === 1L && hasP === 1L &&
        !promotable(col("ty_v3"), tyP), 0L)
      .otherwise(1L)

  def schemaInfer(spark: SparkSession, dir: String): DataFrame =
    fields(spark, dir)
      .groupBy("topic", "field")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("fval").as("n_vals"),
        when(min(when(col("fval").rlike("^-?[0-9]+$"), 1).otherwise(0)) === 1,
          "long").otherwise("string").as("inferred"))

  /** Non-transitive BACKWARD: the new version (v3) must retain every field
    * of the LATEST prior version (v2) — earlier versions are not consulted
    * (that is [[schemaCompatTransitive]]'s job) — AND every retained
    * field's type change must be an allowed Avro promotion
    * (CompatibilityChecker.java:16-22; long→double passes, string→long
    * breaks).
    */
  def schemaCompat(spark: SparkSession, dir: String): DataFrame =
    versionFlags(spark, dir)
      .groupBy("topic")
      .agg(
        sum("has_v2").cast("long").as("n_prev_fields"),
        sum("has_v3").cast("long").as("n_new_fields"),
        sum(col("has_v2") * col("has_v3")).cast("long").as("n_common"),
        min(bwdOk(col("has_v2"), col("ty_v2"))).as("backward_compatible"))

  /** Version registry: per (subject, version) the canonical schema
    * fingerprint — md5 of the sorted field list — and its field count
    * (SchemaStorage's subject -> versions -> schema-id mapping).
    */
  def schemaVersions(spark: SparkSession, dir: String): DataFrame =
    typedVersionedFields(spark, dir)
      .groupBy("topic", "version")
      .agg(
        count(lit(1)).as("n_fields"),
        md5(concat_ws(",", sort_array(collect_list(
          concat_ws(":", col("field"), col("ftype")))))).as("fingerprint"))

  /** Per-field evolution stability audit: across a subject's version
    * history, how many versions carry the field, how many
    * consecutive-version TYPE changes it suffered, and whether it was
    * ever dropped and reintroduced (a version gap) — the field-level
    * drill-down under schema_compat's subject-level verdict (a subject
    * can pass BACKWARD overall while one field flip-flops types every
    * other version; that field is the outage waiting to happen). One
    * lag window + rollup on the cached typed field inventory —
    * registry-sized, never data-sized.
    */
  def schemaFieldStability(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("topic", "field").orderBy("version")
    typedVersionedFields(spark, dir)
      .withColumn("prev_t", lag("ftype", 1).over(w))
      .withColumn("prev_v", lag("version", 1).over(w))
      .groupBy("topic", "field")
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("prev_t").isNotNull && col("prev_t") =!= col("ftype"),
          1L).otherwise(0L)).cast("long").as("type_changes"),
        sum(when(col("prev_v").isNotNull &&
          col("version") - col("prev_v") > 1, 1L).otherwise(0L))
          .cast("long").as("reintroductions"),
        min("version").cast("long").as("first_version"),
        max("version").cast("long").as("last_version"))
      .withColumn("stable",
        when(col("type_changes") === 0L && col("reintroductions") === 0L,
          1L).otherwise(0L))
  }

  /** Non-transitive compatibility-mode matrix per subject
    * (CompatibilityChecker.java's BACKWARD / FORWARD / FULL modes), v3
    * checked against v2 only: backward = no v2 field dropped in v3,
    * forward = no v3 field absent from v2, full = both. One pass over the
    * same field inventory.
    */
  def schemaCompatModes(spark: SparkSession, dir: String): DataFrame =
    versionFlags(spark, dir)
      .groupBy("topic")
      .agg(
        min(bwdOk(col("has_v2"), col("ty_v2"))).as("backward"),
        min(fwdOk(col("has_v2"), col("ty_v2"))).as("forward"))
      .withColumn("full_compat", col("backward") * col("forward"))

  /** Transitive compatibility modes (CompatibilityChecker.java:141-146):
    * the new version (v3) checked against ALL prior versions, not just the
    * latest — BACKWARD_TRANSITIVE = no field of v1 OR v2 dropped in v3,
    * FORWARD_TRANSITIVE = no v3 field absent from v1 OR v2,
    * FULL_TRANSITIVE = both. Reported next to the non-transitive pair so
    * the matrix shows exactly which subjects pass the weak check but fail
    * the transitive one (a field dropped in v2 then re-added is the classic
    * case).
    */
  def schemaCompatTransitive(spark: SparkSession, dir: String): DataFrame =
    versionFlags(spark, dir)
      .groupBy("topic")
      .agg(
        min(bwdOk(col("has_v2"), col("ty_v2"))).as("backward"),
        min(bwdOk(col("has_v1"), col("ty_v1")) *
          bwdOk(col("has_v2"), col("ty_v2"))).as("backward_transitive"),
        min(fwdOk(col("has_v2"), col("ty_v2"))).as("forward"),
        min(fwdOk(col("has_v1"), col("ty_v1")) *
          fwdOk(col("has_v2"), col("ty_v2"))).as("forward_transitive"))
      .withColumn("full_transitive",
        col("backward_transitive") * col("forward_transitive"))

  /** Subject/version deletion impact
    * (/root/reference/schema-registry/.../model/SchemaStorage.java:63
    * `deleteSubject` — all versions of a subject removed; the REST
    * DELETE /subjects/{s} + /subjects/{s}/versions/{v} surface): a
    * deterministic md5 coin marks ~25% of subjects hard-deleted (every
    * version gone) and, independently, individual versions soft-deleted
    * on the survivors. Per subject: version counts before/deleted/
    * remaining, the re-pointed latest version (-1 when the subject is
    * gone), and whether compatibility checking has gone vacuous (fewer
    * than 2 remaining versions — nothing left to check a new schema
    * against). The destructive sibling of [[schemaVersions]], same mold
    * as delete_groups/delete_topics.
    *
    * Scale: operates on the (subject, version) registry — metadata-sized
    * after the same one aggregation the other registry views share.
    */
  def schemaDelete(spark: SparkSession, dir: String): DataFrame =
    typedVersionedFields(spark, dir).select("topic", "version").distinct()
      .withColumn("subject_deleted",
        when(substring(md5(concat(lit("sdel#"), col("topic"))), 1, 1)
          .isin("0", "1", "2", "3"), 1L).otherwise(0L))
      .withColumn("version_deleted",
        when(substring(md5(concat_ws("#", lit("vdel"), col("topic"),
          col("version").cast("string"))), 1, 1)
          .isin("0", "1", "2", "3"), 1L).otherwise(0L))
      .withColumn("deleted",
        greatest(col("subject_deleted"), col("version_deleted")))
      .groupBy("topic")
      .agg(
        count(lit(1)).as("n_versions_before"),
        max("subject_deleted").as("subject_deleted"),
        sum("deleted").cast("long").as("n_deleted"),
        sum(lit(1L) - col("deleted")).cast("long").as("n_remaining"),
        coalesce(max(when(col("deleted") === 0L, col("version"))), lit(-1L))
          .as("new_latest"))
      .withColumn("compat_vacuous",
        when(col("n_remaining") <= 1L, 1L).otherwise(0L))

  /** Per-subject effective compatibility mode
    * (/root/reference/schema-registry/.../resources/ConfigResource.java:92-123
    * — GET/PUT /config/{subject} backed by SchemaStorage
    * .getCompatibilityMode/setCompatibilityMode): the registry-wide
    * default (BACKWARD) unless the subject carries an override — a
    * deterministic md5 coin on the subject (~25% override rate, the next
    * hex digit picking among the six non-default modes; the
    * Admin.topicConfigs provenance discipline) — plus the admission
    * verdict the mode exists to produce: would this subject's own v3
    * registration be accepted under its effective mode (NONE always
    * admits; the rest read the [[schemaCompatTransitive]] matrix).
    *
    * Scale: subject-cardinality metadata all the way down — the compat
    * matrix aggregates on (topic, field) like every schema view; the
    * coin is one hash on the already-grouped row.
    */
  def subjectConfig(spark: SparkSession, dir: String): DataFrame = {
    val modes = Seq("NONE", "FORWARD", "FULL", "BACKWARD_TRANSITIVE",
      "FORWARD_TRANSITIVE", "FULL_TRANSITIVE")
    val h = md5(concat(lit("subjcfg#"), col("topic")))
    schemaCompatTransitive(spark, dir)
      .withColumn("full_compat", col("backward") * col("forward"))
      .withColumn("coin", substring(h, 1, 1))
      .withColumn("d", conv(substring(h, 2, 1), 16, 10).cast("long"))
      .withColumn("compatibility",
        when(!col("coin").isin("0", "1", "2", "3"), lit("BACKWARD"))
          .otherwise(element_at(array(modes.map(lit): _*),
            (pmod(col("d"), lit(6L)) + 1L).cast("int"))))
      .withColumn("source",
        when(col("coin").isin("0", "1", "2", "3"), "SUBJECT")
          .otherwise("DEFAULT"))
      .withColumn("v3_accepted",
        when(col("compatibility") === "NONE", 1L)
          .when(col("compatibility") === "BACKWARD", col("backward"))
          .when(col("compatibility") === "FORWARD", col("forward"))
          .when(col("compatibility") === "FULL", col("full_compat"))
          .when(col("compatibility") === "BACKWARD_TRANSITIVE",
            col("backward_transitive"))
          .when(col("compatibility") === "FORWARD_TRANSITIVE",
            col("forward_transitive"))
          .otherwise(col("full_transitive")))
      .select("topic", "compatibility", "source", "v3_accepted")
  }

  /** Content-addressed global schema IDs
    * (/root/reference/schema-registry/.../resources/SchemaResource.java:77-105
    * GET /schemas/ids/{id} + /versions; SchemaStorage.java:36,43
    * findSchemaById / findSchemaByDefinition): identical schema content
    * registered under any number of (subject, version) slots shares ONE
    * global id — the registry's dedup-by-definition contract. IDs are
    * assigned densely in fingerprint order (deterministic, engine-
    * portable); n_uses counts the slots sharing the id (the
    * /schemas/ids/{id}/versions answer).
    *
    * Scale: the id table is one row per DISTINCT schema — metadata-sized
    * by construction — so the unpartitioned ranking window and the join
    * back are both bounded; the (subject, version) side never shuffles
    * (broadcast).
    */
  def schemaIds(spark: SparkSession, dir: String): DataFrame = {
    val v = schemaVersions(spark, dir)
    val ids = v.groupBy("fingerprint")
      .agg(count(lit(1)).as("n_uses"))
      .withColumn("schema_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("fingerprint")).cast("long"))
    v.join(broadcast(ids), "fingerprint")
      .select("topic", "version", "schema_id", "fingerprint", "n_uses")
  }

  /** Field-level Avro schema-resolution plan for the v3-reader / v2-writer
    * pair — the per-field detail BEHIND the subject-level verdicts (the
    * reference's POST /compatibility/subjects/{s}/versions/latest
    * (CompatibilityResource.java:60-82) answers is_compatible, which is
    * exactly the AND over this plan's blocks_backward column): per (topic,
    * field) the reader action — READ (same type), PROMOTE (allowed Avro
    * promotion), DROPPED_IN_NEW / ADDED_IN_NEW (field-set delta), or
    * TYPE_ERROR (unbridgeable type change) — plus which directions the
    * field blocks. Fields absent from both v2 and v3 (v1-only) have no
    * resolution to plan and are excluded.
    *
    * Scale: one projection over the (topic, field)-cardinality flags
    * frame — metadata all the way down.
    */
  def schemaResolutionPlan(spark: SparkSession, dir: String): DataFrame =
    versionFlags(spark, dir)
      .filter(col("has_v2") === 1L || col("has_v3") === 1L)
      .withColumn("action",
        when(col("has_v2") === 1L && col("has_v3") === 0L, "DROPPED_IN_NEW")
          .when(col("has_v2") === 0L && col("has_v3") === 1L, "ADDED_IN_NEW")
          .when(col("ty_v2") === col("ty_v3"), "READ")
          .when(promotable(col("ty_v2"), col("ty_v3")), "PROMOTE")
          .otherwise("TYPE_ERROR"))
      .withColumn("blocks_backward",
        lit(1L) - bwdOk(col("has_v2"), col("ty_v2")))
      .withColumn("blocks_forward",
        lit(1L) - fwdOk(col("has_v2"), col("ty_v2")))
      .select(col("topic"), col("field"),
        col("ty_v2").as("ty_prev"), col("ty_v3").as("ty_new"),
        col("action"), col("blocks_backward"), col("blocks_forward"))

  /** Schema drift audit: per (topic, field) the FIRST record that carried
    * the field (min event_id, its arrival position) and the field's
    * lifetime occurrence count — "when did this field first appear" is
    * the question a registry operator asks when an unregistered field
    * shows up in production payloads (the reference surfaces the
    * field-set through Schema.java's parsed definitions; the arrival
    * audit is the operational side of the same inventory). The streaming
    * twin (Streams.schemaDiscoveryStream) emits each (topic, field) once
    * on first arrival — StreamingSpec pins the discovered set equal to
    * this frame.
    *
    * Scale: one from_json explode (codegen'd map-side), one partial-agg
    * rollup to (topic, field) cardinality.
    */
  def schemaFirstSeen(spark: SparkSession, dir: String): DataFrame =
    fields(spark, dir)
      .groupBy("topic", "field")
      .agg(
        min("event_id").as("first_event_id"),
        count(lit(1)).as("n_records"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "schema_first_seen" -> schemaFirstSeen,
    "schema_resolution_plan" -> schemaResolutionPlan,
    "schema_ids" -> schemaIds,
    "subject_config" -> subjectConfig,
    "schema_delete" -> schemaDelete,
    "schema_infer" -> schemaInfer,
    "schema_compat" -> schemaCompat,
    "schema_compat_modes" -> schemaCompatModes,
    "schema_compat_transitive" -> schemaCompatTransitive,
    "schema_versions" -> schemaVersions,
    "schema_field_stability" -> schemaFieldStability)

  private val L = LogOps.logSqlCte

  private val fieldsSql: String =
    """f AS (SELECT topic, event_id, v, unnest(json_keys(v)) AS field FROM log),
      |fv AS (SELECT topic, event_id, field,
      |       json_extract_string(v, '$.' || field) AS fval FROM f)
      |""".stripMargin

  /** DuckDB mirror of [[versionedFields]] (continues fieldsSql; ends with
    * `vfields(topic, version, field)`).
    */
  private val vfieldsSql: String =
    """, uni AS (
      |  SELECT * FROM (VALUES ('ts'),('user'),('val'),('src'),('tag'),('geo'))
      |    u(field)),
      |synth AS (
      |  SELECT topic, CAST(v AS BIGINT) AS version, field
      |  FROM (SELECT DISTINCT topic FROM log)
      |  CROSS JOIN generate_series(1, 3) t(v) CROSS JOIN uni
      |  WHERE substring(md5(topic || '#' || field || '#' || CAST(v AS VARCHAR)),
      |      1, 1) BETWEEN '0' AND '9'),
      |vfields AS (
      |  SELECT DISTINCT topic, version, field FROM (
      |    SELECT topic, event_id % 3 + 1 AS version, field FROM fv
      |    UNION ALL SELECT * FROM synth))
      |""".stripMargin

  /** DuckDB mirror of [[typedVersionedFields]] (continues vfieldsSql; ends
    * with `tvf(topic, version, field, ftype)`).
    */
  private val tvfieldsSql: String = vfieldsSql +
    """, obs AS (
      |  SELECT topic, field,
      |    CASE WHEN MIN(CASE WHEN regexp_matches(fval, '^-?[0-9]+$')
      |      THEN 1 ELSE 0 END) = 1 THEN 'long' ELSE 'string' END AS base_obs
      |  FROM fv GROUP BY topic, field),
      |tvf AS (
      |  SELECT topic, version, field,
      |    CASE WHEN substring(md5('tyv#' || topic || '#' || field || '#'
      |          || CAST(version AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      |      THEN ['int','long','float','double','string','bytes'][
      |        CAST(('0x' || substring(md5('tyv#' || topic || '#' || field
      |          || '#' || CAST(version AS VARCHAR)), 2, 1))::BIGINT % 6 + 1
      |          AS INT)]
      |      ELSE COALESCE(base_obs,
      |        ['int','long','float','double','string','bytes'][
      |          CAST(('0x' || substring(md5('ty#' || topic || '#' || field),
      |            1, 1))::BIGINT % 6 + 1 AS INT)])
      |    END AS ftype
      |  FROM vfields LEFT JOIN obs USING (topic, field))
      |""".stripMargin

  private val versSql: String = tvfieldsSql +
    """, vers AS (
      |  SELECT topic, field,
      |    MAX(CASE WHEN version = 1 THEN 1 ELSE 0 END) AS has_v1,
      |    MAX(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS has_v2,
      |    MAX(CASE WHEN version = 3 THEN 1 ELSE 0 END) AS has_v3,
      |    MAX(CASE WHEN version = 1 THEN ftype END) AS ty_v1,
      |    MAX(CASE WHEN version = 2 THEN ftype END) AS ty_v2,
      |    MAX(CASE WHEN version = 3 THEN ftype END) AS ty_v3
      |  FROM tvf GROUP BY topic, field)
      |""".stripMargin

  /** SQL mirror of [[promotable]]. */
  private def promoSql(w: String, r: String): String =
    s"($w = $r OR ($w = 'int' AND $r IN ('long','float','double'))" +
      s" OR ($w = 'long' AND $r IN ('float','double'))" +
      s" OR ($w = 'float' AND $r = 'double')" +
      s" OR ($w = 'string' AND $r = 'bytes')" +
      s" OR ($w = 'bytes' AND $r = 'string'))"

  /** SQL mirror of [[bwdOk]]. */
  private def bwdOkSql(hasP: String, tyP: String): String =
    s"CASE WHEN $hasP = 1 AND has_v3 = 0 THEN 0" +
      s" WHEN $hasP = 1 AND has_v3 = 1 AND NOT ${promoSql(tyP, "ty_v3")}" +
      s" THEN 0 ELSE 1 END"

  /** SQL mirror of [[fwdOk]]. */
  private def fwdOkSql(hasP: String, tyP: String): String =
    s"CASE WHEN has_v3 = 1 AND $hasP = 0 THEN 0" +
      s" WHEN has_v3 = 1 AND $hasP = 1 AND NOT ${promoSql("ty_v3", tyP)}" +
      s" THEN 0 ELSE 1 END"

  /** The per-field verdict quartet as a CTE over `vers` — shared by every
    * compat oracle (ends with `fv2(topic, bwd2, bwd1, fwd2, fwd1)`).
    */
  private val fieldVerdictsSql: String =
    s""", fv2 AS (
       |  SELECT topic,
       |    ${bwdOkSql("has_v2", "ty_v2")} AS bwd2,
       |    ${bwdOkSql("has_v1", "ty_v1")} AS bwd1,
       |    ${fwdOkSql("has_v2", "ty_v2")} AS fwd2,
       |    ${fwdOkSql("has_v1", "ty_v1")} AS fwd1,
       |    has_v2, has_v3
       |  FROM vers)
       |""".stripMargin

  val oracles: Map[String, String] = Map(
    "schema_first_seen" -> (L + fieldsSql +
      """SELECT topic, field, MIN(event_id) AS first_event_id,
        |  COUNT(*) AS n_records
        |FROM fv GROUP BY topic, field""".stripMargin),
    "schema_resolution_plan" -> (L + fieldsSql + versSql +
      s"""SELECT topic, field, ty_v2 AS ty_prev, ty_v3 AS ty_new,
         |  CASE WHEN has_v2 = 1 AND has_v3 = 0 THEN 'DROPPED_IN_NEW'
         |    WHEN has_v2 = 0 AND has_v3 = 1 THEN 'ADDED_IN_NEW'
         |    WHEN ty_v2 = ty_v3 THEN 'READ'
         |    WHEN ${promoSql("ty_v2", "ty_v3")} THEN 'PROMOTE'
         |    ELSE 'TYPE_ERROR' END AS action,
         |  CAST(1 - ${bwdOkSql("has_v2", "ty_v2")} AS BIGINT)
         |    AS blocks_backward,
         |  CAST(1 - ${fwdOkSql("has_v2", "ty_v2")} AS BIGINT)
         |    AS blocks_forward
         |FROM vers WHERE has_v2 = 1 OR has_v3 = 1""".stripMargin),
    "schema_ids" -> (L + fieldsSql + tvfieldsSql +
      """, vers2 AS (
        |  SELECT topic, version,
        |    md5(string_agg(field || ':' || ftype, ','
        |      ORDER BY field || ':' || ftype)) AS fingerprint
        |  FROM tvf GROUP BY topic, version),
        |ids AS (
        |  SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_uses,
        |    CAST(ROW_NUMBER() OVER (ORDER BY fingerprint) AS BIGINT)
        |      AS schema_id
        |  FROM vers2 GROUP BY fingerprint)
        |SELECT topic, version, schema_id, fingerprint, n_uses
        |FROM vers2 JOIN ids USING (fingerprint)""".stripMargin),
    "subject_config" -> (L + fieldsSql + versSql + fieldVerdictsSql +
      """, cmpt AS (
        |  SELECT topic,
        |    MIN(bwd2) AS backward,
        |    MIN(bwd1 * bwd2) AS backward_transitive,
        |    MIN(fwd2) AS forward,
        |    MIN(fwd1 * fwd2) AS forward_transitive
        |  FROM fv2 GROUP BY topic),
        |c2 AS (
        |  SELECT topic, backward, forward,
        |    backward * forward AS full_compat,
        |    backward_transitive, forward_transitive,
        |    backward_transitive * forward_transitive AS full_transitive,
        |    substring(md5('subjcfg#' || topic), 1, 1) AS coin,
        |    ('0x' || substring(md5('subjcfg#' || topic), 2, 1))::BIGINT AS d
        |  FROM cmpt),
        |c3 AS (
        |  SELECT topic,
        |    CASE WHEN coin NOT IN ('0','1','2','3') THEN 'BACKWARD'
        |      ELSE ['NONE','FORWARD','FULL','BACKWARD_TRANSITIVE',
        |            'FORWARD_TRANSITIVE','FULL_TRANSITIVE'][(d % 6 + 1)]
        |    END AS compatibility,
        |    CASE WHEN coin IN ('0','1','2','3') THEN 'SUBJECT'
        |      ELSE 'DEFAULT' END AS source,
        |    backward, forward, full_compat,
        |    backward_transitive, forward_transitive, full_transitive
        |  FROM c2)
        |SELECT topic, compatibility, source,
        |  CAST(CASE compatibility WHEN 'NONE' THEN 1
        |    WHEN 'BACKWARD' THEN backward
        |    WHEN 'FORWARD' THEN forward
        |    WHEN 'FULL' THEN full_compat
        |    WHEN 'BACKWARD_TRANSITIVE' THEN backward_transitive
        |    WHEN 'FORWARD_TRANSITIVE' THEN forward_transitive
        |    ELSE full_transitive END AS BIGINT) AS v3_accepted
        |FROM c3""".stripMargin),
    "schema_delete" -> (L + fieldsSql + vfieldsSql +
      """, dv AS (
        |  SELECT topic, version,
        |    CASE WHEN substring(md5('sdel#' || topic), 1, 1)
        |      IN ('0','1','2','3') THEN 1 ELSE 0 END AS subject_deleted,
        |    CASE WHEN substring(md5('vdel#' || topic || '#'
        |        || CAST(version AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3') THEN 1 ELSE 0 END AS version_deleted
        |  FROM (SELECT DISTINCT topic, version FROM vfields)),
        |d2 AS (
        |  SELECT *, GREATEST(subject_deleted, version_deleted) AS deleted
        |  FROM dv)
        |SELECT topic, COUNT(*) AS n_versions_before,
        |  CAST(MAX(subject_deleted) AS BIGINT) AS subject_deleted,
        |  CAST(SUM(deleted) AS BIGINT) AS n_deleted,
        |  CAST(SUM(1 - deleted) AS BIGINT) AS n_remaining,
        |  CAST(COALESCE(MAX(CASE WHEN deleted = 0 THEN version END), -1)
        |    AS BIGINT) AS new_latest,
        |  CAST(CASE WHEN SUM(1 - deleted) <= 1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS compat_vacuous
        |FROM d2 GROUP BY topic""".stripMargin),
    "schema_infer" -> (L + fieldsSql +
      """SELECT topic, field, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT fval) AS BIGINT) AS n_vals,
        |  CASE WHEN MIN(CASE WHEN regexp_matches(fval, '^-?[0-9]+$')
        |    THEN 1 ELSE 0 END) = 1 THEN 'long' ELSE 'string' END AS inferred
        |FROM fv GROUP BY topic, field""".stripMargin),
    "schema_versions" -> (L + fieldsSql + tvfieldsSql +
      """SELECT topic, version, COUNT(*) AS n_fields,
        |  md5(string_agg(field || ':' || ftype, ','
        |    ORDER BY field || ':' || ftype)) AS fingerprint
        |FROM tvf GROUP BY topic, version""".stripMargin),
    "schema_field_stability" -> (L + fieldsSql + tvfieldsSql +
      """, lagd AS (
        |  SELECT topic, field, version, ftype,
        |    LAG(ftype) OVER (PARTITION BY topic, field
        |      ORDER BY version) AS prev_t,
        |    LAG(version) OVER (PARTITION BY topic, field
        |      ORDER BY version) AS prev_v
        |  FROM tvf)
        |SELECT topic, field, COUNT(*) AS n_versions,
        |  CAST(SUM(CASE WHEN prev_t IS NOT NULL AND prev_t <> ftype
        |    THEN 1 ELSE 0 END) AS BIGINT) AS type_changes,
        |  CAST(SUM(CASE WHEN prev_v IS NOT NULL AND version - prev_v > 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS reintroductions,
        |  CAST(MIN(version) AS BIGINT) AS first_version,
        |  CAST(MAX(version) AS BIGINT) AS last_version,
        |  CAST(CASE WHEN SUM(CASE WHEN prev_t IS NOT NULL
        |      AND prev_t <> ftype THEN 1 ELSE 0 END) = 0
        |    AND SUM(CASE WHEN prev_v IS NOT NULL AND version - prev_v > 1
        |      THEN 1 ELSE 0 END) = 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS stable
        |FROM lagd GROUP BY topic, field""".stripMargin),
    "schema_compat_modes" -> (L + fieldsSql + versSql + fieldVerdictsSql +
      """SELECT topic,
        |  CAST(MIN(bwd2) AS BIGINT) AS backward,
        |  CAST(MIN(fwd2) AS BIGINT) AS forward,
        |  CAST(MIN(bwd2) * MIN(fwd2) AS BIGINT) AS full_compat
        |FROM fv2 GROUP BY topic""".stripMargin),
    "schema_compat_transitive" -> (L + fieldsSql + versSql + fieldVerdictsSql +
      """SELECT topic,
        |  CAST(MIN(bwd2) AS BIGINT) AS backward,
        |  CAST(MIN(bwd1 * bwd2) AS BIGINT) AS backward_transitive,
        |  CAST(MIN(fwd2) AS BIGINT) AS forward,
        |  CAST(MIN(fwd1 * fwd2) AS BIGINT) AS forward_transitive,
        |  CAST(MIN(bwd1 * bwd2) * MIN(fwd1 * fwd2) AS BIGINT)
        |    AS full_transitive
        |FROM fv2 GROUP BY topic""".stripMargin),
    "schema_compat" -> (L + fieldsSql + versSql + fieldVerdictsSql +
      """SELECT topic, CAST(SUM(has_v2) AS BIGINT) AS n_prev_fields,
        |  CAST(SUM(has_v3) AS BIGINT) AS n_new_fields,
        |  CAST(SUM(has_v2 * has_v3) AS BIGINT) AS n_common,
        |  CAST(MIN(bwd2) AS BIGINT) AS backward_compatible
        |FROM fv2 GROUP BY topic""".stripMargin))
}
