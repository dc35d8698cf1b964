package graft.llm

import graft.Tables.t
import graft.functions.Parity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset mixing for training-data curation.
  *
  * Sampling keys on a hash of the stable id — reproducible across runs,
  * engines, and cluster sizes (no RNG state), and embarrassingly parallel:
  * the keep-decision is a scan-side predicate at 100 TB.
  */
object Sampling {

  /** Stratified sampling: per-language keep rates (en 50%, others 20%)
    * applied via md5(doc_id) mod 100 — a deterministic coin.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("bucket", md5Long(col("doc_id").cast("string")) % 100L)
      .withColumn("rate", when(col("lang") === "en", 50L).otherwise(20L))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))

  /** Quality-curriculum training order: documents ranked easy → hard by
    * integer-quantized mean token length (x100 — the complexity axis a
    * curriculum schedule sorts on), deterministically shuffled inside
    * each difficulty level by the md5 coin, and cut into 4 training
    * phases. The global rank uses the corpus_shuffle discipline — per-
    * difficulty-bucket prefix offsets (a window over the bucket COUNT
    * frame, never the corpus) + per-bucket parallel row_number — so no
    * single-task global sort exists at any scale; the oracle's literal
    * global ROW_NUMBER proves the decomposition exact.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("n_c", length(col("text")).cast("long"))
      .withColumn("n_t", size(split(col("text"), " ")).cast("long"))
      .withColumn("cq", expr("((n_c - (n_t - 1)) * 100) div n_t"))
      .withColumn("h", md5Long(col("doc_id").cast("string")))
      // Difficulty values CONCENTRATE (real corpora share a narrow mean
      // token length), so ranking inside cq alone would funnel most of
      // the corpus through a handful of window tasks. Sub-bucket each
      // difficulty level by the hash's top 8 bits — bucket order IS hash
      // order within the level, so the (cq, bucket) two-level prefix
      // reproduces the global (cq, h, doc_id) rank exactly while every
      // row_number partition stays ~1/256th of a level.
      .withColumn("bkt", expr("h div 281474976710656"))
    val offs = d.groupBy("cq", "bkt").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum("n").over(Window.orderBy("cq", "bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cq", "bkt", "off")
    val total = d.agg(count(lit(1)).as("n_total"))
    d.join(broadcast(offs), Seq("cq", "bkt"))
      .withColumn("pos",
        col("off") + row_number().over(
          Window.partitionBy("cq", "bkt").orderBy("h", "doc_id"))
          .cast("long") - 1L)
      .crossJoin(broadcast(total))
      .withColumn("phase", expr("(pos * 4) div n_total"))
      .select("doc_id", "cq", "pos", "phase")
  }

  /** Dataset mixing: a 200-doc budget allocated across sources
    * proportionally to source size, taking each source's lowest doc_ids —
    * the deterministic form of ratio-controlled corpus interleaving.
    */
  def mixSources(spark: SparkSession, dir: String): DataFrame = {
    // Per-source counts and the corpus total as broadcast aggregates,
    // and the per-source doc_id rank decomposed over order-preserving
    // 64k-doc buckets (the seq_pack prefix discipline) — the naive form
    // (count + row_number windows partitioned by source) would funnel
    // each source's whole slice through one task at scale.
    val d = t(spark, dir, "documents")
      .withColumn("bkt", expr("doc_id div 65536"))
    val total = d.agg(count(lit(1)).as("n_total"))
    val alloc = d.groupBy("source").agg(count(lit(1)).as("n_src"))
      .crossJoin(broadcast(total))
      .withColumn("alloc", expr("(200 * n_src) div n_total"))
      .select("source", "alloc")
    val offs = d.groupBy("source", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(Window.partitionBy("source").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "bkt", "off")
    d.join(offs, Seq("source", "bkt"))
      .withColumn("rn",
        col("off") + row_number().over(
          Window.partitionBy("source", "bkt").orderBy("doc_id")).cast("long"))
      .join(broadcast(alloc), "source")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("source"), col("rn"), col("alloc"))
  }

  /** The ONE spelling of the 90/10 train/test md5 coin over doc_id —
    * shared by [[trainTestSplit]] and [[splitLeakage]] so the two screens
    * can never silently diverge (the Dedup.BenchSplitMod discipline).
    */
  private[graft] def splitCoin: org.apache.spark.sql.Column =
    when(md5Long(col("doc_id").cast("string")) % 10L < 9L, "train")
      .otherwise("test")

  /** Deterministic 90/10 train/test split on an md5 coin over doc_id —
    * reproducible across runs, cluster sizes, and engines — with a
    * per-source assignment audit (split skew per source is the first thing
    * a leakage review checks).
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("split", splitCoin)
      .groupBy("source", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        min("doc_id").as("min_doc_id"))

  /** Temperature-weighted source mixing at tau = 0.5 — the rebalancing
    * knob multilingual/multi-source training mixes use (small sources
    * up-weighted, large ones dampened: weight = n^tau). tau = 0.5 is the
    * sqrt point, chosen deliberately: IEEE sqrt is exactly rounded in
    * both engines (pow is not), and the weight is quantized to a long
    * before any sum, so shares and allocations are engine-exact. Per
    * source: natural vs temperature share and the 200-doc budget each
    * allocation grants.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("wq",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0D) AS BIGINT)"))
    val tot = src.agg(
      sum("wq").cast("long").as("wq_total"),
      sum("n_docs").cast("long").as("n_total"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total")).as("natural_share"),
        (col("wq").cast("double") / col("wq_total")).as("temp_share"),
        expr("(200 * n_docs) div n_total").as("alloc_natural"),
        expr("(200 * wq) div wq_total").as("alloc_temp"))
  }

  /** Token-space training-budget plan: the frame a dataloader is actually
    * configured from. [[mixTemperature]] allocates DOCUMENTS; real mixes
    * are specified in TOKENS (per-source token budgets + repeat factors),
    * so this allocates a fixed 1M-token budget across sources by the same
    * sqrt-temperature weights — now over each source's whitespace-token
    * mass — and reports the epoch factor (how many passes over the source
    * the allocation implies, in basis points: 12000 = repeat 1.2x,
    * 4000 = subsample to 40%). sqrt + long quantization keeps every
    * number engine-exact (the mix_temperature discipline); the budget is
    * a fixed constant so the plan is scale-free.
    *
    * Scale: one corpus scan with an in-row token count, a |sources|-row
    * rollup, and a broadcast totals join — nothing data-sized past the
    * scan at 100 TB.
    */
  def tokenBudgetPlan(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").cast("long").as("n_tok"))
      .withColumn("wq",
        expr("CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000.0D) AS BIGINT)"))
    val tot = src.agg(sum("wq").cast("long").as("wq_total"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tok"),
        // DECIMAL(38) headroom (the basketLift discipline): wq is already
        // 1e6-scaled sqrt(tokens), so 1e6·wq wraps BIGINT once a source
        // holds ~1e15 tokens — exactly the 100 TB regime.
        expr("""CAST((1000000 * CAST(wq AS DECIMAL(38,0))) div wq_total
               |  AS BIGINT)""".stripMargin).as("alloc_tokens"),
        expr("""(10000 * CAST((1000000 * CAST(wq AS DECIMAL(38,0)))
               |  div wq_total AS BIGINT)) div n_tok""".stripMargin)
          .as("epochs_bp"))
  }

  /** Deterministic global shuffle: every document gets a reproducible
    * pseudo-random position — the rank of (md5(doc_id), doc_id) — the
    * training-order shuffle a pipeline runs before sequence packing, plus
    * the loader-shard assignment (position mod 8) that order implies.
    * Hash-keyed, so the permutation is identical across runs, engines,
    * and cluster sizes.
    *
    * Scale: a single global ROW_NUMBER window would funnel 100 TB through
    * one task. Instead the rank is computed as a chunked parallel prefix:
    * 256 hash-prefix buckets (the top 8 bits of the hash, so bucket order
    * IS hash order), per-bucket counts rolled into broadcast running
    * offsets (a 256-row window), and a per-bucket ROW_NUMBER — every
    * stage is parallel, the only full-data shuffle is the bucket window's.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .withColumn("h", md5Long(col("doc_id").cast("string")))
      .withColumn("bucket", expr("h div 281474976710656"))
    val offs = d.groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum("n").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    d.join(broadcast(offs), "bucket")
      .withColumn("shuffle_pos",
        col("off") + row_number().over(
          Window.partitionBy("bucket").orderBy("h", "doc_id")).cast("long")
          - 1L)
      .withColumn("shard", pmod(col("shuffle_pos"), lit(8L)))
      .select("doc_id", "shuffle_pos", "shard")
  }

  /** Epochs materialized by [[epochOrder]] — enough to pin that the
    * per-epoch permutations are distinct and individually complete.
    */
  private[graft] val NumEpochs = 3L

  /** Multi-epoch training order: each epoch re-shuffles the corpus under
    * an epoch-salted hash (md5("ep<e>#<doc_id>")), so every epoch is a
    * DIFFERENT deterministic permutation — the property a multi-epoch
    * run needs (same data, fresh order, reproducible across runs,
    * engines, and cluster sizes). One row per (doc, epoch) with the
    * epoch-local position.
    *
    * Scale: the epoch frame is [[NumEpochs]] literal rows broadcast over
    * one documents scan; each epoch's rank reuses corpus_shuffle's
    * 256-bucket parallel prefix (per-(epoch, bucket) counts into a
    * 256·E-row broadcast offset table, per-bucket ROW_NUMBER) — no
    * single-task global window, and epochs rank in parallel.
    */
  def epochOrder(spark: SparkSession, dir: String): DataFrame = {
    val epochs = spark.range(0, NumEpochs, 1, 1).select(col("id").as("epoch"))
    val d = t(spark, dir, "documents").select("doc_id")
      .crossJoin(broadcast(epochs))
      .withColumn("h", md5Long(concat(lit("ep"), col("epoch"),
        lit("#"), col("doc_id").cast("string"))))
      .withColumn("bucket", expr("h div 281474976710656"))
    val offs = d.groupBy("epoch", "bucket").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum("n").over(Window.partitionBy("epoch").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("epoch", "bucket", "off")
    d.join(broadcast(offs), Seq("epoch", "bucket"))
      .withColumn("pos",
        col("off") + row_number().over(
          Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id"))
          .cast("long") - 1L)
      .select("doc_id", "epoch", "pos")
  }

  /** DSIR-style importance weight per document (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): how much
    * more likely the doc's token bag is under the target distribution
    * (source src0, standing in for the curated slice) than under the raw
    * corpus. The classic form sums log-probability ratios; logs drift
    * between engines, so the score is the equivalent linear discriminant
    * on per-billion-quantized probabilities — Σ tf·(pt_q − pr_q) in exact
    * BIGINT, divided once at the end (positive = more target-like, the
    * resampling keep signal).
    *
    * Scale: the gram ratio table is vocabulary-sized → broadcast both
    * ways; per-doc term frequencies come from the in-row array_counts
    * combiner (one row per DISTINCT token per doc, never per token), so
    * the whole selector is two scans + one broadcast join at 100 TB.
    * The quantization multiply widens to DECIMAL(38,0)/HUGEINT (BIGINT
    * would overflow past ~9.2e9 corpus tokens); the per-doc score sum is
    * bounded by the doc's own token count × 10⁹ — overflow-free at any
    * corpus size.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(expr("array_counts(split(text, ' '))")).as(Seq("tok", "tf")))
    val grams = tf.groupBy("tok").agg(
      sum("tf").cast("long").as("cnt_r"),
      sum(when(col("source") === "src0", col("tf")).otherwise(0L))
        .cast("long").as("cnt_t"))
    val tot = grams.agg(
      sum("cnt_r").cast("long").as("n_r"),
      sum("cnt_t").cast("long").as("n_t"))
    // The quantization multiply runs in DECIMAL(38,0) (HUGEINT on the
    // oracle side): cnt_r x 10^9 would overflow BIGINT on any corpus
    // past ~9.2e9 tokens. The quotient is < 10^9 by construction
    // (cnt <= n), so the BIGINT cast back is always safe.
    val ratio = grams.crossJoin(broadcast(tot))
      .select(col("tok"),
        expr("CAST((CAST(cnt_t AS DECIMAL(38,0)) * 1000000000) div n_t" +
          " AS BIGINT)").as("pt_q"),
        expr("CAST((CAST(cnt_r AS DECIMAL(38,0)) * 1000000000) div n_r" +
          " AS BIGINT)").as("pr_q"))
    tf.join(broadcast(ratio), "tok")
      .groupBy("doc_id")
      .agg(
        sum("tf").cast("long").as("n_tokens"),
        sum(col("tf") * (col("pt_q") - col("pr_q"))).cast("long")
          .as("score_num"))
      .withColumn("dsir_score",
        col("score_num").cast("double") / 1000000000.0d)
      .withColumn("selected", when(col("score_num") > 0L, 1L).otherwise(0L))
  }

  /** Train/test contamination through NEAR-duplicates: test docs whose
    * minhash-LSH near-dup cluster ([[Dedup.dedupClusters]]) also contains
    * at least one train doc — the leakage an exact-match decontaminate
    * pass misses (the benchmark answer is in training verbatim-ish, just
    * not byte-identical). Output: each leaked test doc with its cluster
    * and how many train near-dups it has; empty means the split is clean
    * under the near-dup relation.
    *
    * Scale: rides the cached converged cluster-label frame (docs in at
    * least one near-dup pair — far smaller than the corpus); the split
    * coin is an in-row md5, and the train-count join is keyed by
    * cluster_id on that reduced frame. No corpus-sized work beyond what
    * dedup_clusters already paid (and cached).
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Dedup.dedupClusters(spark, dir)
      .withColumn("split", splitCoin)
    val trainPerCluster = labeled.filter(col("split") === "train")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_train_dups"))
    labeled.filter(col("split") === "test")
      .join(trainPerCluster, "cluster_id")
      .select("doc_id", "cluster_id", "n_train_dups")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "split_leakage" -> splitLeakage,
    "dsir_weights" -> dsirWeights,
    "corpus_shuffle" -> corpusShuffle,
    "curriculum_order" -> curriculumOrder,
    "epoch_order" -> epochOrder,
    "sample_stratified" -> sampleStratified,
    "mix_sources" -> mixSources,
    "mix_temperature" -> mixTemperature,
    "token_budget_plan" -> tokenBudgetPlan,
    "train_test_split" -> trainTestSplit)

  val oracles: Map[String, String] = Map(
    "split_leakage" ->
      (Dedup.clustersChainSql + s"""
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |lt AS (
        |  SELECT lab.doc_id, lab.cluster_id,
        |    CASE WHEN ${md5LongSql("CAST(lab.doc_id AS VARCHAR)")} % 10 < 9
        |      THEN 'train' ELSE 'test' END AS split
        |  FROM lab),
        |tr AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_train_dups
        |  FROM lt WHERE split = 'train' GROUP BY cluster_id)
        |SELECT doc_id, cluster_id, n_train_dups
        |FROM lt JOIN tr USING (cluster_id) WHERE split = 'test'"""
        .stripMargin),
    "curriculum_order" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_c,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_t,
        |    ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents),
        |dd AS (
        |  SELECT doc_id, ((n_c - (n_t - 1)) * 100) // n_t AS cq, h FROM d),
        |ranked AS (
        |  SELECT doc_id, cq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cq, h, doc_id) - 1 AS BIGINT)
        |      AS pos
        |  FROM dd),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dd)
        |SELECT doc_id, cq, pos, (pos * 4) // n_total AS phase
        |FROM ranked CROSS JOIN tot""".stripMargin,
    "dsir_weights" ->
      """WITH tf AS (
        |  SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, source,
        |          unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2, 3),
        |grams AS (
        |  SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt_r,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN tf ELSE 0 END)
        |      AS BIGINT) AS cnt_t
        |  FROM tf GROUP BY tok),
        |tot AS (
        |  SELECT CAST(SUM(cnt_r) AS BIGINT) AS n_r,
        |    CAST(SUM(cnt_t) AS BIGINT) AS n_t
        |  FROM grams),
        |ratio AS (
        |  SELECT tok,
        |    CAST((CAST(cnt_t AS HUGEINT) * 1000000000) // n_t AS BIGINT)
        |      AS pt_q,
        |    CAST((CAST(cnt_r AS HUGEINT) * 1000000000) // n_r AS BIGINT)
        |      AS pr_q
        |  FROM grams CROSS JOIN tot),
        |scored AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(tf * (pt_q - pr_q)) AS BIGINT) AS score_num
        |  FROM tf JOIN ratio USING (tok)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, score_num,
        |  CAST(score_num AS DOUBLE) / 1000000000.0 AS dsir_score,
        |  CAST(CASE WHEN score_num > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS selected
        |FROM scored""".stripMargin,
    "epoch_order" ->
      s"""WITH ep AS (
        |  SELECT unnest(generate_series(0, 2)) AS epoch),
        |h AS (
        |  SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
        |    ${md5LongSql("'ep' || CAST(epoch AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)")}
        |      AS hl
        |  FROM documents CROSS JOIN ep)
        |SELECT doc_id, epoch,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hl, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM h""".stripMargin,
    "corpus_shuffle" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS hl
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY hl, doc_id) - 1 AS BIGINT)
        |    AS shuffle_pos,
        |  CAST((ROW_NUMBER() OVER (ORDER BY hl, doc_id) - 1) % 8 AS BIGINT)
        |    AS shard
        |FROM h""".stripMargin,
    "mix_temperature" ->
      """WITH src AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
        |  FROM src),
        |tot AS (
        |  SELECT CAST(SUM(wq) AS BIGINT) AS wq_total,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_total
        |  FROM w)
        |SELECT source, n_docs,
        |  CAST(n_docs AS DOUBLE) / n_total AS natural_share,
        |  CAST(wq AS DOUBLE) / wq_total AS temp_share,
        |  (200 * n_docs) // n_total AS alloc_natural,
        |  (200 * wq) // wq_total AS alloc_temp
        |FROM w CROSS JOIN tot""".stripMargin,
    "token_budget_plan" ->
      """WITH src AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_tok,
        |    CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
        |  FROM src),
        |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_total FROM w)
        |SELECT source, n_tok,
        |  CAST((1000000 * CAST(wq AS HUGEINT)) // wq_total AS BIGINT)
        |    AS alloc_tokens,
        |  (10000 * CAST((1000000 * CAST(wq AS HUGEINT)) // wq_total
        |    AS BIGINT)) // n_tok AS epochs_bp
        |FROM w CROSS JOIN tot""".stripMargin,
    "train_test_split" ->
      s"""SELECT source,
        |  CASE WHEN ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 10 < 9
        |    THEN 'train' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang,
        |  ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
        |FROM documents
        |WHERE ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100
        |  < CASE WHEN lang = 'en' THEN 50 ELSE 20 END""".stripMargin,
    "mix_sources" ->
      """SELECT doc_id, source, rn, alloc FROM (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn,
        |    (200 * COUNT(*) OVER (PARTITION BY source))
        |      // COUNT(*) OVER () AS alloc
        |  FROM documents)
        |WHERE rn <= alloc""".stripMargin)
}
