package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BPE tokenizer artifacts — the build-once/apply-many split
  * applied to the second trainable artifact in the inventory (the
  * [[AnnIndex]] discipline for the [[TextAnalysis.bpeMerges]] trainer).
  *
  * A tokenizer ships two things: the merge table (what training
  * produced — 3 rows here) and, operationally, the encoded vocabulary
  * `(word, n_tok)` that the encode path actually consumes (bounded —
  * distinct words, never corpus rows). `bpe_vocab_persist` writes both
  * into one [[graft.Tables.store]] keyed by the documents content
  * fingerprint (rebuilt when the corpus changes, never served half
  * written);
  * `bpe_encode_apply` is the apply-only path: it reads the stored
  * vocabulary and pays ONLY the corpus scan + broadcast join + per-doc
  * rollup — no trainer rounds, no vocabulary re-encode. At 100 TB the
  * trainer's iterated pair counts are an offline build; every encode
  * job starts from the stored vocabulary. Results are bit-identical to
  * `bpe_encode` (same [[TextAnalysis.encodeAccounting]] spelling, same
  * DuckDB oracle).
  */
object BpeStore {

  /** The store root for this (dataset, documents content) — one
    * [[graft.Tables.store]] holding `merges/` (the 3-row merge table) and
    * `vocab/` (the bounded encoded vocabulary) — built first when it has
    * no completion marker or when `rebuild` forces it.
    */
  private[graft] def ensure(spark: SparkSession, dir: String,
      rebuild: Boolean = false): java.io.File =
    graft.Tables.store(spark, "graft_bpe_store", dir, "documents", rebuild) { root =>
      TextAnalysis.bpeMerges(spark, dir)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new java.io.File(root, "merges").toString)
      TextAnalysis.encodedVocab(spark, dir)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new java.io.File(root, "vocab").toString)
    }

  /** `bpe_vocab_persist`: rebuild the store, then report the merge
    * table READ BACK from `merges/` decorated with the stored
    * vocabulary's rollup (words, total tokens) — the round-trip proof
    * for both artifacts. 3 rows.
    */
  def vocabPersist(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir, rebuild = true)
    val vs = spark.read.parquet(new java.io.File(root, "vocab").toString)
      .agg(count(lit(1)).as("n_vocab_words"),
        sum("n_tok").cast("long").as("n_vocab_tokens"))
    spark.read.parquet(new java.io.File(root, "merges").toString)
      .crossJoin(broadcast(vs))
  }

  /** `bpe_encode_apply`: encode-only against the PERSISTED vocabulary —
    * no trainer rounds, no vocabulary re-encode; the corpus scan joins
    * the stored (word, n_tok) broadcast and partial-aggregates per doc.
    * Bit-identical to `bpe_encode` (same accounting spelling).
    */
  def encodeApply(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir)
    // Plan-cached artifact read (Tables.artifactPlan): the vocab listing +
    // footer cost ~85 ms per call and the store is content-addressed.
    val vocab = graft.Tables.artifactPlan(spark,
      new java.io.File(root, "vocab").toString)
    TextAnalysis.encodeAccounting(spark, dir, vocab)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_vocab_persist" -> vocabPersist,
    "bpe_encode_apply" -> encodeApply)

  val oracles: Map[String, String] = Map(
    "bpe_vocab_persist" -> (TextAnalysis.bpeChainSql + ",\n" +
      """vs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
        |    CAST(SUM(len(string_split(trim(seq), ' '))) AS BIGINT)
        |      AS n_vocab_tokens
        |  FROM s3)
        |SELECT CAST(round AS BIGINT) AS round, pair,
        |  replace(pair, ' ', '') AS merged, n_pair,
        |  n_vocab_words, n_vocab_tokens
        |FROM (
        |  SELECT 1 AS round, pair, n_pair FROM t1
        |  UNION ALL SELECT 2, pair, n_pair FROM t2
        |  UNION ALL SELECT 3, pair, n_pair FROM t3)
        |CROSS JOIN vs""".stripMargin),
    // The apply path must reproduce bpe_encode exactly: same oracle.
    "bpe_encode_apply" -> (TextAnalysis.bpeChainSql + """,
        |dw AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id,
        |      unnest(string_split(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |        AS word
        |    FROM documents)
        |  WHERE length(word) >= 1),
        |enc AS (
        |  SELECT word,
        |    CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_tok
        |  FROM s3)
        |SELECT doc_id, COUNT(*) AS n_words,
        |  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(word)) AS BIGINT)
        |    - CAST(SUM(n_tok) AS BIGINT) AS saved
        |FROM dw JOIN enc USING (word)
        |GROUP BY doc_id""".stripMargin))
}
