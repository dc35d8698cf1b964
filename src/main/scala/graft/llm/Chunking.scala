package graft.llm

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval-/context-window chunking for training and RAG corpora:
  * fixed-width overlapping character windows per document, chunk-level
  * exact dedup, per-source chunking overhead accounting, and a
  * distribution-shift audit between each source and the corpus.
  *
  * Chunking is the step between raw curation and index/training
  * ingestion: embedding models and retrievers consume bounded windows,
  * not whole documents. All four views are scan-shaped at 100 TB — the
  * chunk generator is an in-row `sequence`/`explode` (no join, no state),
  * so chunks never exist as a materialized corpus copy unless a sink
  * asks for one; downstream aggregates shuffle only hashes and counts,
  * never chunk text.
  *
  * Reference frame: the reference ships records opaquely
  * (kafka-impl format/EntryFormatter.java re-frames batches without
  * inspecting payloads); chunking is the payload-aware analogue its
  * users run downstream, included here per the brief's LLM-pipeline
  * mandate.
  */
object Chunking {

  /** Chunk window width (chars). */
  private[graft] val Win = 200L

  /** Chunk stride (chars) — Win - Stride = 50 chars of overlap between
    * consecutive chunks, the standard retrieval-window safety margin so
    * no boundary-straddling span is unrepresented.
    */
  private[graft] val Stride = 150L

  /** One row per (doc, window): overlapping character windows of [[Win]]
    * chars every [[Stride]] chars, with the window's md5 as its content
    * identity. The window count per doc is `(len - 1) div Stride + 1`,
    * so every char is covered and the final window may run short.
    *
    * Scale: `sequence` + `explode` generates windows in-row off one
    * documents scan — zero shuffle; at 100 TB this is a map-only stage
    * whose output feeds partial aggregates ([[chunkDedup]],
    * [[chunkStats]]) that ship 32-byte hashes, not text.
    *
    * Per-doc length bound: window starts are addressed with
    * `substring(text, CAST(c_start AS INT), ...)`. The INT cast is
    * safe by construction — a Spark `string` value is a JVM String,
    * which cannot hold more than 2^31-1 chars, so `c_start <= len`
    * always fits — but the guard below still fails LOUDLY (raise_error,
    * never a silently wrapped window) if a future source type widens
    * the invariant (e.g. a chunked-text column exceeding one JVM
    * string).
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        col("text"), length(col("text")).cast("long").as("len"))
      .withColumn("len",
        expr(s"""CASE WHEN len <= ${Int.MaxValue}L THEN len
                |ELSE raise_error(CONCAT('docChunk: doc ', doc_id,
                |  ' exceeds the 2^31-1 char window-addressing bound'))
                |END""".stripMargin))
      // Empty docs emit no window in BOTH engines: without the guard,
      // Spark's `div` truncates (-1 div 150 = 0 -> one empty window)
      // while DuckDB's `//` floors (range empty -> none).
      .filter(col("len") >= 1L)
      .select(col("doc_id"), col("source"), col("text"), col("len"),
        explode(expr(s"sequence(0L, (len - 1) div $Stride)")).as("k"))
      .withColumn("c_start", col("k") * Stride + 1L)
      .withColumn("c_len",
        least(lit(Win), col("len") - col("c_start") + 1L))
      .withColumn("chunk_hash",
        md5(expr(s"substring(text, CAST(c_start AS INT), $Win)")))
      .select(col("doc_id"), col("source"), col("k").as("chunk_id"),
        col("c_start"), col("c_len"), col("chunk_hash"))

  /** Chunk-level exact dedup: windows whose text recurs (within or
    * across documents), keyed by content hash — the RAG-index analogue
    * of [[Dedup.dedupExact]]. Duplicate chunks waste index slots and
    * skew retrieval scores even when their parent documents differ.
    * Only (hash, id) pairs cross the shuffle.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    docChunk(spark, dir)
      .groupBy("chunk_hash")
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_copies") > 1L)

  /** Per-source chunking overhead: window counts, how many windows run
    * short of [[Win]], and the overlap tax (chunk chars emitted minus
    * source chars — what the 50-char safety margin costs in duplicated
    * storage). The fraction is a single exact division off integer sums.
    */
  def chunkStats(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docChunk(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("c_len")).cast("long").as("chunk_chars"),
        sum(when(col("c_len") < Win, 1L).otherwise(0L)).as("n_short"))
    val src = t(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(length(col("text"))).cast("long").as("src_chars"))
    chunks.join(src, "source")
      .withColumn("overlap_chars", col("chunk_chars") - col("src_chars"))
      .withColumn("overhead",
        col("overlap_chars").cast("double") / col("src_chars").cast("double"))
  }

  /** Per-source distribution shift vs the corpus: total-variation
    * distance between each source's unigram distribution and the whole
    * corpus's, the mixture-design audit that flags a source whose token
    * mix diverges before it distorts training. TVD = ½ Σ|p_s − p_c| is
    * deliberately log-free (unlike KL) so the whole statistic runs in
    * per-billion-quantized BIGINT — engine-exact, no float summation
    * order anywhere (the dsir_weights discipline).
    *
    * Tokens absent from a source still contribute p_c each; rather than
    * materialize the |sources| × |vocab| matrix, that absent mass enters
    * via one broadcast scalar: Σ_present(|p_s−p_c| − p_c) + Σ_vocab p_c.
    * The tok-keyed join stays a shuffled equi-join (the vocabulary is
    * NOT assumed broadcastable at 100 TB); per-source frames are tiny.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("source"),
        explode(expr("array_counts(split(text, ' '))")).as(Seq("tok", "tf")))
      .groupBy("source", "tok")
      .agg(sum("tf").cast("long").as("cnt_s"))
    val corpus = tf.groupBy("tok").agg(sum("cnt_s").cast("long").as("cnt_c"))
    val nS = tf.groupBy("source").agg(sum("cnt_s").cast("long").as("n_s"))
    val nC = corpus.agg(sum("cnt_c").cast("long").as("n_c"))
    val pc = corpus.crossJoin(broadcast(nC))
      .select(col("tok"),
        expr("CAST((CAST(cnt_c AS DECIMAL(38,0)) * 1000000000) div n_c" +
          " AS BIGINT)").as("pc_q"))
    val sq = pc.agg(sum("pc_q").cast("long").as("sq"))
    val ps = tf.join(broadcast(nS), "source")
      .select(col("source"), col("tok"), col("cnt_s"),
        expr("CAST((CAST(cnt_s AS DECIMAL(38,0)) * 1000000000) div n_s" +
          " AS BIGINT)").as("ps_q"))
    ps.join(pc, "tok")
      .groupBy("source")
      .agg(
        sum(col("cnt_s")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_toks"),
        sum(abs(col("ps_q") - col("pc_q")) - col("pc_q")).cast("long")
          .as("adj"))
      .crossJoin(broadcast(sq))
      .withColumn("tvd_q", col("adj") + col("sq"))
      .withColumn("tvd", col("tvd_q").cast("double") / 2000000000.0d)
      .select("source", "n_tokens", "n_toks", "tvd_q", "tvd")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_chunk" -> docChunk,
    "chunk_dedup" -> chunkDedup,
    "chunk_stats" -> chunkStats,
    "source_divergence" -> sourceDivergence)

  val oracles: Map[String, String] = Map(
    "doc_chunk" ->
      s"""WITH ks AS (
        |  SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS len,
        |    unnest(range(0, (length(text) - 1) // $Stride + 1)) AS k
        |  FROM documents WHERE length(text) >= 1)
        |SELECT doc_id, source, k AS chunk_id,
        |  k * $Stride + 1 AS c_start,
        |  least($Win, len - (k * $Stride + 1) + 1) AS c_len,
        |  md5(substring(text, CAST(k * $Stride + 1 AS INT), $Win))
        |    AS chunk_hash
        |FROM ks""".stripMargin,
    "chunk_dedup" ->
      s"""WITH ks AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, (length(text) - 1) // $Stride + 1)) AS k
        |  FROM documents WHERE length(text) >= 1),
        |chunks AS (
        |  SELECT doc_id,
        |    md5(substring(text, CAST(k * $Stride + 1 AS INT), $Win)) AS chunk_hash
        |  FROM ks)
        |SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_copies,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keep_doc
        |FROM chunks GROUP BY chunk_hash HAVING COUNT(*) > 1""".stripMargin,
    "chunk_stats" ->
      s"""WITH ks AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
        |    unnest(range(0, (length(text) - 1) // $Stride + 1)) AS k
        |  FROM documents WHERE length(text) >= 1),
        |chunks AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(SUM(least($Win, len - (k * $Stride + 1) + 1)) AS BIGINT)
        |      AS chunk_chars,
        |    CAST(SUM(CASE WHEN least($Win, len - (k * $Stride + 1) + 1)
        |      < $Win THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        |  FROM ks GROUP BY source),
        |src AS (
        |  SELECT source, CAST(SUM(length(text)) AS BIGINT) AS src_chars
        |  FROM documents GROUP BY source)
        |SELECT source, n_chunks, n_docs, chunk_chars, n_short, src_chars,
        |  chunk_chars - src_chars AS overlap_chars,
        |  CAST(chunk_chars - src_chars AS DOUBLE) / CAST(src_chars AS DOUBLE)
        |    AS overhead
        |FROM chunks JOIN src USING (source)""".stripMargin,
    "source_divergence" ->
      """WITH tf AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt_s
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |corpus AS (
        |  SELECT tok, CAST(SUM(cnt_s) AS BIGINT) AS cnt_c FROM tf GROUP BY 1),
        |ns AS (
        |  SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_s FROM tf GROUP BY 1),
        |nc AS (SELECT CAST(SUM(cnt_c) AS BIGINT) AS n_c FROM corpus),
        |pc AS (
        |  SELECT tok,
        |    CAST((CAST(cnt_c AS HUGEINT) * 1000000000) // n_c AS BIGINT)
        |      AS pc_q
        |  FROM corpus CROSS JOIN nc),
        |sq AS (SELECT CAST(SUM(pc_q) AS BIGINT) AS sq FROM pc),
        |ps AS (
        |  SELECT source, tok, cnt_s,
        |    CAST((CAST(cnt_s AS HUGEINT) * 1000000000) // n_s AS BIGINT)
        |      AS ps_q
        |  FROM tf JOIN ns USING (source))
        |SELECT source, n_tokens, n_toks, adj + (SELECT sq FROM sq) AS tvd_q,
        |  CAST(adj + (SELECT sq FROM sq) AS DOUBLE) / 2000000000.0 AS tvd
        |FROM (
        |  SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_toks,
        |    CAST(SUM(ABS(ps_q - pc_q) - pc_q) AS BIGINT) AS adj
        |  FROM ps JOIN pc USING (tok) GROUP BY source)""".stripMargin)
}
