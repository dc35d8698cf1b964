package graft.llm

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single definition of the vector + norm projection used by every cosine
  * path (Similarity, Dedup) — the fold-order contract with the DuckDB
  * oracle lives here and nowhere else.
  *
  * The projection (float->double transform + norm) is cached per
  * (session, dir): five queries consume it, and re-reading the parquet +
  * re-allocating the arrays dominated their runtime.
  */
object Embeddings {
  def withNorm(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Embeddings.withNorm")(
      t(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
        // SERIALIZED storage (the basket-cache precedent): at the 1000x
        // decade this frame is tens of GB — serialized blocks are ~3x
        // smaller and evict cleanly under the budget instead of pinning
        // the deserialized object graph against execution memory
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** [[withNorm]] restricted to vectors that HAVE a direction
    * (nrm > 0) — the ingestion contract of every cosine consumer
    * (Similarity, Clustering, embedding dedup). A zero-norm vector is a
    * broken encoder output: it cannot participate in cosine geometry,
    * and under ANSI mode one such row would abort the whole stage with
    * DIVIDE_BY_ZERO (EdgeEmbeddingsSpec pins both facts). It stays
    * visible to the detectors — [[graft.llm.Similarity.embeddingNormStats]]
    * and the PCA moment pass read the unfiltered frame.
    */
  def directional(spark: SparkSession, dir: String): DataFrame =
    withNorm(spark, dir).filter(col("nrm") > 0.0)
}
