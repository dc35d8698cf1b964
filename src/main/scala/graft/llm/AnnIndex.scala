package graft.llm

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF/PQ index — the build-once/probe-many split real vector
  * stores run at 100 TB (FAISS IVFADC deployment shape: train + encode
  * offline, serve from the stored index).
  *
  * [[Similarity.annIvfPq]] prices the whole chain per session: the IVF
  * coarse fit and the PQ codebook fit (both Lloyd-to-fixpoint loops over
  * the corpus) plus the corpus-sized encode. Those are INDEX-BUILD costs;
  * a query should pay none of them. This object materializes the three
  * index artifacts once, laid out for directory pruning like the glog
  * store's (topic, part) tree ([[graft.sources.Glog]]):
  *
  *  - `centroids/` — the fitted coarse quantizer (cid, cv, cnrm): K rows.
  *  - `codebook/`  — the trained PQ sub-codebooks (s, cid, cv): 8x16 rows.
  *  - `codes/`     — the encoded corpus (vec_id, s, code), PARTITIONED BY
  *    the vector's coarse cell, so a probe's cell predicate becomes
  *    partition pruning — the scan opens only the probed cell's files,
  *    ~1/K of an index already 64x smaller than the vectors.
  *
  * [[annIvfPqProbe]] is the probe-only path: it reads the persisted
  * artifacts, prices the 8 incoming query vectors against the stored
  * codebook (a broadcast ADC table), assigns each query to its coarse
  * cell against the stored centroids, and scans ONLY that cell's codes.
  * Its results are bit-identical to `ann_ivfpq` (same fold spellings,
  * same integer-quantized distances, same tie-breaks), checked by the
  * same DuckDB oracle.
  *
  * The index is one [[graft.Tables.store]] keyed by (dataset path,
  * embeddings content fingerprint): a regenerated dataset rebuilds
  * instead of serving a stale index, older fingerprints of the same
  * dataset are swept on build, and a root without its completion marker
  * (an interrupted build) is cleared and rebuilt, never served.
  */
object AnnIndex {

  /** Build the three index artifacts into an empty `root`. Training and
    * encode run through the session's fingerprint-cached frames, so a
    * session that already ran the ANN family pays only the writes here.
    */
  private def build(spark: SparkSession, dir: String, root: java.io.File): Unit = {
    Clustering.fittedCentroids(spark, dir)
      .select("cid", "cv", "cnrm")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new java.io.File(root, "centroids").toString)
    Similarity.pqCodebook(spark, dir)
      .select("s", "cid", "cv")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new java.io.File(root, "codebook").toString)
    // The corpus-sized artifact: 8 (s, code) rows per vector + its coarse
    // cell. partitionBy(cell) is the layout the probe prunes on.
    Similarity.pqCodes(spark, dir)
      .join(Similarity.ivfAssign(spark, dir), "vec_id")
      .select("vec_id", "s", "code", "cell")
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(new java.io.File(root, "codes").toString)
  }

  /** The index root for this (dataset, embeddings content), built first
    * through [[graft.Tables.store]] when it has no completion marker (the
    * only path by which a probe can ever pay build cost) or when
    * `rebuild` forces it.
    */
  private[graft] def ensure(spark: SparkSession, dir: String,
      rebuild: Boolean = false): java.io.File =
    graft.Tables.store(spark, "graft_ann_index", dir, "embeddings", rebuild) { root =>
      // Loud: a probe that pays the build is a BUILD+probe run, and a
      // timing that includes it must be distinguishable from a pure probe.
      if (!rebuild) System.err.println(
        s"[ann-index] probe missed the persisted index; building at $root")
      build(spark, dir, root)
    }

  /** `ivfpq_index_persist`: rebuild the persisted index, then report
    * per-cell statistics READ BACK from the stored `codes/` partitions —
    * (cell, n_vecs, n_code_rows) — proving the round trip, not echoing
    * the in-session frames. ~K rows.
    */
  def indexPersist(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir, rebuild = true)
    spark.read.parquet(new java.io.File(root, "codes").toString)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(countDistinct("vec_id").as("n_vecs"),
        count(lit(1)).as("n_code_rows"))
  }

  /** `ann_ivfpq_probe`: IVFADC search against the PERSISTED index — no
    * training, no encode; the only data-sized input is the pruned scan of
    * the probed cells' code partitions. Query side: the 8 incoming
    * vectors are read raw (vec_id pushdown), sliced, priced against the
    * stored codebook into a broadcast ADC table, and cell-assigned
    * against the stored centroids (the one nearestCentroid spelling).
    * The code scan joins that broadcast on (s, code, cell) — the cell
    * equi-condition on the partition column is what dynamic partition
    * pruning keys on at scale. Results are bit-identical to ann_ivfpq.
    */
  def annIvfPqProbe(spark: SparkSession, dir: String): DataFrame = {
    val root = ensure(spark, dir)
    // Plan-cached artifact reads (Tables.artifactPlan): three parquet
    // listings + footer reads per probe otherwise (~85 ms each); the
    // index root is content-addressed so the cache can never go stale.
    val cents = graft.Tables.artifactPlan(spark,
      new java.io.File(root, "centroids").toString)
    val codebook = graft.Tables.artifactPlan(spark,
      new java.io.File(root, "codebook").toString)
    val qvecs = Embeddings.directional(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
    val qcells = Clustering.nearestCentroid(qvecs, cents)
      .select(col("vec_id").as("q_id"), col("cid").as("qcell"))
    val dtable = Similarity.subSlices(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .join(broadcast(codebook), "s")
      .withColumn("d2q", expr(Similarity.pqD2q))
      .select(col("vec_id").as("q_id"), col("s").as("qs"),
        col("cid"), col("d2q"))
    // The whole query side — ADC table x cell assignment — is <=
    // |queries| x 8 subspaces x 16 codes rows (metadata at any scale).
    // ONE collect materializes it: the probed-cell set falls out of the
    // same rows (previously a second job re-deriving qcells), and the
    // probe join's build side becomes a LocalRelation instead of a
    // broadcast subtree that re-planned the query-vector scan (guide §5
    // bounded driver work; 14 -> ~7 query-side jobs).
    val probeSide = dtable.join(qcells, "q_id")
    val probeRows = probeSide.collect()
    val probeLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSide.schema)
    // The probed cell set is <= |queries| values; landing it as a STATIC
    // partition filter makes the pruning unconditional (PartitionFilters
    // on the scan node) instead of betting on runtime DPP — at 100 TB
    // the scan lists and reads ONLY these cell directories.
    val probedCells = probeRows.map(_.getAs[Long]("qcell")).distinct.toSeq
    // Filter the RAW partition column (before any cast — a cast on the
    // attribute would defeat partition pruning), then normalize to long
    // for the join/oracle schema.
    val codes = graft.Tables.artifactPlan(spark,
        new java.io.File(root, "codes").toString)
      .filter(col("cell").isin(probedCells.map(_.toInt): _*))
      .withColumn("cell", col("cell").cast("long"))
    val cand = codes
      .join(broadcast(probeLocal),
        col("s") === col("qs") && col("code") === col("cid") &&
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum("d2q").cast("long").as("distq"))
    val w = Window.partitionBy("q_id").orderBy(col("distq"), col("n_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"),
        (col("distq").cast("double") / lit(1000000000.0d)).as("dist"),
        col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivfpq_index_persist" -> indexPersist,
    "ann_ivfpq_probe" -> annIvfPqProbe)

  val oracles: Map[String, String] = Map(
    // Per-cell encode stats over the same codes+cells chain the oracle
    // already derives for ann_ivfpq.
    "ivfpq_index_persist" -> (Similarity.vecSql + Similarity.ivfpqChainSql +
      """SELECT cc.cell,
        |  CAST(COUNT(DISTINCT c.vec_id) AS BIGINT) AS n_vecs,
        |  CAST(COUNT(*) AS BIGINT) AS n_code_rows
        |FROM codes c JOIN cells cc USING (vec_id)
        |GROUP BY cc.cell""".stripMargin),
    // The probe must reproduce ann_ivfpq exactly: same oracle.
    "ann_ivfpq_probe" -> (Similarity.vecSql + Similarity.ivfpqChainSql +
      """SELECT q_id, n_id,
        |  CAST(distq AS DOUBLE) / 1000000000.0 AS dist,
        |  CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY distq, n_id) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin))
}
