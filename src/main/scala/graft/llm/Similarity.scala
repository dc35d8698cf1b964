package graft.llm

import graft.functions.Parity.md5LongSql
import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column.
  *
  * `ann_bruteforce` is the exactness baseline: broadcast the (tiny) query
  * set against a single scan of the vectors — at 100 TB this is one pass,
  * no shuffle on the big side. `ann_lsh` is the scale path: 6 random
  * hyperplanes (md5-derived, so both engines build the identical matrix)
  * bucket the vectors; search touches only the query's bucket.
  *
  * Every dot product is an ordered left-to-right fold (`aggregate` over
  * `zip_with`) — bit-identical across engines, which also makes the
  * top-k cut deterministic.
  */
object Similarity {

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Embeddings.directional(spark, dir)

  /** Sub-bucket cap for the within-block pair generators ([[semDedup]] and
    * Dedup.dedupEmbedding): a block (IVF cell / label) of n members is
    * split into nsub = ceil(n / PairSubCap) sub-buckets by vec_id
    * congruence, and pairs are generated only within a sub-bucket. Block
    * population grows linearly with the corpus, so uncapped within-block
    * comparison is O(block^2) — the all-pairs hazard the LSH 50-doc and
    * winnowing 32-doc caps exist to kill; with the cap, total pair work is
    * O(n * PairSubCap) regardless of corpus size. This is a documented
    * stop-signal (SURVEY §5): past ~PairSubCap members per block the
    * generator trades recall (~1/nsub of within-block pairs) for
    * boundedness, exactly like the other capped pair generators. Integer
    * arithmetic only, so the oracle mirrors it exactly.
    */
  private[graft] val PairSubCap = 40L

  /** The ceil-div sub-bucket count over PairSubCap as DuckDB SQL — the
    * ONE spelling of the cap formula for every capped-pair oracle (the
    * Spark sides all write the matching `(count + cap-1) div cap`).
    */
  private[llm] def capSql: String =
    s"(COUNT(*) + ${PairSubCap - 1}) // $PairSubCap"

  /** Fold a (p, pw) plane frame into ONE broadcastable matrix row
    * (array of plane vectors ordered by p) — the shared shape of both
    * LSH bucket builds; one spelling so the variants cannot diverge.
    */
  private def planeMatrix(planes: DataFrame): DataFrame =
    planes.agg(expr(
      "transform(array_sort(collect_list(struct(p, pw))), s -> s.pw)")
      .as("pm"))

  private val cosExpr = "vec_dot(q.v, c.v) / (q.nrm * c.nrm)"

  /** Exact top-5 cosine neighbors for the 8 query vectors (vec_id < 8). */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val q = vecs.filter(col("vec_id") < 8)
    val pairs = broadcast(q.as("q"))
      .join(vecs.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  /** Random-hyperplane LSH: 6 planes -> 6-bit bucket per vector; top-3
    * neighbors within the query's bucket. Plane p component d is derived
    * from md5("p_<p>_<d>") so the matrix is identical on both engines.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    // The 6 plane vectors depend only on p — build them once and broadcast,
    // instead of re-deriving 64 md5s per (vector, plane) pair.
    // Note the D suffixes: a bare 7.2e16 literal parses as DECIMAL and
    // silently turns the whole plane into array<decimal>.
    val planes = spark.range(0, 6, 1, 1).select(col("id").as("p"), expr(
      """transform(sequence(0, 63), d ->
        |  CAST(CAST(conv(substring(md5(concat('p_', cast(p as string), '_', cast(d as string))), 1, 14), 16, 10) AS BIGINT) AS DOUBLE)
        |    / 72057594037927936.0D - 0.5D)""".stripMargin).as("pw"))
    // Fold the whole 6-plane matrix to ONE broadcast row and compute the
    // bucket in-row — a single pass over vecs with no groupBy shuffle and
    // no join back for v/nrm (the previous shape shuffled 6n (vec, plane)
    // rows and re-scanned vecs). Same arithmetic per (vector, plane), so
    // the oracle is unchanged.
    val planeMat = planeMatrix(planes)
    val buckets = vecs
      .crossJoin(broadcast(planeMat))
      .withColumn("bucket", expr(
        """aggregate(sequence(0, 5), CAST(0 AS BIGINT), (acc, p) ->
          |  acc + CASE WHEN vec_dot(v, pm[p]) > 0
          |    THEN CAST(pow(2, p) AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .drop("pm")
    val q = buckets.filter(col("vec_id") < 8)
    val pairs = broadcast(q.as("q"))
      .join(buckets.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** Multi-table random-hyperplane LSH — the L-tables recall knob every
    * production LSH index exposes (a pair colliding in ANY of the L
    * tables becomes a candidate, so miss probability decays as
    * (1 - p^k)^L): 4 independent tables of 6 planes each, drawn from the
    * same md5 plane namespace (table t owns planes 6t..6t+5), so the
    * whole 24-plane matrix is one broadcast. Candidates are the union
    * across tables (any-table collision = a code-array overlap, each
    * pair produced once); top-3 by exact cosine. At 100 TB: L multiplies
    * only the code array (4 signatures per vector, in-row), never the
    * vectors; with a FIXED 8-query set the candidate probe is a
    * broadcast compare against the one-scan coded corpus — a large query
    * set would flip to posexplode + (t, bucket) equi-join, trading one
    * fan-out exchange for the per-row compares.
    */
  def annLshMulti(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val planes = spark.range(0, 24, 1, 1).select(col("id").as("p"), expr(
      """transform(sequence(0, 63), d ->
        |  CAST(CAST(conv(substring(md5(concat('p_', cast(p as string), '_', cast(d as string))), 1, 14), 16, 10) AS BIGINT) AS DOUBLE)
        |    / 72057594037927936.0D - 0.5D)""".stripMargin).as("pw"))
    // One broadcast 24-plane matrix, all 4 table signatures computed
    // in-row as ONE code array (code = t*64 + bucket — t and bucket are
    // both recoverable, so "collides in ANY table" IS arrays_overlap),
    // and v/nrm carried through the join like single-table annLsh. The
    // previous shape paid a 4-row posexplode, a distinct exchange over
    // the candidate union, and two data-sized joins back for v/nrm; this
    // shape touches the vectors ONCE — an 8-row broadcast nested-loop
    // compare (8 cheap 4x4 overlap tests per vector, no shuffle at all
    // before the bounded candidate window), with each (q, c) candidate
    // produced exactly once (the overlap test subsumes the distinct).
    // Same per-(vector, plane) arithmetic, so the oracle is unchanged.
    val planeMat = planeMatrix(planes)
    val coded = vecs
      .crossJoin(broadcast(planeMat))
      .withColumn("codes", expr(
        """transform(sequence(0, 3), t ->
          |  t * 64 + aggregate(sequence(0, 5), CAST(0 AS BIGINT),
          |    (acc, p) ->
          |      acc + CASE WHEN vec_dot(v, pm[t * 6 + p]) > 0
          |        THEN CAST(pow(2, p) AS BIGINT)
          |        ELSE CAST(0 AS BIGINT) END))""".stripMargin))
      .drop("pm")
    val q = coded.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("codes").as("qcodes"))
    val pairs = broadcast(q)
      .join(coded.as("c"),
        arrays_overlap(col("qcodes"), col("c.codes")) &&
          col("q_id") =!= col("c.vec_id"))
      .select(col("q_id"), col("c.vec_id").as("n_id"),
        (expr("vec_dot(qv, c.v)") / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** Recall@3 of the 4-table LSH index vs the exact top-3 — read next to
    * [[annRecall]] (the single-table point) this is the measured recall
    * curve the L knob buys.
    */
  def lshMultiRecall(spark: SparkSession, dir: String): DataFrame =
    recallVs(
      annBruteforce(spark, dir).filter(col("rank") <= 3).select("q_id", "n_id"),
      annLshMulti(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** IVF cell assignment shared by [[annIvf]], [[annIvfNprobe2]] and
    * [[semDedup]]: the coarse quantizer is the K-MEANS-FITTED centroid set
    * ([[Clustering.fittedCentroids]] — Lloyd iterated to fixpoint, bounded
    * by its MaxRounds budget), not raw seed vectors; each vector joins its
    * nearest centroid by cosine (ties to the lower centroid id). At 100 TB
    * the fit touches only k x dim state per round, the cell assignment is
    * one broadcast pass, and search touches ~1/16 of the data.
    */
  private def ivfCells(spark: SparkSession, dir: String): DataFrame =
    ivfAssign(spark, dir).join(vectors(spark, dir), "vec_id")
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"))

  /** The static (vec_id, cell, v, nrm) serving frame for the streaming
    * query screen ([[graft.streaming.Streams.annServeStream]]) — the
    * cached IVF assignment joined to the cached vector projection.
    */
  private[graft] def servingIndex(spark: SparkSession, dir: String): DataFrame =
    ivfCells(spark, dir)

  /** The coarse cell assignment `(vec_id, cell)`, fingerprint-cached per
    * (session, data) — the whole IVF family (annIvf, nprobe2, cell
    * balance, recall curve, IVFPQ, semPairs, knn candidates) keys on
    * this one frame, so the assignment's scan + max_by aggregation runs
    * once, not per consumer. Two longs per vector localCheckpoint'ed —
    * negligible next to the vectors at any corpus size; consumers that
    * need the raw vectors re-join them lazily ([[ivfCells]]).
    */
  private[llm] def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.ivfAssign") {
      val vecs = vectors(spark, dir)
      val cents = Clustering.fittedCentroids(spark, dir)
        .select(col("cid"), col("cv"), col("cnrm"))
      // One shared assignment definition (Clustering.nearestCentroid) -
      // the max_by partial-aggregation shape and the (ccos DESC, cid ASC)
      // tie-break are load-bearing for both shuffle size and oracle parity.
      Clustering.nearestCentroid(vecs, cents)
        .select(col("vec_id"), col("cid").as("cell"))
        .localCheckpoint()
    }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfCells(spark, dir)
    val q = cells.filter(col("vec_id") >= 100 && col("vec_id") < 108)
    val pairs = broadcast(q.as("q"))
      .join(cells.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** IVF cell-balance diagnostic: per coarse cell its population, corpus
    * share, and imbalance factor vs the mean cell (both integer-quantized
    * — basis points and x100 — for engine parity). At 100 TB this is the
    * operational health check of the IVF family: a hot cell bounds probe
    * latency, skews partition sizes, and signals the coarse quantizer
    * needs refitting (real IVF deployments re-train when max imbalance
    * drifts); the same per-cell counts are what [[semDedup]]'s sub-bucket
    * cap keys on. One partial-aggregated shuffle on cell (16 rows out),
    * then a broadcast of the 1-row total.
    */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val counts = ivfAssign(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(
      sum("n_vecs").cast("long").as("n_total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_vecs * 10000 div n_total"))
      .withColumn("imbalance_x100", expr("n_vecs * 100 * n_cells div n_total"))
      .select("cell", "n_vecs", "share_bp", "imbalance_x100")
  }

  /** The COST side of the IVF nprobe knob: per nprobe ∈ {1, 2, 4}, the
    * candidate volume the probed cells put in front of the 8-query
    * range — total candidates, candidates per query, and the scanned
    * corpus share in basis points. Read next to [[ivfRecallCurve]]
    * (the recall side) it is the full price list the capacity plan
    * interpolates on: recall@nprobe vs bytes-scanned@nprobe. Counts
    * the probed cells' full populations (the honest scan amount — the
    * query's own row included when its cell is probed).
    *
    * Scale: rides the cached assignment; the probe ranking touches
    * |queries| x |cells| broadcast rows, the size table is
    * |cells|-sized, and nothing data-sized moves.
    */
  def ivfScanCostCurve(spark: SparkSession, dir: String): DataFrame = {
    val cents = Clustering.fittedCentroids(spark, dir)
      .select(col("cid"), col("cv"), col("cnrm"))
    val asg = ivfAssign(spark, dir)
    val sizes = asg.groupBy("cell").agg(count(lit(1)).as("csz"))
    val nAll = asg.agg(count(lit(1)).as("n_total"))
    val qw = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid"))
    val probes = vectors(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .withColumn("pr", row_number().over(qw).cast("long"))
      .filter(col("pr") <= 4)
      .select(col("vec_id").as("q_id"), col("cid").as("cell"), col("pr"))
      .join(broadcast(sizes), "cell")
    val ns = spark.range(0, 3, 1, 1)
      .select(expr("CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT)")
        .as("nprobe"))
    probes.crossJoin(broadcast(ns))
      .filter(col("pr") <= col("nprobe"))
      .groupBy("nprobe")
      .agg(countDistinct("q_id").as("n_queries"),
        sum("csz").cast("long").as("cand_total"))
      .crossJoin(broadcast(nAll))
      .select(col("nprobe"), col("n_queries"), col("cand_total"),
        expr("cand_total div n_queries").as("cand_per_query"),
        expr("(10000 * cand_total) div (n_queries * n_total)")
          .as("scan_share_bp"))
  }

  /** IVF with nprobe=2 — the recall/cost knob made concrete: each query
    * probes its TWO nearest coarse cells instead of one (data vectors
    * still live in exactly one cell, so probed candidate sets are
    * disjoint). Together with [[annIvf]] and [[annRecall]] this gives the
    * two operating points a capacity plan interpolates between; at scale
    * nprobe multiplies only the query-side fan-out, never the index.
    */
  def annIvfNprobe2(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfCells(spark, dir)
    val vecs = vectors(spark, dir)
    val cents = Clustering.fittedCentroids(spark, dir)
      .select(col("cid"), col("cv"), col("cnrm"))
    val qw = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val probes = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .withColumn("pr", row_number().over(qw))
      .filter(col("pr") <= 2)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid").as("pcell"))
    val pairs = broadcast(probes)
      .join(cells.as("c"),
        col("pcell") === col("c.cell") && col("q_id") =!= col("c.vec_id"))
      .select(col("q_id"), col("c.vec_id").as("n_id"),
        (expr("vec_dot(qv, c.v)") / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning inside
    * IVF cells — a vector is dropped when a lower-id vector in the same
    * (cell, sub-bucket) sits above the cosine threshold. Cell population
    * grows linearly with the corpus (FitK is fixed), so the within-cell
    * comparison is additionally bounded by [[PairSubCap]] sub-bucketing:
    * the join key is (cell, sub), blocks stay ~PairSubCap-sized, and total
    * pair work is O(n * PairSubCap) — at 100 TB the (cell, sub) key is the
    * only shuffle and no block ever goes quadratic.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semPairs(spark, dir)
      .filter(col("cos") >= 0.25)
      .groupBy(col("b_id").as("drop_id"))
      .agg(
        min(col("cell")).as("cell"),
        count(lit(1)).as("n_dups"),
        min(col("a_id")).as("keep_id"))

  /** The cell-local ordered pair frame `(a_id, b_id, cell, cos)` behind
    * the semantic-dedup family — [[semDedup]] thresholds it once,
    * [[semDedupSweep]] across the whole knob range. Fingerprint-cached
    * per (session, data) with the knn-edge discipline: the frame is
    * bounded at n x [[PairSubCap]] rows by construction, so the cached
    * footprint scales linearly and both consumers ride one pair pass.
    */
  private def semPairs(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.semPairs")(
      buildSemPairs(spark, dir).localCheckpoint())

  private def buildSemPairs(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfCells(spark, dir)
    val nsub = cells.groupBy("cell")
      .agg(expr(s"(count(1) + ${PairSubCap - 1}) div $PairSubCap").as("nsub"))
    val sub = cells.join(broadcast(nsub), "cell")
      .withColumn("sub", pmod(col("vec_id"), col("nsub")))
    sub.as("q").join(sub.as("c"),
        col("q.cell") === col("c.cell") && col("q.sub") === col("c.sub") &&
          col("q.vec_id") < col("c.vec_id"))
      .withColumn("cos", expr(cosExpr))
      .select(col("q.vec_id").as("a_id"), col("c.vec_id").as("b_id"),
        col("c.cell").as("cell"), col("cos"))
  }

  /** The semantic-dedup aggressiveness curve: pairs surviving and docs
    * dropped at cosine thresholds 0.25-0.55 — the knob a curation team
    * tunes before committing a prune rate (the SemDeDup paper's epsilon
    * sweep, off ONE evaluation of the capped pair set). Thresholds are
    * th_pct/100 with the division spelled identically in both engines,
    * so the cut is double-exact.
    */
  def semDedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val th = spark.range(0, 4, 1, 1)
      .select((lit(25L) + col("id") * 10L).as("th_pct"))
    semPairs(spark, dir).crossJoin(broadcast(th))
      .filter(col("cos") >= col("th_pct").cast("double") / 100.0d)
      .groupBy("th_pct")
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("b_id")).as("n_dropped"))
  }

  /** Scalar-quantized (int8) brute-force ANN — the memory-bandwidth scale
    * path: each vector is quantized to 64 signed bytes with a per-vector
    * symmetric scale (q = floor(x * 127 / max|x|)), shrinking the scanned
    * index 4x (at 100 TB: 4x fewer bytes off storage per scan, and the
    * candidate dot products are integer arithmetic). The quantized dot is
    * an EXACT integer sum, so ranking is engine-identical by construction;
    * the de-quantized cosine estimate is a fixed-shape scalar expression.
    * Top-3 per query under the quantized metric.
    */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val quant = vecs
      .withColumn("mx",
        expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("qv",
        expr("transform(v, x -> CAST(floor(x * 127.0D / mx) AS INT))"))
      .select(col("vec_id"), col("qv"), col("mx"), col("nrm"))
    val q = quant.filter(col("vec_id") < 8)
    val pairs = broadcast(q.as("q"))
      .join(quant.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("qdot",
        expr("""aggregate(zip_with(q.qv, c.qv, (a, b) -> CAST(a AS BIGINT) * b),
               |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        col("qdot"),
        (col("qdot").cast("double") * col("q.mx") * col("c.mx") /
          (lit(16129.0d) * col("q.nrm") * col("c.nrm"))).as("cos8"))
    val w = Window.partitionBy("q_id").orderBy(col("cos8").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "n_id", "qdot", "cos8", "rank")
  }

  /** SQ8 quantization-distortion audit: the int8 twin of
    * [[pqDistortion]] — per label, the relative squared error the
    * symmetric per-vector max-|x| scale leaves behind
    * (floor(|x - deq(q)|^2 / |x|^2 * 1e9), an ordered fold quantized to
    * an exact integer in both engines). [[sq8Recall]] says the int8
    * RANKING survived; this prices how coarse the codes actually are
    * per region of the space — a label whose vectors carry one hot
    * dimension quantizes everything else onto ~1 bit and shows up here
    * long before it dents top-3 recall.
    *
    * Scale: one scan over the quantize-shaped projection rolled up to
    * |labels| rows — the same single pass the quantizer itself costs.
    */
  def sq8Distortion(spark: SparkSession, dir: String): DataFrame =
    Embeddings.directional(spark, dir)
      .withColumn("mx",
        expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("qv",
        expr("transform(v, x -> CAST(floor(x * 127.0D / mx) AS INT))"))
      .withColumn("e2q", expr(
        """CAST(floor(aggregate(zip_with(v, qv, (x, q) ->
          |  (x - q * mx / 127.0D) * (x - q * mx / 127.0D)),
          |  CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)
          |  / (nrm * nrm) * 1000000000.0D) AS BIGINT)""".stripMargin))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum("e2q").cast("long").as("sum_e2q"),
        max("e2q").as("max_e2q"))
      .withColumn("mean_e2q", expr("sum_e2q div n_vecs"))

  /** Embedding classification-margin audit: per label, the mean margin
    * between each vector's cosine to its OWN label centroid and its
    * best OTHER-label centroid (quantized 1e-9), and the share of
    * vectors with NEGATIVE margin (closer to another label's center
    * than their own — the confusable mass). The finer-grained sibling
    * of cell_purity: purity says the unsupervised cells roughly track
    * labels, margin says how much geometric headroom each label
    * actually has before a classifier (or a label-filtered ANN search)
    * starts leaking.
    *
    * Scale: label centroids are the kmeans quantized-mean shape
    * ((label, dim) partial agg); the margin pass is one broadcast of
    * the |labels| centroid frame over the vectors with a map-side
    * two-way max — nothing data-sized shuffles twice.
    */
  def embeddingLabelMargin(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Embeddings.directional(spark, dir)
    val cents = vecs
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), expr("floor(x * 1000000)").as("xq"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("xq").cast("long").as("sq"))
      .withColumn("c",
        col("sq").cast("double") / (col("n") * 1000000L).cast("double"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c)))," +
        " s -> s.c)").as("cv"))
      .withColumn("cnrm", expr("sqrt(vec_dot(cv, cv))"))
      .select(col("label").as("clabel"), col("cv"), col("cnrm"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("ccos",
        expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("clabel") === col("label"), col("ccos"))).as("own"),
        max(when(col("clabel") =!= col("label"), col("ccos"))).as("other"))
      .withColumn("mq",
        expr("CAST(floor((own - other) * 1000000000.0D) AS BIGINT)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum("mq").cast("long").as("sum_mq"),
        sum(when(col("mq") < 0L, 1L).otherwise(0L)).cast("long")
          .as("n_negative"))
      .select(col("label"), col("n_vecs"),
        // floor-mean via a nonnegative shift: Spark's `div` truncates
        // toward zero while DuckDB's // floors, so a possibly-negative
        // numerator must be shifted into the nonnegative range (where
        // the two agree) before dividing
        expr("(sum_mq + 2000000000 * n_vecs) div n_vecs - 2000000000")
          .as("mean_margin_q"),
        col("n_negative"),
        expr("(10000 * n_negative) div n_vecs").as("neg_bp"))
  }

  /** Normalized 8-dim subspace slices (vec_id, s, sv) — the shared input
    * of the PQ codebook fit and the PQ encode/search path.
    */
  private[llm] def subSlices(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("vn"))
      .select(col("vec_id"), posexplode(expr(
        "transform(sequence(0, 7), s -> slice(vn, s * 8 + 1, 8))"))
        .as(Seq("s", "sv")))

  /** Per-subspace squared distance, quantized to a long (floor(d2 * 1e9))
    * by an ordered fold — exact integer arithmetic downstream, so both the
    * codebook fit and the ADC ranking are engine-identical.
    */
  private[llm] val pqD2q =
    """CAST(floor(aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),
      |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) * 1000000000.0D) AS BIGINT)""".stripMargin

  private val PqQ = 1000000L

  /** The encoded index itself: per-vector PQ code assignment
    * `(vec_id, s, code)` against the fitted [[pqCodebook]], fingerprint-
    * cached per (session, data) with the knn-edge discipline. [[annPq]]
    * and [[ivfpqCand]] (and through it ann_ivfpq, ann_refine, and every
    * PQ recall gate) consume this one frame instead of each re-encoding
    * the corpus — encoding is the only data-sized pass in the family, so
    * per-consumer rebuilds were the family's whole steady-state cost.
    * localCheckpoint'ed: 8 (long, int, int) rows per vector, the 64x-
    * smaller stand-in for the vectors that PQ exists to provide, so the
    * cached footprint is a fraction of the input at any corpus size.
    */
  private[llm] def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.pqCodes")(
      subSlices(spark, dir)
        .join(broadcast(pqCodebook(spark, dir)), "s")
        .withColumn("d2q", expr(pqD2q))
        .groupBy("vec_id", "s")
        .agg(expr("min_by(cid, struct(d2q, cid))").as("code"))
        .localCheckpoint())

  /** PQ code-usage balance per subspace — the codebook-health audit read
    * next to [[pqDistortion]]: distortion prices how FAR vectors sit
    * from their codes, this says whether the 16 sub-centroids are all
    * pulling weight (a subspace assigning most vectors to 2-3 codes has
    * collapsed — its effective bits are gone and ADC contrast with it).
    * Per subspace: distinct codes used, the encoded population, and the
    * min/max code load. Rides the cached code frame: one (s, code)
    * rollup to <= 128 rows, then an 8-row rollup; vectors never touched.
    */
  def pqCodeBalance(spark: SparkSession, dir: String): DataFrame =
    pqCodes(spark, dir)
      .groupBy("s", "code").agg(count(lit(1)).as("n"))
      .groupBy("s").agg(
        count(lit(1)).as("n_codes_used"),
        sum("n").cast("long").as("n_vecs"),
        min("n").cast("long").as("min_load"),
        max("n").cast("long").as("max_load"))

  /** Pairwise cosine between the fitted IVF coarse centroids — the
    * quantizer-geometry audit behind every nprobe choice: two centroids
    * at cosine ~1 split one semantic region across cells (recall leaks
    * unless nprobe covers both), while well-separated centroids make
    * nprobe=1 safe. 28 rows off the 8-row fitted frame; the non-equi
    * self-join broadcasts (never a data-sized exchange), and the dot is
    * the shared ordered fold so the doubles are engine-identical.
    */
  def ivfCentroidMargin(spark: SparkSession, dir: String): DataFrame = {
    val c = Clustering.fittedCentroids(spark, dir)
      .select("cid", "cv", "cnrm")
    graft.functions.VecDot.register(spark)
    broadcast(c.as("a"))
      .join(c.as("b"), col("a.cid") < col("b.cid"))
      .select(col("a.cid").as("c1"), col("b.cid").as("c2"),
        (expr("vec_dot(a.cv, b.cv)") /
          (col("a.cnrm") * col("b.cnrm"))).as("cos"))
  }

  /** A query-side ADC distance table `(q_id, s, cid, d2q)` for the PQ
    * query range — 8 queries x 8 subspaces x 16 centroids, always
    * broadcast by its consumers; the corpus never joins into it.
    */
  private def pqQueryTable(spark: SparkSession, dir: String): DataFrame =
    subSlices(spark, dir)
      .filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .join(broadcast(pqCodebook(spark, dir)), "s")
      .withColumn("d2q", expr(pqD2q))
      .select(col("vec_id").as("q_id"), col("s"), col("cid"), col("d2q"))

  /** PQ sub-codebooks fitted per subspace with the kmeans_fit discipline
    * (Lloyd to fixpoint under the same MaxRounds budget, quantized means,
    * localCheckpoint lineage, collect-free set-difference convergence
    * probe): 16 sub-centroids per subspace, seeded from the 16 lowest-id
    * vectors' slices and refined on the slice population — trained
    * codebooks instead of arbitrary seed slices, the same fix kmeans_fit
    * brought to the IVF coarse quantizer. All 8 subspaces fit in ONE
    * iterated (s, cid)-keyed frame (8 x 16 = 128 rows), so the loop costs
    * the same number of passes as a single k-means. Returns (s, cid, cv).
    */
  private[llm] def pqCodebook(spark: SparkSession, dir: String): DataFrame = {
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.pq") {
      val subs = subSlices(spark, dir)
      var cents = subs.filter(col("vec_id") < 16)
        .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
        .localCheckpoint()
      var round = 0
      var converged = false
      while (round < Clustering.MaxRounds && !converged) {
        val assigned = subs.join(broadcast(cents), "s")
          .withColumn("d2q", expr(pqD2q))
          .groupBy("vec_id", "s")
          .agg(expr("min_by(cid, struct(d2q, cid))").as("cid"))
        val next = assigned.join(subs, Seq("vec_id", "s"))
          .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
          .select(col("s"), col("cid"), col("dim"),
            expr(s"floor(x * $PqQ)").as("xq"))
          .groupBy("s", "cid", "dim")
          .agg(count(lit(1)).as("n"), sum("xq").cast("long").as("sq"))
          .withColumn("c",
            col("sq").cast("double") / (col("n") * PqQ).cast("double"))
          .groupBy("s", "cid")
          .agg(expr("transform(array_sort(collect_list(struct(dim, c))), t -> t.c)")
            .as("cv"))
          .select("s", "cid", "cv")
          .localCheckpoint()
        converged =
          next.exceptAll(cents).isEmpty && cents.exceptAll(next).isEmpty
        cents = next
        round += 1
      }
      cents
    }
  }

  /** Product-quantization ANN — the codebook compression real vector
    * stores run at 100 TB: normalized vectors split into 8 subspaces of 8
    * dims; each subspace quantizes to its nearest of 16 TRAINED
    * sub-centroids ([[pqCodebook]] — per-subspace Lloyd to fixpoint), so a
    * 512-byte vector becomes 8 code bytes. A query precomputes its 8 x 16
    * distance table (broadcast), and candidate distance is a pure
    * table-lookup sum over the codes — the scan touches codes, never raw
    * vectors.
    *
    * Parity: each per-subspace squared distance is an ordered fold
    * quantized to a long (floor(d2 * 1e9)); the cross-subspace sum is
    * then exact integer arithmetic, so ranking is engine-identical (the
    * same discipline as [[annSq8]]'s integer dots). Top-3 per query by
    * ADC distance.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val codes = pqCodes(spark, dir)
    val dtable = pqQueryTable(spark, dir)
    val cand = codes
      .join(broadcast(dtable),
        codes("s") === dtable("s") && col("code") === col("cid") &&
          codes("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), codes("vec_id").as("n_id"))
      .agg(sum("d2q").cast("long").as("distq"))
    val w = Window.partitionBy("q_id").orderBy(col("distq"), col("n_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"),
        (col("distq").cast("double") / lit(1000000000.0d)).as("dist"),
        col("rank"))
  }

  /** IVF + PQ composition — the canonical capacity-scale vector-index
    * layout (FAISS-style IVFADC): candidate generation from the query's
    * IVF cell (the k-means-fitted coarse quantizer, [[ivfCells]]) and
    * ranking from the trained PQ codes ([[pqCodebook]]) via broadcast ADC
    * table lookups. At 100 TB the scan touches ONE cell's code bytes —
    * ~1/16 of an index already 64x smaller than the vectors; neither the
    * raw vectors nor other cells are read. Top-3 per query by ADC
    * distance within the probed cell.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("distq"), col("n_id"))
    ivfpqCand(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"),
        (col("distq").cast("double") / lit(1000000000.0d)).as("dist"),
        col("rank"))
  }

  /** The IVF + PQ candidate frame `(q_id, n_id, distq)` — every pair in
    * the query's coarse cell priced by broadcast ADC lookups.
    * [[annIvfPq]] ranks it directly; [[annRefine]] widens and re-ranks it.
    */
  private def ivfpqCand(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfAssign(spark, dir)
    val codes = pqCodes(spark, dir).join(cells, "vec_id")
    val dtable = pqQueryTable(spark, dir)
      .select(col("q_id"), col("s").as("qs"), col("cid"), col("d2q"))
    val qcells = cells.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("q_id"), col("cell").as("qcell"))
    codes
      .join(broadcast(dtable.join(qcells, "q_id")),
        col("s") === col("qs") && col("code") === col("cid") &&
          col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum("d2q").cast("long").as("distq"))
  }

  /** ADC re-ranking width: [[annRefine]] keeps the top RefineR candidates
    * by code distance before paying the exact-vector fetch.
    */
  private[graft] val RefineR = 10L

  /** IVFADC + refine (the FAISS `IVFPQR` / production two-stage pattern):
    * the PQ code scan is a cheap, slightly wrong ranker, so keep its top
    * [[RefineR]] candidates per query and re-rank ONLY those by exact
    * cosine over the raw vectors. At 100 TB the exact stage fetches
    * R << n vectors by id (a broadcast semi-join into one vector scan) —
    * the code index still does all the winnowing, and the refine step
    * repairs code-quantization ordering loss essentially for free.
    * Top-3 per query by exact cosine within the widened candidate set.
    */
  def annRefine(spark: SparkSession, dir: String): DataFrame = {
    val wAdc = Window.partitionBy("q_id").orderBy(col("distq"), col("n_id"))
    val wide = ivfpqCand(spark, dir)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= RefineR)
      .select("q_id", "n_id")
    val vecs = vectors(spark, dir)
    val q = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 108)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val pairs = broadcast(wide.join(broadcast(q), "q_id"))
      .join(vecs.as("c"), col("n_id") === col("c.vec_id"))
      .withColumn("cos", expr("vec_dot(qv, c.v) / (qnrm * c.nrm)"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Recall of an approximate result (columns q_id, a_id) against an
    * exact result set (columns q_id, n_id) — THE recall evaluator, one
    * definition behind every `*_recall` gate.
    */
  private def recallVs(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx,
        exact("q_id") === approx("q_id") && exact("n_id") === approx("a_id"),
        "left")
      .groupBy(exact("q_id").as("q_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(when(col("a_id").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      .withColumn("recall", col("n_matched") / col("n_exact"))

  /** Exact top-3 for the vec_id 100-108 query set (the PQ-family query
    * range; the <8 range's exact top-3 comes from [[annBruteforce]]).
    */
  private def exact3HighRange(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.exact3")(
      buildExact3HighRange(spark, dir).localCheckpoint())

  /** The exact-cosine ground truth is one brute-force pass over the
    * corpus per query set; three recall gates (pq, ivfpq, refine)
    * consume the identical 24-row result, so it is fingerprint-cached
    * (the checkpointed frame IS 24 rows — the cache holds the answer,
    * not an index).
    */
  private def buildExact3HighRange(
      spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val q = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 108)
    val pairs = broadcast(q.as("q"))
      .join(vecs.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("q_id", "n_id")
  }

  private def recall3For(spark: SparkSession, dir: String,
      approx: DataFrame): DataFrame =
    recallVs(exact3HighRange(spark, dir), approx)

  /** PQ-loss evaluation: recall@3 of the product-quantized index against
    * the exact top-3 — with [[annRecall]] (LSH) and [[sq8Recall]] (int8)
    * this completes the recall gate for every approximate path, the
    * three operating points a capacity plan chooses between.
    * NOTE: ann_pq queries vec_id 100-108 while exact top-3 uses the same
    * query ids, so the comparison restricts brute force to those ids.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    recall3For(spark, dir,
      annPq(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** PQ quantization-distortion audit: per subspace, the exact quantized
    * squared error between each vector slice and its assigned codeword —
    * the complement of [[pqRecall]]: recall says the RANKING survived,
    * distortion says how much geometry the 4-bit codes threw away and
    * WHERE (a subspace with 3x the others' distortion wants more
    * centroids or a rotation before anyone trusts its codes at 100 TB).
    * Distortions are the same fold-quantized integers the fit ranks by,
    * so both engines agree exactly.
    *
    * Scale: one encode-shaped pass (slices x broadcast codebook) rolled
    * up to 8 rows. Deliberately NOT riding the [[pqCodes]] cache: the
    * cached code frame drops d2q — its consumers scan 8 code bytes per
    * vector, which is the point of PQ — and widening it for a one-off
    * audit would tax every search; the audit re-derives in the same
    * single data-sized pass the encode itself costs.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame =
    subSlices(spark, dir)
      .join(broadcast(pqCodebook(spark, dir)), "s")
      .withColumn("d2q", expr(pqD2q))
      .groupBy("vec_id", "s").agg(min("d2q").as("d2q"))
      .groupBy("s")
      .agg(count(lit(1)).as("n_vecs"),
        sum("d2q").cast("long").as("sum_d2q"),
        max("d2q").as("max_d2q"))
      .withColumn("mean_d2q", expr("sum_d2q div n_vecs"))

  /** The recall gate for the composed IVF + PQ path: both losses stack
    * (coarse cell miss + code quantization), so this is the number that
    * prices the full capacity-scale layout against the exact scan.
    */
  def ivfpqRecall(spark: SparkSession, dir: String): DataFrame =
    recall3For(spark, dir,
      annIvfPq(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** Recall@3 of the refined path ([[annRefine]]) vs the exact top-3.
    * Provably >= ivfpq_recall per query: the refine candidate set is a
    * superset of the ADC top-3, and any global-top-3 member inside it
    * outranks every other candidate under exact cosine — so re-ranking
    * can only keep or recover matches, never lose one. What remains
    * unrepaired is coarse-cell loss (the true neighbor lives in an
    * unprobed cell), which prices the nprobe knob, not the code width.
    */
  def refineRecall(spark: SparkSession, dir: String): DataFrame =
    recall3For(spark, dir,
      annRefine(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** The IVF operating curve: recall@3 at nprobe = 1 and 2, rolled up
    * across the query set — the two measured points a capacity plan
    * interpolates between when pricing probe fan-out against recall
    * (candidate cost scales with probed-cell population; recall is
    * monotone in nprobe because probed sets nest and the final ranking
    * is true cosine — OperatorSpec pins the monotonicity). Counts are
    * exact integers; recall is one long/long division.
    */
  def ivfRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    def at(nprobe: Long, approx: DataFrame): DataFrame =
      recall3For(spark, dir, approx.select(col("q_id"), col("n_id").as("a_id")))
        .withColumn("nprobe", lit(nprobe))
    at(1L, annIvf(spark, dir)).unionByName(at(2L, annIvfNprobe2(spark, dir)))
      .groupBy("nprobe")
      .agg(
        sum("n_exact").cast("long").as("n_exact"),
        sum("n_matched").cast("long").as("n_matched"))
      .withColumn("recall", col("n_matched") / col("n_exact"))
  }

  /** Quantization-loss evaluation: recall@3 of the int8 index against the
    * exact full-precision top-3 — the number that decides whether the 4x
    * cheaper scan is usable. Counts are exact integers; recall is an
    * int/int division (same discipline as [[annRecall]]).
    */
  def sq8Recall(spark: SparkSession, dir: String): DataFrame =
    recallVs(
      annBruteforce(spark, dir).filter(col("rank") <= 3).select("q_id", "n_id"),
      annSq8(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** ANN quality evaluation: recall of the LSH index against the exact
    * top-3 (brute-force restricted to each query's true 3 nearest) — the
    * metric that decides whether the approximate path is usable at scale.
    * Counts are exact integers; recall is an int/int division.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallVs(
      annBruteforce(spark, dir).filter(col("rank") <= 3).select("q_id", "n_id"),
      annLsh(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  /** Blocked k-NN graph over the WHOLE corpus (k = 3) — the all-vectors
    * neighbor graph that SemDeDup-style pruning, graph clustering, and
    * NN-descent seeding consume. Candidate generation reuses the IVF cell
    * assignment plus the [[PairSubCap]] sub-bucketing, so pair work is
    * O(n * PairSubCap): the only shuffle is on the (cell, sub) key, no
    * block ever goes quadratic, and ranking is one per-vector window over
    * the bounded candidate lists. Edges carry the exact cosine so
    * downstream consumers threshold without re-scoring.
    *
    * The edge frame is computed once per (session, data fingerprint) and
    * localCheckpoint'ed — [[knnDegree]] and [[knnClusters]] consume the
    * same frame, so candidate generation is paid once, not per query
    * (the media_phash / Embeddings / k-means fit discipline).
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.knn")(
      buildKnnGraph(spark, dir).localCheckpoint())

  /** The uncached candidate-generation chain — private[graft] so
    * PlanShapeSpec pins the (cell, sub) join shape of the BUILD (the
    * cached frame's plan is just a checkpoint scan and would pin
    * nothing).
    */
  private[graft] def buildKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfCells(spark, dir)
    val nsub = cells.groupBy("cell")
      .agg(expr(s"(count(1) + ${PairSubCap - 1}) div $PairSubCap").as("nsub"))
    val sub = cells.join(broadcast(nsub), "cell")
      .withColumn("sub", pmod(col("vec_id"), col("nsub")))
    val pairs = sub.as("q").join(sub.as("c"),
        col("q.cell") === col("c.cell") && col("q.sub") === col("c.sub") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** In-degree histogram of [[knnGraph]] — hub detection: a vector that
    * appears in many other vectors' top-k lists (an in-degree hub) warps
    * graph clustering and marks a region the coarse quantizer under-split.
    * Vectors referenced by nobody simply do not appear (in-degree 0). Two
    * metadata-sized aggregations on top of the bounded graph build.
    */
  def knnDegree(spark: SparkSession, dir: String): DataFrame =
    knnGraph(spark, dir)
      .groupBy(col("n_id")).agg(count(lit(1)).as("in_deg"))
      .groupBy("in_deg").agg(count(lit(1)).as("n_vecs"))

  /** Neighborhood-coherence audit over the cached k-NN edges: per rank,
    * how many directed edges are reciprocated ((a,b) with (b,a) also
    * present). Mutual-kNN share is the standard graph-quality metric —
    * a low share says the capped candidate generation produces one-way
    * "hub" edges (points everyone lists that list nobody back), exactly
    * the degeneracy Jarvis-Patrick (snn_graph) assumes away; read the
    * rank-1 row before trusting any knn-derived clustering. One
    * self-equi-join on the bounded (<= 3n-row) edge frame, rolled up to
    * k rows.
    */
  def knnMutuality(spark: SparkSession, dir: String): DataFrame = {
    val e = knnGraph(spark, dir).select("q_id", "n_id", "rank")
    val rev = e.select(col("n_id").as("q_id"), col("q_id").as("n_id"),
      lit(1L).as("mut"))
    e.join(rev, Seq("q_id", "n_id"), "left")
      .groupBy("rank")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("mut"), lit(0L))).cast("long").as("n_mutual"))
      .withColumn("mutual_bp", expr("(10000 * n_mutual) div n_edges"))
  }

  /** Per-rank label agreement of the k-NN edges — the zero-training
    * classification-quality readout of an embedding space (the kNN-probe
    * standard): if rank-1 neighbors rarely share the query's label, no
    * amount of index tuning will make retrieval semantically useful;
    * read next to [[cellPurity]] (cell-level) and
    * [[Similarity.embeddingLabelMargin]] (centroid-level). Two co-keyed
    * joins of the cached <= 3n edge frame against the (vec_id, label)
    * projection, rolled to k rows.
    */
  def knnLabelAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lbl = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    knnGraph(spark, dir)
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("l1")),
        "q_id")
      .join(lbl.select(col("vec_id").as("n_id"), col("label").as("l2")),
        "n_id")
      .groupBy("rank")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).cast("long")
          .as("n_same"))
      .withColumn("agree_bp", expr("(10000 * n_same) div n_edges"))
  }

  /** Per-vector triangle count and local clustering coefficient over the
    * undirected k-NN edges — the transitivity audit next to
    * [[knnMutuality]]'s reciprocity: a neighborhood whose neighbors are
    * ALSO neighbors of each other (high clustering) is a real semantic
    * pocket; triangle-free stars are hub artifacts of the capped
    * candidate generation. Exact integer math: for each edge (a, b) the
    * merge-walk common-neighbor count c(a,b); Σ over v's incident edges
    * of c = 2·tri(v), so n_tri = s div 2 and clust_bp =
    * 10000·s div (deg·(deg−1)) (0 when deg < 2) with no doubles anywhere.
    *
    * Scale: rides the cached edge frame — undirected degree is bounded
    * by twice the rank cap, so adjacency lists are <= 6 longs, the
    * per-edge merge walk O(1), and every join is on the <= 3n-row edge
    * frame; vector data is never touched.
    */
  def knnTriangles(spark: SparkSession, dir: String): DataFrame = {
    val und = knnGraph(spark, dir)
      .select(least(col("q_id"), col("n_id")).as("a"),
        greatest(col("q_id"), col("n_id")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("w"))
      .union(und.select(col("b").as("v"), col("a").as("w")))
      .groupBy("v").agg(sort_array(collect_set(col("w"))).as("nbrs"))
    val ec = und
      .join(adj.select(col("v").as("a"), col("nbrs").as("na")), "a")
      .join(adj.select(col("v").as("b"), col("nbrs").as("nb")), "b")
      .withColumn("nc", expr("intersect_sorted(na, nb)"))
      .select(col("a"), col("b"), col("nc"))
    val perNode = ec.select(col("a").as("v"), col("nc"))
      .union(ec.select(col("b").as("v"), col("nc")))
      .groupBy("v").agg(sum("nc").cast("long").as("s"))
    adj.select(col("v").as("vec_id"),
        size(col("nbrs")).cast("long").as("deg"))
      .join(perNode.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .select(col("vec_id"), col("deg"),
        expr("s div 2").as("n_tri"),
        expr("""CASE WHEN deg >= 2
               |  THEN (10000 * s) div (deg * (deg - 1))
               |  ELSE 0 END""".stripMargin).as("clust_bp"))
  }

  /** Semantic clusters from the k-NN graph: connected components over
    * edges at/above the semdedup cosine threshold (0.25) — the cluster
    * labeling a SemDeDup-style pipeline uses to keep one exemplar per
    * semantic group. Reuses [[Dedup.components]] (min-label propagation
    * + pointer jumping, O(log diameter) shuffle rounds); the edge set is
    * already bounded by the knn_graph block cap, so the loop's per-round
    * join touches at most 3n edges regardless of corpus size.
    */
  def knnClusters(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.knnClusters")(
      Dedup.components(
        knnGraph(spark, dir).filter(col("cos") >= 0.25)
          .select(least(col("q_id"), col("n_id")).as("d1"),
            greatest(col("q_id"), col("n_id")).as("d2"))
          .distinct())
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .localCheckpoint())

  /** Embedding-column data-quality gate: per label the vector count,
    * dimension, and nearest-rank norm quartiles — the first check before
    * trusting ANY similarity path (a label with collapsed or exploded
    * norms marks a broken encoder batch; cosine hides it, this surfaces
    * it). Quartiles are nearest-rank PICKS of engine-identical doubles
    * (the vec_dot fold + exactly-rounded sqrt), not interpolations.
    *
    * Scale: one pass over the cached norm frame. Labels are FEW but
    * their populations are data-sized, so a per-label rank over raw
    * vectors would funnel each label through one window task; the rank
    * is instead decomposed as value-bucket + prefix (the
    * customer_spend_deciles shape): floor(nrm * 64) buckets — a
    * monotone function of the sort key, so (bucket, nrm, vec_id) order
    * IS (nrm, vec_id) order — with broadcast per-(label, bucket)
    * offsets and a bounded in-bucket row_number.
    */
  def embeddingNormStats(spark: SparkSession, dir: String): DataFrame = {
    // Deliberately the UNfiltered frame: this operator IS the broken-
    // encoder detector, so the zero-norm rows every cosine path excludes
    // (Embeddings.directional) must stay visible here.
    val v = Embeddings.withNorm(spark, dir)
      .withColumn("bkt", expr("CAST(floor(nrm * 64) AS BIGINT)"))
    val offs = v.groupBy("label", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum("cnt").over(Window.partitionBy("label").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("label")))
      .select("label", "bkt", "off", "n")
    def pick(p: Double) =
      max(when(col("rn") === expr(s"CAST(ceil(n * $p) AS BIGINT)"),
        col("nrm")))
    v.join(broadcast(offs), Seq("label", "bkt"))
      .withColumn("rn",
        col("off") + row_number().over(
          Window.partitionBy("label", "bkt").orderBy("nrm", "vec_id"))
          .cast("long"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        max(size(col("v"))).cast("long").as("dim"),
        min("nrm").as("min_nrm"),
        pick(0.25).as("q1"), pick(0.5).as("median"), pick(0.75).as("q3"),
        max("nrm").as("max_nrm"))
  }

  /** Per-dimension value-range calibration — the audit run before fitting
    * any per-dimension quantizer (asymmetric SQ8, clipping, dim dropout):
    * for each of the 64 dimensions, the value count, the min/max bucket
    * on a fixed 1/1000 grid, the grid-exact p01/p99 bucket (smallest
    * bucket whose cumulative count reaches ceil(0.01·n) / ceil(0.99·n))
    * and the mass strictly outside [p01, p99] in basis points — a fat
    * clip tail on one dimension is the hot-dim pathology per-vector
    * max-|x| scaling ([[annSq8]]) hides. Reads the UNfiltered frame (a
    * detector, like [[embeddingNormStats]]).
    *
    * Scale: ONE scan partial-aggregates to the (dim, bucket) count frame
    * (<= 64 · |grid| rows at any corpus size); the cumulative window,
    * rank picks, and clip rollup all run there, and every join key is
    * the 64-row dim frame (broadcast).
    */
  /** The uncached (dim, bucket) count build — one partial-aggregated
    * scan; split out so PlanShapeSpec pins the BUILD shape (the thing
    * that runs at scale) while [[embeddingDimStats]] checkpoints it.
    */
  private[graft] def buildDimBucketCounts(
      spark: SparkSession, dir: String): DataFrame =
    graft.Tables.t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("q",
        expr("CAST(floor(CAST(x AS DOUBLE) * 1000.0D) AS BIGINT)"))
      .groupBy("d", "q").agg(count(lit(1)).as("k"))

  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame = {
    // The (dim, bucket) count frame is <= 64 x |grid| rows at ANY corpus
    // size; checkpoint it so the five consumers below (cum x2, tot, clip,
    // final) share ONE corpus scan — lazily the posexplode subtree was
    // re-planned per consumer (20 parquet scans in one plan).
    val cnt = buildDimBucketCounts(spark, dir).localCheckpoint()
    val cum = cnt.withColumn("cum",
      sum("k").over(Window.partitionBy("d").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    val tot = cnt.groupBy("d").agg(
      sum("k").cast("long").as("n"),
      min("q").as("mn_q"), max("q").as("mx_q"))
      .withColumn("r1", expr("(n + 99) div 100"))
      .withColumn("r99", expr("(99 * n + 99) div 100"))
    val p01 = cum.join(broadcast(tot.select("d", "r1")), "d")
      .filter(col("cum") >= col("r1"))
      .groupBy("d").agg(min("q").as("p01_q"))
    val p99 = cum.join(broadcast(tot.select("d", "r99")), "d")
      .filter(col("cum") >= col("r99"))
      .groupBy("d").agg(min("q").as("p99_q"))
    val clip = cnt
      .join(broadcast(p01), "d").join(broadcast(p99), "d")
      .groupBy("d").agg(
        sum(when(col("q") < col("p01_q"), col("k"))
          .when(col("q") > col("p99_q"), col("k"))
          .otherwise(lit(0L))).cast("long").as("n_clip"))
    tot.select("d", "n", "mn_q", "mx_q")
      .join(broadcast(p01), "d").join(broadcast(p99), "d")
      .join(broadcast(clip), "d")
      .withColumn("clip_bp", expr("(10000 * n_clip) div n"))
  }

  /** Cluster-size histogram over [[knnClusters]] — the degeneracy check a
    * SemDeDup-style pipeline reads before trusting exemplar pruning: a
    * single giant component means the cosine threshold (or the coarse
    * quantizer) collapsed the space and pruning would gut the corpus,
    * while all-pairs/singleton-free tiny clusters are the healthy shape.
    * Two metadata-sized rollups on the cached label frame.
    */
  def knnClusterProfile(spark: SparkSession, dir: String): DataFrame =
    knnClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))

  /** Expected per-cell sample size for [[clusterSample]] — the balance
    * target, not a hard cap (the hash coin draws binomially around it).
    */
  private[graft] val SampleTarget = 64L

  /** Cluster-balanced sampling over the embedding space — the
    * density-equalizing subset a curation pipeline draws for eval sets
    * and codebook training: each IVF cell is sampled at rate
    * SampleTarget / n_cell by the engine-wide md5 coin, so dense cells
    * thin toward ~SampleTarget vectors, sparse cells (n_cell <=
    * SampleTarget) keep everything, and both engines draw the identical
    * sample (integer cross-multiplication, no doubles, no rounding).
    * Output: kept vectors with their cell, its population, and the coin.
    *
    * Scale: assignment is the shared broadcast nearestCentroid pass,
    * cell sizes are a FitK-row broadcast, and the keep decision is an
    * in-row integer compare — one scan, no window, no per-cell sort
    * (a rank-based "top-SampleTarget per cell" would collapse
    * parallelism to FitK single-task sorts at 100 TB; the coin keeps
    * the scan embarrassingly parallel). Expected output ~FitK *
    * SampleTarget rows regardless of corpus size.
    */
  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val cells = ivfAssign(spark, dir)
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    cells.join(broadcast(sizes), "cell")
      .withColumn("coin", pmod(
        md5Long(concat(lit("cs#"), col("vec_id").cast("string"))),
        lit(1000000L)))
      .filter(col("coin") * col("n_cell") < lit(SampleTarget * 1000000L))
      .select("vec_id", "cell", "n_cell", "coin")
  }

  /** Johnson–Lindenstrauss sign-sketch of the embedding column: each
    * vector quantized to integers (floor(x·1024)) and projected onto 4
    * md5-derived ±1 axes — the cheap 4-number summary a 100 TB pipeline
    * ships instead of the 64-float vector when all a downstream stage
    * needs is coarse locality (distribution-drift monitors, candidate
    * pre-bucketing, sanity dashboards). Signs come from the same md5
    * namespace discipline as [[annLsh]]'s hyperplanes so both engines
    * build the identical matrix, and the quantize-then-integer-fold makes
    * every projection an exact BIGINT — no float fold-order drift.
    *
    * Scale: the 4×64 sign matrix is one broadcast row set; projection is
    * an in-row zip/fold per (vector, axis), so the whole op is a single
    * scan with a 4× generator and NO shuffle at all.
    */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val q = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0D) AS BIGINT))")
        .as("q"))
    val axes = spark.range(0, 4, 1, 1).select(col("id").as("a"), expr(
      """transform(sequence(0, 63), d ->
        |  CASE WHEN CAST(conv(substring(md5(concat('rp_', cast(a as string), '_', cast(d as string))), 1, 14), 16, 10) AS BIGINT) % 2 = 0
        |       THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)"""
        .stripMargin).as("s"))
    q.crossJoin(broadcast(axes))
      .select(col("vec_id"), col("label"), col("a").cast("long").as("axis"),
        expr("aggregate(zip_with(q, s, (x, sg) -> x * sg), 0L, (acc, x) -> acc + x)")
          .as("proj"))
  }

  /** PageRank fixed-point scale: ranks live in millionths (1.0 ==
    * 1,000,000), damping 0.85 applied as integer (85·x) div 100.
    */
  private val PrScale = 1000000L
  private val PrBase = 150000L

  /** Two power-iteration rounds of PageRank over the [[knnGraph]] edges —
    * semantic-hub centrality for curation: a doc whose vector sits in many
    * neighbours' top-k lists anchors an over-represented region (cut it
    * harder when pruning) while rank ~ the dangling floor marks isolated,
    * novel content. Integer-exact across engines: ranks are BIGINTs in
    * millionths, every division is truncating integer division on
    * positive operands (identical in Spark `div` and DuckDB `//`), and
    * contribution sums are order-independent integer adds. Dangling mass
    * (vectors with no out-edges) is deliberately dropped, identically in
    * both engines — this is a relative centrality screen, not a
    * normalized distribution.
    *
    * Scale: the edge frame is the cached, cap-bounded knn graph (≤ 3
    * edges per vector), so each round is one join keyed by q_id plus one
    * map-side-combined rollup keyed by n_id — 2 rounds are unrolled
    * because rank ORDER stabilizes in O(1) rounds on a degree-capped
    * graph; full convergence would buy precision the screen never reads.
    */
  def knnPagerank(spark: SparkSession, dir: String): DataFrame = {
    val ed = knnGraph(spark, dir).select("q_id", "n_id")
    val edges = ed.join(
      ed.groupBy("q_id").agg(count(lit(1)).as("deg")), "q_id")
    val nodes = t(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    // damped rank from the summed contribution column `c` (null = no
    // in-edges -> the dangling floor PrBase)
    val damp = expr(
      s"CAST($PrBase + (85 * coalesce(c, CAST(0 AS BIGINT))) div 100 AS BIGINT)")
    val c1 = edges
      .select(col("n_id").as("vec_id"), expr(s"$PrScale div deg").as("c"))
      .groupBy("vec_id").agg(sum("c").cast("long").as("c"))
    val p1 = nodes.join(c1, Seq("vec_id"), "left")
      .select(col("vec_id").as("q_id"), damp.as("pr"))
    val c2 = edges.join(p1, "q_id")
      .select(col("n_id").as("vec_id"), expr("pr div deg").as("c"))
      .groupBy("vec_id").agg(sum("c").cast("long").as("c"))
    nodes.join(c2, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), damp.as("pr"))
  }

  /** Mislabel/outlier detection on the embedding column: each vector's
    * squared distance to its LABEL's centroid, flagged where it exceeds
    * 2x the label mean — the "this doc is filed under the wrong topic /
    * the encoder glitched" screen a curation pass runs before trusting
    * labels for stratified sampling. Integer-exact end to end: vectors
    * quantize to BIGINT (floor(x·1024)), the centroid is a truncating
    * integer mean per dimension (Spark `div` and DuckDB `//` both
    * truncate toward zero, verified on negatives), distances are integer
    * sums of squares, and the outlier flag is an integer
    * cross-multiplication (dist·n > 2·Σdist) — no doubles anywhere.
    *
    * Scale: ONE uniform shuffle of (label, dim, x) rows builds the
    * centroid table (labels × 64 rows), which broadcasts back as
    * per-label arrays; the distance is then an in-row zip/fold and the
    * label stats another broadcast — the big side is scanned twice but
    * never re-shuffled.
    */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val q = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0D) AS BIGINT))")
        .as("q"))
    val cent = q
      .select(col("label"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(sum("x").cast("long").as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("d"), expr("sx div n").as("c"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(d, c))), s -> s.c)")
        .as("cv"))
    val dist = q.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"), expr(
        "aggregate(zip_with(q, cv, (x, c) -> (x - c) * (x - c)), 0L, (a, e) -> a + e)")
        .as("dist_sq"))
    val stats = dist.groupBy("label")
      .agg(sum("dist_sq").cast("long").as("sum_d"), count(lit(1)).as("n"))
    dist.join(broadcast(stats), "label")
      .select(col("vec_id"), col("label"), col("dist_sq"),
        when(col("dist_sq") * col("n") > lit(2L) * col("sum_d"), 1L)
          .otherwise(0L).as("outlier"))
  }

  /** Shared-nearest-neighbor strength for every undirected knn edge —
    * the Jarvis–Patrick similarity refinement: raw cosine proximity is
    * promoted to a CONSENSUS measure (how many of each endpoint's top-k
    * out-neighbors agree the two belong together). Density-aware
    * clustering wants exactly this — a hub that is "close" to
    * everything but shares neighbors with nothing scores 0, while a
    * pair deep inside one dense semantic pocket scores high even when
    * its raw cosine is middling. Output per edge (a < b): the
    * merge-walk shared count over the two sorted top-3 out-neighbor
    * lists (which may include the partner itself — the raw JP lists,
    * not punctured ones) and snn_sim = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|,
    * a division of two small exact integers.
    *
    * Totality: every endpoint of a knn edge shares a (cell, sub)
    * bucket with at least one other vector, so it has >= 1 out-edge
    * and an adjacency row — the inner joins lose no edge.
    *
    * Scale: rides the cached knn edge frame (<= 3 out-edges per
    * vector), so the adjacency rollup and both joins are bounded by
    * the edge cap; neighbor lists are <= 3 longs, the merge walk is
    * O(1) per row, and no vector data is touched at all.
    */
  def snnGraph(spark: SparkSession, dir: String): DataFrame = {
    val adj = knnGraph(spark, dir).groupBy("q_id")
      .agg(sort_array(collect_set(col("n_id"))).as("nbrs"))
    knnGraph(spark, dir)
      .select(least(col("q_id"), col("n_id")).as("a"),
        greatest(col("q_id"), col("n_id")).as("b"))
      .distinct()
      .join(adj.select(col("q_id").as("a"), col("nbrs").as("na")), "a")
      .join(adj.select(col("q_id").as("b"), col("nbrs").as("nb")), "b")
      .withColumn("n_shared", expr("intersect_sorted(na, nb)"))
      .select(col("a"), col("b"), col("n_shared"),
        (col("n_shared") /
          (size(col("na")).cast("long") + size(col("nb")).cast("long") -
            col("n_shared"))).as("snn_sim"))
  }

  /** Jarvis–Patrick clusters: connected components over the edges that
    * pass BOTH classic JP gates — mutuality (a sits in b's top-k AND b
    * in a's; a one-sided edge into a hub does not bind) and >= 1 shared
    * neighbor ([[snnGraph]]'s consensus). The gates make JP robust
    * exactly where raw-threshold components ([[knnClusters]]) over-merge:
    * chain-linking through hubs needs TWO vectors to each claim the hub
    * mutually, not just sit near it. Returns (vec_id, cluster_id =
    * component min); vectors with no qualifying edge do not appear.
    *
    * Scale: both gates are metadata-sized filters on the cached edge
    * frame (mutual = the (a, b) rollup seeing both directions, bounded
    * by the 3n edge cap); components is the shared min-label-propagation
    * loop, O(log diameter) bounded-size rounds. Converged labels are
    * fingerprint-cached like [[knnClusters]].
    */
  def snnClusters(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Similarity.snnClusters")(
      Dedup.components(
        knnGraph(spark, dir)
          .groupBy(least(col("q_id"), col("n_id")).as("d1"),
            greatest(col("q_id"), col("n_id")).as("d2"))
          .agg(count(lit(1)).as("ndir"))
          .filter(col("ndir") === 2L)
          .join(snnGraph(spark, dir).filter(col("n_shared") >= 1L)
            .select(col("a").as("d1"), col("b").as("d2")), Seq("d1", "d2"))
          .select("d1", "d2"))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .localCheckpoint())

  /** Deterministic 2-step random walks over the cached knn graph — the
    * skip-gram-style POSITIVE-pair generator for contrastive training
    * (the complement of [[hardNegatives]]' negatives): from every
    * vector with out-edges, one walk visits ctx = an out-neighbor
    * chosen by an md5 coin over the dense rank 1..deg (step 1), then a
    * neighbor of that neighbor by a second coin (step 2, which may
    * legitimately return to the anchor — standard for random-walk
    * objectives). Both coins hash only the ANCHOR (with the step tag),
    * so the walk is reproducible across engines and runs, and step-2
    * context depends on the anchor's own trajectory, not on where
    * other walks went.
    *
    * Scale: two rank-filtered passes over the cached ≤ 3n edge frame
    * joined by vector id — no new candidate generation, no windows
    * over data-sized partitions; emits ≤ 2 rows per vector.
    */
  def walkPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = knnGraph(spark, dir)
      .join(knnGraph(spark, dir).groupBy("q_id").agg(max("rank").as("deg")),
        "q_id")
    val s1 = e.filter(col("rank") ===
        graft.functions.Parity.md5Long(
          concat_ws("#", lit("walk1"), col("q_id"))) % col("deg") + 1L)
      .select(col("q_id").as("anchor"), col("n_id").as("ctx"))
    val s2 = s1.select(col("anchor"), col("ctx").as("mid"))
      .join(e.select(col("q_id").as("mid"), col("n_id"), col("rank"),
        col("deg")), "mid")
      .filter(col("rank") ===
        graft.functions.Parity.md5Long(
          concat_ws("#", lit("walk2"), col("anchor"))) % col("deg") + 1L)
      .select(col("anchor"), col("n_id").as("ctx"))
    s1.withColumn("step", lit(1L))
      .unionByName(s2.withColumn("step", lit(2L)))
  }

  /** Metadata-filtered similarity search — the vector-store feature a
    * RAG stack leans on hardest: top-3 neighbors per query vector
    * RESTRICTED to the query's own label partition (the tenant /
    * collection / language predicate pushed INTO the search, not
    * applied after). Filtering changes the ANSWER, not just the cost —
    * the nearest in-label neighbor is generally not the global nearest
    * — so this is its own operator, not a recall knob on
    * [[annBruteforce]]. Same broadcast-query single-scan shape; the
    * label equi-predicate rides the join, so the scan prunes
    * |label|/n of the corpus per query at any scale.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    val q = vecs.filter(col("vec_id") < 8)
    val pairs = broadcast(q.as("q"))
      .join(vecs.as("c"),
        col("q.label") === col("c.label") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"),
        col("q.label").cast("long").as("label"),
        col("c.vec_id").as("n_id"), expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** The at-scale path for [[annFiltered]]: the label predicate pushed
    * through the IVF index — candidates must share the query's coarse
    * CELL and its label, so the scan touches one cell's one label slice
    * instead of the label's whole partition. The price is coarse-cell
    * loss on top of the filter, which [[filteredRecall]] gates against
    * the exact filtered top-3 (the same exact-vs-indexed discipline as
    * every other ANN path).
    */
  def annFilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfAssign(spark, dir).join(vectors(spark, dir), "vec_id")
      .select(col("vec_id"), col("cell"), col("label"), col("v"), col("nrm"))
    val q = cells.filter(col("vec_id") < 8)
    val pairs = broadcast(q.as("q"))
      .join(cells.as("c"),
        col("q.cell") === col("c.cell") &&
          col("q.label") === col("c.label") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"),
        col("q.label").cast("long").as("label"),
        col("c.vec_id").as("n_id"), expr(cosExpr).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** Recall@3 of the indexed filtered path vs the exact filtered top-3
    * — prices the coarse quantizer's loss UNDER the metadata filter
    * (cells are fit label-blind, so a query's in-label neighbors can
    * concentrate outside its cell; this gate is what says whether
    * filtered search may ride the index or must scan the partition).
    */
  def filteredRecall(spark: SparkSession, dir: String): DataFrame =
    recallVs(
      annFiltered(spark, dir).select("q_id", "n_id"),
      annFilteredIvf(spark, dir).select(col("q_id"), col("n_id").as("a_id")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_filtered" -> annFiltered,
    "ann_filtered_ivf" -> annFilteredIvf,
    "filtered_recall" -> filteredRecall,
    "walk_pairs" -> walkPairs,
    "snn_graph" -> snnGraph,
    "snn_clusters" -> snnClusters,
    "embedding_outliers" -> embeddingOutliers,
    "knn_pagerank" -> knnPagerank,
    "random_projection" -> randomProjection,
    "cluster_sample" -> clusterSample,
    "knn_graph" -> knnGraph,
    "hard_negatives" -> hardNegatives,
    "ivf_append" -> ivfAppend,
    "cell_purity" -> cellPurity,
    "knn_degree" -> knnDegree,
    "knn_mutuality" -> knnMutuality,
    "knn_triangles" -> knnTriangles,
    "knn_label_agreement" -> knnLabelAgreement,
    "knn_clusters" -> knnClusters,
    "knn_cluster_profile" -> knnClusterProfile,
    "embedding_norm_stats" -> embeddingNormStats,
    "embedding_dim_stats" -> embeddingDimStats,
    "embedding_label_margin" -> embeddingLabelMargin,
    "ann_lsh_multi" -> annLshMulti,
    "lsh_multi_recall" -> lshMultiRecall,
    "ann_ivfpq" -> annIvfPq,
    "ivfpq_recall" -> ivfpqRecall,
    "ann_refine" -> annRefine,
    "refine_recall" -> refineRecall,
    "ivf_recall_curve" -> ivfRecallCurve,
    "ivf_scan_cost_curve" -> ivfScanCostCurve,
    "ann_pq" -> annPq,
    "pq_recall" -> pqRecall,
    "pq_distortion" -> pqDistortion,
    "pq_code_balance" -> pqCodeBalance,
    "ivf_centroid_margin" -> ivfCentroidMargin,
    "ann_sq8" -> annSq8,
    "sq8_recall" -> sq8Recall,
    "sq8_distortion" -> sq8Distortion,
    "ann_bruteforce" -> annBruteforce,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ivf_cell_balance" -> ivfCellBalance,
    "ann_ivf_nprobe2" -> annIvfNprobe2,
    "ann_recall" -> annRecall,
    "semdedup" -> semDedup,
    "semdedup_sweep" -> semDedupSweep)

  /** Incremental index-append audit — the production path a vector
    * store takes at 100 TB: a new batch (the ~10% md5-coin "delta"
    * split, [[graft.llm.Dedup.dedupDelta]]'s convention) is assigned to
    * the EXISTING fitted coarse cells (no refit — that is the point),
    * and per cell the audit reports base/appended populations, each
    * side's share in integer basis points, and the drift between them.
    * Sustained positive drift on a cell says the incoming distribution
    * is sliding away from the fitted quantizer — the signal that
    * schedules a refit. Rides the cached cell assignment; one bounded
    * aggregation, integer-exact.
    */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val per = ivfAssign(spark, dir)
      .withColumn("is_delta",
        when(md5Long(col("vec_id").cast("string")) % 10L === 0L, 1L)
          .otherwise(0L))
      .groupBy("cell")
      .agg(
        sum(lit(1L) - col("is_delta")).cast("long").as("n_base"),
        sum("is_delta").cast("long").as("n_delta"))
    val tot = per.agg(
      sum("n_base").cast("long").as("t_base"),
      sum("n_delta").cast("long").as("t_delta"))
    per.crossJoin(broadcast(tot))
      // an absent side (the md5 coin selected no delta — likely on tiny
      // corpora — or no base) contributes share 0, not a stage-aborting
      // ANSI divide-by-zero
      .withColumn("base_share_bp", expr(
        "CASE WHEN t_base = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (10000 * n_base) div t_base END"))
      .withColumn("delta_share_bp", expr(
        "CASE WHEN t_delta = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (10000 * n_delta) div t_delta END"))
      .withColumn("drift_bp", col("delta_share_bp") - col("base_share_bp"))
      .select("cell", "n_base", "n_delta", "base_share_bp",
        "delta_share_bp", "drift_bp")
  }

  /** Hard-negative mining for contrastive training — per anchor, its
    * highest-cosine neighbors with a DIFFERENT label (the pairs a
    * contrastive loss needs most: semantically close, label-separated).
    * Rides the cached [[knnGraph]] edge frame, so mining adds only two
    * label equi-joins and a per-anchor window over the rank-capped
    * (≤ 3n-row) edge list — no new candidate generation at any scale.
    * Top-2 hard negatives per anchor by (cos DESC, n_id).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val labels = vectors(spark, dir).select(col("vec_id"), col("label"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    knnGraph(spark, dir)
      .join(labels.select(col("vec_id").as("q_id"),
        col("label").as("q_label")), "q_id")
      .join(labels.select(col("vec_id").as("n_id"),
        col("label").as("n_label")), "n_id")
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("hn_rank", row_number().over(w).cast("long"))
      .filter(col("hn_rank") <= 2L)
      .select("q_id", "q_label", "n_id", "n_label", "cos", "hn_rank")
  }

  /** Embedding-space label coherence per IVF cell: each coarse cell's
    * population, its majority label (ties to the lower label id), and
    * the purity in integer basis points — the audit that tells a
    * curation team whether the embedding space actually separates the
    * label structure before they trust semantic dedup or clustering
    * built on it. Rides the cached cell assignment; two bounded
    * aggregations (|cells| x |labels|, then |cells|), integer-exact.
    */
  def cellPurity(spark: SparkSession, dir: String): DataFrame = {
    val labels = vectors(spark, dir).select(col("vec_id"), col("label"))
    val counts = ivfAssign(spark, dir).join(labels, "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val per = counts.groupBy("cell").agg(
      sum("n").cast("long").as("n_vecs"),
      max("n").as("maj_n"),
      count(lit(1)).as("n_labels"))
    counts.join(per, "cell")
      .filter(col("n") === col("maj_n"))
      .groupBy("cell")
      .agg(
        max("n_vecs").as("n_vecs"),
        max("n_labels").as("n_labels"),
        min("label").as("maj_label"),
        max("maj_n").as("maj_n"))
      .withColumn("purity_bp", expr("(10000 * maj_n) div n_vecs"))
  }

  /** Mirrors Embeddings.directional: zero-norm vectors are excluded
    * from every cosine-family oracle exactly as the Spark side excludes
    * them (the norm-stats oracle keeps its own unfiltered CTE — it is
    * the detector for those rows).
    */
  private[llm] val vecSql =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |vecs AS (
      |  SELECT * FROM (
      |    SELECT vec_id, v,
      |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
      |    FROM e)
      |  WHERE nrm > 0)
      |""".stripMargin

  /** The ordered-fold dot product as DuckDB SQL — the ONE spelling of
    * the fold shape (seed, accumulation order) every cosine in the
    * oracle suite builds on; the fold order is the bit-identity contract
    * with the Spark side's vec_dot.
    */
  private[llm] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])),
       |    (acc, x) -> acc + x)""".stripMargin

  private[llm] val cosSql =
    s"""${dotSql("q.v", "c.v")} / (q.nrm * c.nrm)"""

  /** DuckDB mirror of [[knnGraph]]'s candidate chain (continues vecSql +
    * Clustering.fitSql; ends with `knng(q_id, n_id, cos, rank)` — the
    * rank-capped edge list both knn_graph and knn_degree read).
    */
  private def knnChainSql: String =
    s""", cents AS (
       |  SELECT cid, cv, cnrm FROM fcent),
       |assign AS (
       |  SELECT vecs.vec_id, cents.cid,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
       |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
       |  FROM vecs CROSS JOIN cents),
       |cells AS (
       |  SELECT a.vec_id, a.cid AS cell, vecs.v, vecs.nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
       |  JOIN vecs ON vecs.vec_id = a.vec_id
       |  WHERE a.crn = 1),
       |cc AS (
       |  SELECT cell, $capSql AS nsub
       |  FROM cells GROUP BY cell),
       |subc AS (
       |  SELECT cells.*, cells.vec_id % cc.nsub AS sub
       |  FROM cells JOIN cc USING (cell)),
       |kpairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
       |  FROM subc q, subc c
       |  WHERE q.cell = c.cell AND q.sub = c.sub AND q.vec_id <> c.vec_id),
       |knng AS (
       |  SELECT q_id, n_id, cos, rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS rank FROM kpairs)
       |  WHERE rank <= 3)
       |""".stripMargin

  /** DuckDB mirror of [[pqCodebook]]: MaxRounds Lloyd rounds per subspace
    * unrolled as CTEs over the one (s, cid)-keyed codebook (a fixpoint
    * makes trailing rounds no-ops, matching the driver loop's early
    * exit). Continues `subs`; ends with `pcent(s, cid, cv)`.
    */
  private def pqFitSql: String = {
    val d2 =
      """CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 8),
        |        i -> (subs.sv[i] - c.cv[i]) * (subs.sv[i] - c.cv[i]))),
        |      (acc, x) -> acc + x) * 1000000000.0) AS BIGINT)""".stripMargin
    val rounds = (1 to Clustering.MaxRounds).map { r =>
      val prev = if (r == 1) "p0" else s"p${r - 1}"
      s"""pa$r AS (
         |  SELECT subs.vec_id, subs.s, c.cid, $d2 AS d2q
         |  FROM subs JOIN $prev c USING (s)),
         |pb$r AS (
         |  SELECT vec_id, s, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
         |      ORDER BY d2q, cid) AS rn FROM pa$r)
         |  WHERE rn = 1),
         |pd$r AS (
         |  SELECT b.s, b.cid,
         |    unnest(generate_series(0, 7)) AS dim,
         |    unnest(list_transform(subs.sv,
         |      x -> CAST(floor(x * $PqQ) AS BIGINT))) AS xq
         |  FROM pb$r b JOIN subs ON subs.vec_id = b.vec_id AND subs.s = b.s),
         |pm$r AS (
         |  SELECT s, cid, dim, COUNT(*) AS n, CAST(SUM(xq) AS BIGINT) AS sq
         |  FROM pd$r GROUP BY s, cid, dim),
         |p$r AS (
         |  SELECT s, cid,
         |    list(CAST(sq AS DOUBLE) / CAST(n * $PqQ AS DOUBLE) ORDER BY dim)
         |      AS cv
         |  FROM pm$r GROUP BY s, cid)""".stripMargin
    }.mkString(",\n")
    s""", p0 AS (
       |  SELECT s, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 16),
       |$rounds,
       |pcent AS (SELECT s, cid, cv FROM p${Clustering.MaxRounds})
       |""".stripMargin
  }

  /** The PQ codebook/encode/distance-table CTE chain (continues vecSql;
    * ends with `codes(vec_id, s, code)` + `dtable(q_id, s, cid, d2q)`) —
    * the common prefix of every PQ consumer; each op defines its own
    * candidate set on top.
    */
  private def pqCodeSql: String =
    """, nv AS (
      |  SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM vecs),
      |subs AS (
      |  SELECT vec_id, CAST(s AS BIGINT) AS s,
      |    list_slice(vn, s * 8 + 1, s * 8 + 8) AS sv
      |  FROM nv, generate_series(0, 7) t(s))""".stripMargin +
    pqFitSql.stripSuffix("\n") + ",\n" +
    """pcents AS (
      |  SELECT cid, s, cv FROM pcent),
      |d AS (
      |  SELECT sub.vec_id, sub.s, c.cid,
      |    CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, 8),
      |        i -> (sub.sv[i] - c.cv[i]) * (sub.sv[i] - c.cv[i]))),
      |      (acc, x) -> acc + x) * 1000000000.0) AS BIGINT) AS d2q
      |  FROM subs sub JOIN pcents c USING (s)),
      |codes AS (
      |  SELECT vec_id, s, cid AS code FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
      |      ORDER BY d2q, cid) AS rn FROM d)
      |  WHERE rn = 1),
      |dtable AS (
      |  SELECT vec_id AS q_id, s, cid, d2q FROM d
      |  WHERE vec_id >= 100 AND vec_id < 108)
      |""".stripMargin

  /** [[pqCodeSql]] + the unrestricted candidate set (`cand(q_id, n_id,
    * distq)`) — shared by ann_pq and pq_recall.
    */
  private def pqChainSql: String = pqCodeSql.stripSuffix("\n") + ",\n" +
    """cand AS (
      |  SELECT dt.q_id, c.vec_id AS n_id,
      |    CAST(SUM(dt.d2q) AS BIGINT) AS distq
      |  FROM codes c JOIN dtable dt ON c.s = dt.s AND c.code = dt.cid
      |  WHERE c.vec_id <> dt.q_id
      |  GROUP BY dt.q_id, c.vec_id)
      |""".stripMargin

  /** The IVF + PQ candidate chain (continues vecSql; ends with
    * `cand(q_id, n_id, distq)` restricted to the query's cell) — shared
    * by ann_ivfpq and ivfpq_recall.
    */
  private[llm] def ivfpqChainSql: String = pqCodeSql.stripSuffix("\n") +
    Clustering.fitSql.stripSuffix("\n") + ",\n" +
    """cents AS (
      |  SELECT cid, cv, cnrm FROM fcent),
      |assign AS (
      |  SELECT vecs.vec_id, cents.cid,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
      |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
      |  FROM vecs CROSS JOIN cents),
      |cells AS (
      |  SELECT a.vec_id, a.cid AS cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
      |  WHERE a.crn = 1),
      |qc AS (
      |  SELECT vec_id AS q_id, cell FROM cells
      |  WHERE vec_id >= 100 AND vec_id < 108),
      |cand AS (
      |  SELECT dt.q_id, c.vec_id AS n_id,
      |    CAST(SUM(dt.d2q) AS BIGINT) AS distq
      |  FROM codes c
      |  JOIN cells cc ON cc.vec_id = c.vec_id
      |  JOIN dtable dt ON c.s = dt.s AND c.code = dt.cid
      |    AND c.vec_id <> dt.q_id
      |  JOIN qc ON qc.q_id = dt.q_id AND qc.cell = cc.cell
      |  GROUP BY dt.q_id, c.vec_id)
      |""".stripMargin

  /** The refined-candidate chain (continues vecSql + ivfpqChainSql's
    * `cand`; ends with `ref3(q_id, n_id, cos, rank)` — the exact-cosine
    * top-3 inside the ADC top-RefineR) — shared by ann_refine and
    * refine_recall.
    */
  private def refineChainSql: String =
    s""", wide AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY distq, n_id) AS arn FROM cand)
       |  WHERE arn <= $RefineR),
       |rp AS (
       |  SELECT wide.q_id, wide.n_id, $cosSql AS cos
       |  FROM wide
       |  JOIN vecs q ON q.vec_id = wide.q_id
       |  JOIN vecs c ON c.vec_id = wide.n_id),
       |ref3 AS (
       |  SELECT q_id, n_id, cos, rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS rank FROM rp)
       |  WHERE rank <= 3)
       |""".stripMargin

  /** The 4-table LSH candidate chain (continues vecSql; ends with
    * `mcand(q_id, n_id)`) — shared by ann_lsh_multi and lsh_multi_recall.
    */
  private def lshMultiChainSql: String =
    s""", mdots AS (
      |  SELECT vec_id, p,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(generate_series(1, len(v)), i -> v[i] *
      |        (${md5LongSql("'p_' || p || '_' || (i - 1)")}::DOUBLE
      |          / CAST(72057594037927936 AS DOUBLE) - 0.5))),
      |      (a, x) -> a + x) AS dot
      |  FROM vecs, generate_series(0, 23) t(p)),
      |mbuckets AS (
      |  SELECT vec_id, p // 6 AS t,
      |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p % 6) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS bucket
      |  FROM mdots GROUP BY vec_id, p // 6),
      |mcand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
      |  FROM mbuckets q JOIN mbuckets c ON q.t = c.t AND q.bucket = c.bucket
      |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "embedding_outliers" ->
      """WITH qv AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, i AS d, q[i] AS x
        |  FROM qv, generate_series(1, 64) t(i)),
        |cent AS (
        |  SELECT label, d,
        |    CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS c
        |  FROM dims GROUP BY label, d),
        |centarr AS (
        |  SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
        |dist AS (
        |  SELECT vec_id, qv.label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, 64),
        |        i -> (q[i] - cv[i]) * (q[i] - cv[i]))),
        |      (a, e) -> a + e) AS dist_sq
        |  FROM qv JOIN centarr USING (label)),
        |stats AS (
        |  SELECT label, CAST(SUM(dist_sq) AS BIGINT) AS sum_d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM dist GROUP BY label)
        |SELECT vec_id, label, dist_sq,
        |  CAST(CASE WHEN dist_sq * n > 2 * sum_d THEN 1 ELSE 0 END AS BIGINT)
        |    AS outlier
        |FROM dist JOIN stats USING (label)""".stripMargin,
    "knn_pagerank" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, pr_outd AS (
        |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS deg FROM knng GROUP BY q_id),
        |prc1 AS (
        |  SELECT n_id AS vec_id, CAST(SUM(1000000 // deg) AS BIGINT) AS c
        |  FROM knng JOIN pr_outd USING (q_id) GROUP BY n_id),
        |prp1 AS (
        |  SELECT e.vec_id, CAST(150000 + (85 * COALESCE(prc1.c, 0)) // 100
        |    AS BIGINT) AS pr
        |  FROM embeddings e LEFT JOIN prc1 USING (vec_id)),
        |prc2 AS (
        |  SELECT k.n_id AS vec_id, CAST(SUM(prp1.pr // o.deg) AS BIGINT) AS c
        |  FROM knng k JOIN pr_outd o USING (q_id) JOIN prp1 ON prp1.vec_id = k.q_id
        |  GROUP BY k.n_id)
        |SELECT e.vec_id, e.label,
        |  CAST(150000 + (85 * COALESCE(prc2.c, 0)) // 100 AS BIGINT) AS pr
        |FROM embeddings e LEFT JOIN prc2 USING (vec_id)""".stripMargin),
    "random_projection" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |ax AS (
        |  SELECT a, list_transform(generate_series(0, 63), d ->
        |    CASE WHEN ('0x' || substring(md5('rp_' || a || '_' || d), 1, 14))::BIGINT % 2 = 0
        |         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS s
        |  FROM (SELECT unnest(generate_series(0, 3)) AS a))
        |SELECT vec_id, label, CAST(a AS BIGINT) AS axis,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(1, len(q)), i -> q[i] * s[i])),
        |    (acc, x) -> acc + x) AS proj
        |FROM q CROSS JOIN ax""".stripMargin,
    "cluster_sample" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |cells AS (
         |  SELECT a.vec_id, a.cid AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
         |  WHERE a.crn = 1),
         |sz AS (SELECT cell, COUNT(*) AS n_cell FROM cells GROUP BY cell),
         |coined AS (
         |  SELECT vec_id, cell, n_cell,
         |    ${md5LongSql("'cs#' || CAST(vec_id AS VARCHAR)")} % 1000000
         |      AS coin
         |  FROM cells JOIN sz USING (cell))
         |SELECT vec_id, cell, n_cell, coin
         |FROM coined WHERE coin * n_cell < ${SampleTarget} * 1000000"""
        .stripMargin),
    "ann_lsh_multi" -> (vecSql + lshMultiChainSql.stripSuffix("\n") + ",\n" +
      s"""mpairs AS (
         |  SELECT mcand.q_id, mcand.n_id, $cosSql AS cos
         |  FROM mcand
         |  JOIN vecs q ON q.vec_id = mcand.q_id
         |  JOIN vecs c ON c.vec_id = mcand.n_id)
         |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM mpairs)
         |WHERE rank <= 3""".stripMargin),
    "lsh_multi_recall" -> (vecSql + lshMultiChainSql.stripSuffix("\n") + ",\n" +
      s"""mpairs AS (
         |  SELECT mcand.q_id, mcand.n_id, $cosSql AS cos
         |  FROM mcand
         |  JOIN vecs q ON q.vec_id = mcand.q_id
         |  JOIN vecs c ON c.vec_id = mcand.n_id),
         |ml AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM mpairs)
         |  WHERE rank <= 3),
         |bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ml.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN ml.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*) AS recall
         |FROM bf LEFT JOIN ml ON bf.q_id = ml.q_id AND bf.n_id = ml.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ann_ivfpq" -> (vecSql + ivfpqChainSql +
      """SELECT q_id, n_id,
        |  CAST(distq AS DOUBLE) / 1000000000.0 AS dist,
        |  CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY distq, n_id) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin),
    "ivfpq_recall" -> (vecSql + ivfpqChainSql.stripSuffix("\n") + ",\n" +
      s"""bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 108 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3),
         |ap AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY distq, n_id) AS rank FROM cand)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*) AS recall
         |FROM bf LEFT JOIN ap ON bf.q_id = ap.q_id AND bf.n_id = ap.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ann_refine" -> (vecSql + ivfpqChainSql.stripSuffix("\n") +
      refineChainSql.stripSuffix("\n") + "\n" +
      """SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank
        |FROM ref3""".stripMargin),
    "refine_recall" -> (vecSql + ivfpqChainSql.stripSuffix("\n") +
      refineChainSql.stripSuffix("\n") + ",\n" +
      s"""bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 108 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ref3.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(SUM(CASE WHEN ref3.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) / COUNT(*) AS recall
         |FROM bf LEFT JOIN ref3
         |  ON bf.q_id = ref3.q_id AND bf.n_id = ref3.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ann_pq" -> (vecSql + pqChainSql +
      """SELECT q_id, n_id,
        |  CAST(distq AS DOUBLE) / 1000000000.0 AS dist,
        |  CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY distq, n_id) AS rank FROM cand)
        |WHERE rank <= 3""".stripMargin),
    "pq_distortion" -> (vecSql + pqCodeSql +
      """, md AS (
        |  SELECT vec_id, s, MIN(d2q) AS d2q FROM d GROUP BY vec_id, s)
        |SELECT s, COUNT(*) AS n_vecs,
        |  CAST(SUM(d2q) AS BIGINT) AS sum_d2q,
        |  MAX(d2q) AS max_d2q,
        |  CAST(SUM(d2q) AS BIGINT) // COUNT(*) AS mean_d2q
        |FROM md GROUP BY s""".stripMargin),
    "pq_code_balance" -> (vecSql + pqCodeSql +
      """, cb AS (
        |  SELECT s, code, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM codes GROUP BY s, code)
        |SELECT s, COUNT(*) AS n_codes_used,
        |  CAST(SUM(n) AS BIGINT) AS n_vecs,
        |  MIN(n) AS min_load, MAX(n) AS max_load
        |FROM cb GROUP BY s""".stripMargin),
    "ivf_centroid_margin" -> (vecSql + Clustering.fitSql +
      s"""SELECT a.cid AS c1, b.cid AS c2,
         |  ${dotSql("a.cv", "b.cv")} / (a.cnrm * b.cnrm) AS cos
         |FROM fcent a JOIN fcent b ON a.cid < b.cid""".stripMargin),
    "pq_recall" -> (vecSql + pqChainSql +
      s""", bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 108 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3),
         |pq AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY distq, n_id) AS rank FROM cand)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN pq.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN pq.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*) AS recall
         |FROM bf LEFT JOIN pq ON bf.q_id = pq.q_id AND bf.n_id = pq.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ann_sq8" -> (vecSql +
      """, quant AS (
        |  SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * 127.0 / mx) AS INTEGER)) AS qv,
        |    mx, nrm
        |  FROM (
        |    SELECT vec_id, v, nrm,
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x)) AS mx
        |    FROM vecs)),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, len(q.qv)),
        |        i -> CAST(q.qv[i] AS BIGINT) * c.qv[i])),
        |      (acc, x) -> acc + x) AS qdot,
        |    q.mx AS qmx, c.mx AS cmx, q.nrm AS qnrm, c.nrm AS cnrm
        |  FROM quant q, quant c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT q_id, n_id, qdot,
        |    CAST(qdot AS DOUBLE) * qmx * cmx / (16129.0 * qnrm * cnrm) AS cos8
        |  FROM pairs)
        |SELECT q_id, n_id, qdot, cos8, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY cos8 DESC, n_id) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin),
    "embedding_label_margin" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |vecs AS (
         |  SELECT * FROM (
         |    SELECT vec_id, label, v,
         |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
         |    FROM e)
         |  WHERE nrm > 0),
         |cd AS (
         |  SELECT label, dim, COUNT(*) AS n, CAST(SUM(xq) AS BIGINT) AS sq
         |  FROM (
         |    SELECT label,
         |      unnest(generate_series(0, len(v) - 1)) AS dim,
         |      unnest(list_transform(v,
         |        x -> CAST(floor(x * 1000000) AS BIGINT))) AS xq
         |    FROM vecs)
         |  GROUP BY label, dim),
         |cents AS (
         |  SELECT label AS clabel,
         |    list(CAST(sq AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
         |      ORDER BY dim) AS cv
         |  FROM cd GROUP BY label),
         |cents2 AS (
         |  SELECT clabel, cv,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(cv, x -> x * x)), (a, x) -> a + x)) AS cnrm
         |  FROM cents),
         |sc AS (
         |  SELECT v.vec_id, v.label,
         |    MAX(CASE WHEN c.clabel = v.label THEN
         |      ${dotSql("v.v", "c.cv")} / (v.nrm * c.cnrm) END) AS own,
         |    MAX(CASE WHEN c.clabel <> v.label THEN
         |      ${dotSql("v.v", "c.cv")} / (v.nrm * c.cnrm) END) AS other
         |  FROM vecs v CROSS JOIN cents2 c
         |  GROUP BY v.vec_id, v.label),
         |m AS (
         |  SELECT label,
         |    CAST(floor((own - other) * 1000000000.0) AS BIGINT) AS mq
         |  FROM sc)
         |SELECT label, COUNT(*) AS n_vecs,
         |  (CAST(SUM(mq) AS BIGINT) + 2000000000 * COUNT(*)) // COUNT(*)
         |    - 2000000000 AS mean_margin_q,
         |  CAST(SUM(CASE WHEN mq < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_negative,
         |  (10000 * CAST(SUM(CASE WHEN mq < 0 THEN 1 ELSE 0 END)
         |    AS BIGINT)) // COUNT(*) AS neg_bp
         |FROM m GROUP BY label""".stripMargin,
    "sq8_distortion" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |vecs AS (
        |  SELECT * FROM (
        |    SELECT vec_id, label, v,
        |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
        |    FROM e)
        |  WHERE nrm > 0),
        |quant AS (
        |  SELECT label, v, nrm, mx,
        |    list_transform(v, x -> CAST(floor(x * 127.0 / mx) AS INTEGER))
        |      AS qv
        |  FROM (
        |    SELECT label, v, nrm,
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x))
        |        AS mx
        |    FROM vecs)),
        |d AS (
        |  SELECT label,
        |    CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, len(v)),
        |        i -> (v[i] - qv[i] * mx / 127.0)
        |          * (v[i] - qv[i] * mx / 127.0))),
        |      (acc, d) -> acc + d) / (nrm * nrm) * 1000000000.0) AS BIGINT)
        |      AS e2q
        |  FROM quant)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(e2q) AS BIGINT) AS sum_e2q,
        |  MAX(e2q) AS max_e2q,
        |  CAST(SUM(e2q) AS BIGINT) // COUNT(*) AS mean_e2q
        |FROM d GROUP BY label""".stripMargin,
    "sq8_recall" -> (vecSql +
      s""", bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3),
         |quant AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 127.0 / mx) AS INTEGER)) AS qv,
         |    mx, nrm
         |  FROM (
         |    SELECT vec_id, v, nrm,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x)) AS mx
         |    FROM vecs)),
         |spairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, len(q.qv)),
         |        i -> CAST(q.qv[i] AS BIGINT) * c.qv[i])),
         |      (acc, x) -> acc + x) AS DOUBLE)
         |      * q.mx * c.mx / (16129.0 * q.nrm * c.nrm) AS cos8
         |  FROM quant q, quant c
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |sq8 AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos8 DESC, n_id) AS rank FROM spairs)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN sq8.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN sq8.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*) AS recall
         |FROM bf LEFT JOIN sq8 ON bf.q_id = sq8.q_id AND bf.n_id = sq8.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ann_recall" -> (vecSql +
      s""", bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3),
         |dots AS (
         |  SELECT vec_id, p,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(v)), i -> v[i] *
         |        (${md5LongSql("'p_' || p || '_' || (i - 1)")}::DOUBLE
         |          / CAST(72057594037927936 AS DOUBLE) - 0.5))),
         |      (a, x) -> a + x) AS dot
         |  FROM vecs, generate_series(0, 5) t(p)),
         |buckets AS (
         |  SELECT d.vec_id,
         |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket,
         |    ANY_VALUE(vecs.v) AS v, ANY_VALUE(vecs.nrm) AS nrm
         |  FROM dots d JOIN vecs ON vecs.vec_id = d.vec_id
         |  GROUP BY d.vec_id),
         |lpairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM buckets q, buckets c
         |  WHERE q.vec_id < 8 AND q.bucket = c.bucket AND q.vec_id <> c.vec_id),
         |lsh AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM lpairs)
         |  WHERE rank <= 3)
         |SELECT bf.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN lsh.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_matched,
         |  CAST(SUM(CASE WHEN lsh.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    / COUNT(*) AS recall
         |FROM bf LEFT JOIN lsh ON bf.q_id = lsh.q_id AND bf.n_id = lsh.n_id
         |GROUP BY bf.q_id""".stripMargin),
    "ivf_append" -> (vecSql + Clustering.fitSql + knnChainSql +
      s""", coined AS (
        |  SELECT cell,
        |    CASE WHEN ${md5LongSql("CAST(cells.vec_id AS VARCHAR)")} % 10 = 0
        |      THEN 1 ELSE 0 END AS is_delta
        |  FROM cells),
        |per AS (
        |  SELECT cell, CAST(SUM(1 - is_delta) AS BIGINT) AS n_base,
        |    CAST(SUM(is_delta) AS BIGINT) AS n_delta
        |  FROM coined GROUP BY cell),
        |tot AS (
        |  SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
        |    CAST(SUM(n_delta) AS BIGINT) AS t_delta FROM per)
        |SELECT cell, n_base, n_delta,
        |  CASE WHEN t_base = 0 THEN 0
        |    ELSE (10000 * n_base) // t_base END AS base_share_bp,
        |  CASE WHEN t_delta = 0 THEN 0
        |    ELSE (10000 * n_delta) // t_delta END AS delta_share_bp,
        |  CASE WHEN t_delta = 0 THEN 0
        |    ELSE (10000 * n_delta) // t_delta END
        |  - CASE WHEN t_base = 0 THEN 0
        |    ELSE (10000 * n_base) // t_base END AS drift_bp
        |FROM per CROSS JOIN tot""".stripMargin),
    "hard_negatives" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, lab AS (SELECT vec_id, label FROM embeddings),
        |hn AS (
        |  SELECT knng.q_id, ql.label AS q_label, knng.n_id,
        |    nl.label AS n_label, knng.cos,
        |    ROW_NUMBER() OVER (PARTITION BY knng.q_id
        |      ORDER BY knng.cos DESC, knng.n_id) AS hn_rank
        |  FROM knng JOIN lab ql ON ql.vec_id = knng.q_id
        |  JOIN lab nl ON nl.vec_id = knng.n_id
        |  WHERE ql.label <> nl.label)
        |SELECT q_id, q_label, n_id, n_label, cos,
        |  CAST(hn_rank AS BIGINT) AS hn_rank
        |FROM hn WHERE hn_rank <= 2""".stripMargin),
    "cell_purity" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, lab AS (SELECT vec_id, label FROM embeddings),
        |pcounts AS (
        |  SELECT cells.cell, lab.label, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM cells JOIN lab ON lab.vec_id = cells.vec_id
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs,
        |    CAST(MAX(n) AS BIGINT) AS maj_n,
        |    CAST(COUNT(*) AS BIGINT) AS n_labels
        |  FROM pcounts GROUP BY cell)
        |SELECT p.cell, MAX(per.n_vecs) AS n_vecs,
        |  MAX(per.n_labels) AS n_labels,
        |  MIN(p.label) AS maj_label, MAX(per.maj_n) AS maj_n,
        |  (10000 * MAX(per.maj_n)) // MAX(per.n_vecs) AS purity_bp
        |FROM pcounts p JOIN per USING (cell)
        |WHERE p.n = per.maj_n
        |GROUP BY p.cell""".stripMargin),
    "knn_graph" -> (vecSql + Clustering.fitSql + knnChainSql +
      """SELECT q_id, n_id, cos, rank FROM knng""".stripMargin),
    "walk_pairs" -> (vecSql + Clustering.fitSql + knnChainSql +
      s""", ed AS (
         |  SELECT knng.*, dg.deg FROM knng
         |  JOIN (SELECT q_id, MAX(rank) AS deg FROM knng GROUP BY q_id) dg
         |    USING (q_id)),
         |s1 AS (
         |  SELECT q_id AS anchor, n_id AS ctx FROM ed
         |  WHERE rank = ${graft.functions.Parity.md5LongSql(
                 "('walk1#' || q_id)")} % deg + 1),
         |s2 AS (
         |  SELECT s1.anchor, ed.n_id AS ctx
         |  FROM s1 JOIN ed ON ed.q_id = s1.ctx
         |  WHERE ed.rank = ${graft.functions.Parity.md5LongSql(
                 "('walk2#' || s1.anchor)")} % ed.deg + 1)
         |SELECT anchor, ctx, CAST(1 AS BIGINT) AS step FROM s1
         |UNION ALL
         |SELECT anchor, ctx, CAST(2 AS BIGINT) AS step FROM s2"""
        .stripMargin),
    "snn_graph" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, adjx AS (
        |  SELECT q_id, list_sort(list(DISTINCT n_id)) AS nbrs
        |  FROM knng GROUP BY q_id),
        |undx AS (
        |  SELECT DISTINCT least(q_id, n_id) AS a, greatest(q_id, n_id) AS b
        |  FROM knng)
        |SELECT u.a, u.b,
        |  CAST(len(list_intersect(x.nbrs, y.nbrs)) AS BIGINT) AS n_shared,
        |  CAST(len(list_intersect(x.nbrs, y.nbrs)) AS DOUBLE) /
        |    (len(x.nbrs) + len(y.nbrs) - len(list_intersect(x.nbrs, y.nbrs)))
        |    AS snn_sim
        |FROM undx u
        |JOIN adjx x ON x.q_id = u.a
        |JOIN adjx y ON y.q_id = u.b""".stripMargin),
    "snn_clusters" -> ("WITH RECURSIVE" + vecSql.stripPrefix("WITH") +
      Clustering.fitSql + knnChainSql +
      """, adjx AS (
        |  SELECT q_id, list_sort(list(DISTINCT n_id)) AS nbrs
        |  FROM knng GROUP BY q_id),
        |mut AS (
        |  SELECT least(q_id, n_id) AS d1, greatest(q_id, n_id) AS d2
        |  FROM knng GROUP BY 1, 2 HAVING COUNT(*) = 2),
        |jp AS (
        |  SELECT m.d1, m.d2 FROM mut m
        |  JOIN adjx x ON x.q_id = m.d1
        |  JOIN adjx y ON y.q_id = m.d2
        |  WHERE len(list_intersect(x.nbrs, y.nbrs)) >= 1),
        |kedges AS (
        |  SELECT d1, d2 FROM jp
        |  UNION SELECT d2 AS d1, d1 AS d2 FROM jp),
        |reach(src, dst) AS (
        |  SELECT d1, d1 FROM (SELECT DISTINCT d1 FROM kedges)
        |  UNION
        |  SELECT r.src, e.d2 FROM reach r JOIN kedges e ON e.d1 = r.dst)
        |SELECT src AS vec_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin),
    "knn_clusters" -> ("WITH RECURSIVE" + vecSql.stripPrefix("WITH") +
      Clustering.fitSql + knnChainSql +
      """, und AS (
        |  SELECT DISTINCT least(q_id, n_id) AS d1, greatest(q_id, n_id) AS d2
        |  FROM knng WHERE cos >= 0.25),
        |kedges AS (
        |  SELECT d1, d2 FROM und
        |  UNION SELECT d2 AS d1, d1 AS d2 FROM und),
        |reach(src, dst) AS (
        |  SELECT d1, d1 FROM (SELECT DISTINCT d1 FROM kedges)
        |  UNION
        |  SELECT r.src, e.d2 FROM reach r JOIN kedges e ON e.d1 = r.dst)
        |SELECT src AS vec_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin),
    "knn_cluster_profile" -> ("WITH RECURSIVE" + vecSql.stripPrefix("WITH") +
      Clustering.fitSql + knnChainSql +
      """, und AS (
        |  SELECT DISTINCT least(q_id, n_id) AS d1, greatest(q_id, n_id) AS d2
        |  FROM knng WHERE cos >= 0.25),
        |kedges AS (
        |  SELECT d1, d2 FROM und
        |  UNION SELECT d2 AS d1, d1 AS d2 FROM und),
        |reach(src, dst) AS (
        |  SELECT d1, d1 FROM (SELECT DISTINCT d1 FROM kedges)
        |  UNION
        |  SELECT r.src, e.d2 FROM reach r JOIN kedges e ON e.d1 = r.dst),
        |lab AS (
        |  SELECT src AS vec_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |cs AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
        |  FROM lab GROUP BY cluster_id)
        |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY csize""".stripMargin),
    "knn_degree" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, deg AS (
        |  SELECT n_id, COUNT(*) AS in_deg FROM knng GROUP BY n_id)
        |SELECT in_deg, COUNT(*) AS n_vecs FROM deg GROUP BY in_deg"""
        .stripMargin),
    "knn_mutuality" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, rev AS (SELECT n_id AS q_id, q_id AS n_id FROM knng)
        |SELECT k.rank, COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN r.q_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mutual,
        |  (10000 * CAST(SUM(CASE WHEN r.q_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT)) // COUNT(*) AS mutual_bp
        |FROM knng k LEFT JOIN rev r
        |  ON k.q_id = r.q_id AND k.n_id = r.n_id
        |GROUP BY k.rank""".stripMargin),
    "embedding_dim_stats" ->
      """WITH dims AS (
        |  SELECT i - 1 AS d,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0) AS BIGINT) AS q
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |cnt AS (SELECT d, q, COUNT(*) AS k FROM dims GROUP BY d, q),
        |cum AS (
        |  SELECT d, q, k,
        |    CAST(SUM(k) OVER (PARTITION BY d ORDER BY q) AS BIGINT) AS cum
        |  FROM cnt),
        |tot AS (
        |  SELECT d, CAST(SUM(k) AS BIGINT) AS n,
        |    MIN(q) AS mn_q, MAX(q) AS mx_q
        |  FROM cnt GROUP BY d),
        |rk AS (SELECT *, (n + 99) // 100 AS r1,
        |  (99 * n + 99) // 100 AS r99 FROM tot),
        |p01 AS (
        |  SELECT cum.d, MIN(q) AS p01_q FROM cum JOIN rk USING (d)
        |  WHERE cum >= r1 GROUP BY cum.d),
        |p99 AS (
        |  SELECT cum.d, MIN(q) AS p99_q FROM cum JOIN rk USING (d)
        |  WHERE cum >= r99 GROUP BY cum.d),
        |clip AS (
        |  SELECT cnt.d, CAST(SUM(CASE WHEN q < p01_q OR q > p99_q
        |    THEN k ELSE 0 END) AS BIGINT) AS n_clip
        |  FROM cnt JOIN p01 USING (d) JOIN p99 USING (d) GROUP BY cnt.d)
        |SELECT rk.d, n, mn_q, mx_q, p01_q, p99_q, n_clip,
        |  (10000 * n_clip) // n AS clip_bp
        |FROM rk JOIN p01 USING (d) JOIN p99 USING (d)
        |JOIN clip USING (d)""".stripMargin,
    "knn_label_agreement" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, lb AS (SELECT vec_id, label FROM embeddings)
        |SELECT k.rank, COUNT(*) AS n_edges,
        |  CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_same,
        |  (10000 * CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
        |    AS BIGINT)) // COUNT(*) AS agree_bp
        |FROM knng k
        |JOIN lb a ON a.vec_id = k.q_id
        |JOIN lb b ON b.vec_id = k.n_id
        |GROUP BY k.rank""".stripMargin),
    "knn_triangles" -> (vecSql + Clustering.fitSql + knnChainSql +
      """, undx AS (
        |  SELECT DISTINCT least(q_id, n_id) AS a, greatest(q_id, n_id) AS b
        |  FROM knng),
        |adjt AS (
        |  SELECT v, list_sort(list(DISTINCT w)) AS nbrs FROM (
        |    SELECT a AS v, b AS w FROM undx
        |    UNION ALL SELECT b AS v, a AS w FROM undx) GROUP BY v),
        |ec AS (
        |  SELECT u.a, u.b,
        |    CAST(len(list_intersect(x.nbrs, y.nbrs)) AS BIGINT) AS nc
        |  FROM undx u
        |  JOIN adjt x ON x.v = u.a
        |  JOIN adjt y ON y.v = u.b),
        |pv AS (
        |  SELECT v, CAST(SUM(nc) AS BIGINT) AS s FROM (
        |    SELECT a AS v, nc FROM ec
        |    UNION ALL SELECT b AS v, nc FROM ec) GROUP BY v)
        |SELECT adjt.v AS vec_id, CAST(len(adjt.nbrs) AS BIGINT) AS deg,
        |  COALESCE(pv.s, 0) // 2 AS n_tri,
        |  CASE WHEN len(adjt.nbrs) >= 2
        |    THEN (10000 * COALESCE(pv.s, 0))
        |      // (CAST(len(adjt.nbrs) AS BIGINT) * (len(adjt.nbrs) - 1))
        |    ELSE 0 END AS clust_bp
        |FROM adjt LEFT JOIN pv ON pv.v = adjt.v""".stripMargin),
    "semdedup" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |cells AS (
         |  SELECT a.vec_id, a.cid AS cell, vecs.v, vecs.nrm FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
         |  JOIN vecs ON vecs.vec_id = a.vec_id
         |  WHERE a.crn = 1),
         |cc AS (
         |  SELECT cell, $capSql AS nsub
         |  FROM cells GROUP BY cell),
         |subc AS (
         |  SELECT cells.*, cells.vec_id % cc.nsub AS sub
         |  FROM cells JOIN cc USING (cell)),
         |pairs AS (
         |  SELECT q.vec_id AS a_id, c.vec_id AS b_id, c.cell AS cell,
         |    $cosSql AS cos
         |  FROM subc q, subc c
         |  WHERE q.cell = c.cell AND q.sub = c.sub AND q.vec_id < c.vec_id)
         |SELECT b_id AS drop_id, MIN(cell) AS cell, COUNT(*) AS n_dups,
         |  MIN(a_id) AS keep_id
         |FROM pairs WHERE cos >= 0.25
         |GROUP BY b_id""".stripMargin),
    "semdedup_sweep" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |cells AS (
         |  SELECT a.vec_id, a.cid AS cell, vecs.v, vecs.nrm FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
         |  JOIN vecs ON vecs.vec_id = a.vec_id
         |  WHERE a.crn = 1),
         |cc AS (
         |  SELECT cell, $capSql AS nsub
         |  FROM cells GROUP BY cell),
         |subc AS (
         |  SELECT cells.*, cells.vec_id % cc.nsub AS sub
         |  FROM cells JOIN cc USING (cell)),
         |pairs AS (
         |  SELECT q.vec_id AS a_id, c.vec_id AS b_id, c.cell AS cell,
         |    $cosSql AS cos
         |  FROM subc q, subc c
         |  WHERE q.cell = c.cell AND q.sub = c.sub AND q.vec_id < c.vec_id),
         |th AS (
         |  SELECT CAST(25 + unnest([0, 1, 2, 3]) * 10 AS BIGINT) AS th_pct)
         |SELECT th_pct,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_dropped
         |FROM th JOIN pairs ON pairs.cos >= CAST(th_pct AS DOUBLE) / 100
         |GROUP BY th_pct""".stripMargin),
    "ann_ivf" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |cells AS (
         |  SELECT a.vec_id, a.cid AS cell, vecs.v, vecs.nrm FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
         |  JOIN vecs ON vecs.vec_id = a.vec_id
         |  WHERE a.crn = 1),
         |pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM cells q, cells c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 108
         |    AND q.cell = c.cell AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM pairs)
         |WHERE rank <= 3""".stripMargin),
    "ivf_cell_balance" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
        |cells AS (
        |  SELECT a.vec_id, a.cid AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cid) AS crn FROM assign) a
        |  WHERE a.crn = 1),
        |counts AS (
        |  SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell),
        |tot AS (
        |  SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
        |    CAST(COUNT(*) AS BIGINT) AS n_cells FROM counts)
        |SELECT cell, n_vecs,
        |  (n_vecs * 10000) // n_total AS share_bp,
        |  (n_vecs * 100 * n_cells) // n_total AS imbalance_x100
        |FROM counts CROSS JOIN tot""".stripMargin),
    "ann_ivf_nprobe2" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid) AS crn FROM assign),
         |cells AS (
         |  SELECT r.vec_id, r.cid AS cell, vecs.v, vecs.nrm FROM ranked r
         |  JOIN vecs ON vecs.vec_id = r.vec_id WHERE r.crn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cid AS pcell FROM ranked
         |  WHERE vec_id >= 100 AND vec_id < 108 AND crn <= 2),
         |pairs AS (
         |  SELECT p.q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM probes p
         |  JOIN vecs q ON q.vec_id = p.q_id
         |  JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.q_id)
         |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM pairs)
         |WHERE rank <= 3""".stripMargin),
    "ivf_scan_cost_curve" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid) AS crn FROM assign),
         |cells AS (
         |  SELECT vec_id, cid AS cell FROM ranked WHERE crn = 1),
         |sizes AS (
         |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS csz
         |  FROM cells GROUP BY cell),
         |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM cells),
         |probes AS (
         |  SELECT vec_id AS q_id, cid AS cell, CAST(crn AS BIGINT) AS pr
         |  FROM ranked
         |  WHERE vec_id >= 100 AND vec_id < 108 AND crn <= 4),
         |ns AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
         |agg AS (
         |  SELECT nprobe,
         |    CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
         |    CAST(SUM(csz) AS BIGINT) AS cand_total
         |  FROM probes JOIN sizes USING (cell) CROSS JOIN ns
         |  WHERE pr <= nprobe GROUP BY nprobe)
         |SELECT nprobe, n_queries, cand_total,
         |  cand_total // n_queries AS cand_per_query,
         |  (10000 * cand_total) // (n_queries * n_total) AS scan_share_bp
         |FROM agg CROSS JOIN na""".stripMargin),
    "ivf_recall_curve" -> (vecSql + Clustering.fitSql +
      s""", cents AS (
         |  SELECT cid, cv, cnrm FROM fcent),
         |assign AS (
         |  SELECT vecs.vec_id, cents.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(vecs.v)), i -> vecs.v[i] * cents.cv[i])),
         |      (acc, x) -> acc + x) / (vecs.nrm * cents.cnrm) AS ccos
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid) AS crn FROM assign),
         |cells AS (
         |  SELECT r.vec_id, r.cid AS cell, vecs.v, vecs.nrm FROM ranked r
         |  JOIN vecs ON vecs.vec_id = r.vec_id WHERE r.crn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cid AS pcell, crn FROM ranked
         |  WHERE vec_id >= 100 AND vec_id < 108 AND crn <= 2),
         |np AS (SELECT CAST(unnest([1, 2]) AS BIGINT) AS nprobe),
         |cpairs AS (
         |  SELECT np.nprobe, p.q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM np JOIN probes p ON p.crn <= np.nprobe
         |  JOIN vecs q ON q.vec_id = p.q_id
         |  JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.q_id),
         |ap AS (
         |  SELECT nprobe, q_id, n_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM cpairs)
         |  WHERE rank <= 3),
         |bfp AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id >= 100 AND q.vec_id < 108 AND q.vec_id <> c.vec_id),
         |bf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, n_id) AS rank FROM bfp)
         |  WHERE rank <= 3)
         |SELECT np.nprobe,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS recall
         |FROM np CROSS JOIN bf
         |LEFT JOIN ap ON ap.nprobe = np.nprobe AND ap.q_id = bf.q_id
         |  AND ap.n_id = bf.n_id
         |GROUP BY np.nprobe""".stripMargin),
    "embedding_norm_stats" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nn AS (
        |  SELECT vec_id, label, CAST(len(v) AS BIGINT) AS dim,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
        |  FROM e),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY nrm, vec_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY label) AS n
        |  FROM nn)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  MAX(dim) AS dim,
        |  MIN(nrm) AS min_nrm,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
        |    THEN nrm END) AS q1,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
        |    THEN nrm END) AS median,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
        |    THEN nrm END) AS q3,
        |  MAX(nrm) AS max_nrm
        |FROM r GROUP BY label""".stripMargin,
    "ann_bruteforce" -> (vecSql +
      s""", pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q, vecs c
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM pairs)
         |WHERE rank <= 5""".stripMargin),
    "ann_filtered" -> (vecSql +
      s""", lab AS (SELECT vec_id, label FROM embeddings),
         |pairs AS (
         |  SELECT q.vec_id AS q_id, ql.label AS label,
         |    c.vec_id AS n_id, $cosSql AS cos
         |  FROM vecs q
         |  JOIN lab ql ON ql.vec_id = q.vec_id
         |  JOIN lab cl ON cl.label = ql.label
         |  JOIN vecs c ON c.vec_id = cl.vec_id
         |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |SELECT q_id, CAST(label AS BIGINT) AS label, n_id, cos,
         |  CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM pairs)
         |WHERE rank <= 3""".stripMargin),
    "ann_filtered_ivf" -> (vecSql + Clustering.fitSql + knnChainSql +
      s""", lab AS (SELECT vec_id, label FROM embeddings),
         |fcells AS (
         |  SELECT cells.vec_id, cells.cell, lab.label, cells.v, cells.nrm
         |  FROM cells JOIN lab USING (vec_id)),
         |fpairs AS (
         |  SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS n_id,
         |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM fcells q JOIN fcells c
         |    ON q.cell = c.cell AND q.label = c.label
         |      AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 8)
         |SELECT q_id, CAST(label AS BIGINT) AS label, n_id, cos,
         |  CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM fpairs)
         |WHERE rank <= 3""".stripMargin),
    "filtered_recall" -> (vecSql + Clustering.fitSql + knnChainSql +
      s""", lab AS (SELECT vec_id, label FROM embeddings),
         |ex AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
         |        AS rank
         |    FROM vecs q
         |    JOIN lab ql ON ql.vec_id = q.vec_id
         |    JOIN lab cl ON cl.label = ql.label
         |    JOIN vecs c ON c.vec_id = cl.vec_id
         |    WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 3),
         |fcells AS (
         |  SELECT cells.vec_id, cells.cell, lab.label, cells.v, cells.nrm
         |  FROM cells JOIN lab USING (vec_id)),
         |ap AS (
         |  SELECT q_id, n_id AS a_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
         |        AS rank
         |    FROM fcells q JOIN fcells c
         |      ON q.cell = c.cell AND q.label = c.label
         |        AND q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 8)
         |  WHERE rank <= 3)
         |SELECT ex.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.a_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  CAST(SUM(CASE WHEN ap.a_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) / COUNT(*) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.q_id = ex.q_id AND ap.a_id = ex.n_id
         |GROUP BY ex.q_id""".stripMargin),
    "ann_lsh" -> (vecSql +
      s""", dots AS (
         |  SELECT vec_id, p,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, len(v)), i -> v[i] *
         |        (${md5LongSql("'p_' || p || '_' || (i - 1)")}::DOUBLE
         |          / CAST(72057594037927936 AS DOUBLE) - 0.5))),
         |      (a, x) -> a + x) AS dot
         |  FROM vecs, generate_series(0, 5) t(p)),
         |buckets AS (
         |  SELECT d.vec_id,
         |    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket,
         |    ANY_VALUE(vecs.v) AS v, ANY_VALUE(vecs.nrm) AS nrm
         |  FROM dots d JOIN vecs ON vecs.vec_id = d.vec_id
         |  GROUP BY d.vec_id),
         |pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cosSql AS cos
         |  FROM buckets q, buckets c
         |  WHERE q.vec_id < 8 AND q.bucket = c.bucket AND q.vec_id <> c.vec_id)
         |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM pairs)
         |WHERE rank <= 3""".stripMargin))
}
