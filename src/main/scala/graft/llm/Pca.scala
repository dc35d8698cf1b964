package graft.llm

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding column — the covariance-spectrum
  * quality gate a curation pipeline reads before trusting cosine
  * geometry (a top component explaining most of the variance means the
  * embedding space is nearly rank-1 and semantic dedup / ANN recall
  * claims are hollow; reference consumers meet the same payload-column
  * statistics problem through their schema'd record values,
  * schema-registry KopAvroSchema paths).
  *
  * FIXED-POINT DESIGN (engine-portable): every arithmetic step after
  * the one deterministic quantization (q = floor(x·2^14 + 0.5), an
  * IEEE-exact multiply/add/floor both engines share) is integer-exact —
  * integer sums are order-independent, so the whole eigensolve is
  * bit-identical in any engine with 128-bit integers and the DuckDB
  * oracle checks it hash-exactly (HUGEINT mirrors DECIMAL(38,0)).
  * Division is everywhere the shared truncate-toward-zero TDIV
  * (sign·(|a| div b)), spelled once per engine.
  *
  * Magnitude budget (all bounds kept under DECIMAL(38) ≈ 1.7e38 HUGEINT):
  * q ≤ 2^14·max|x|; gram ≤ n·2^28 (Long-safe in the aggregator buffer to
  * n = 2^35 vectors — 34 billion, past 100 TB of 64-d embeddings);
  * scaled covariance C = n·gram − s·s' ≤ n²·2^28 ≤ 2^98; rescale
  * dividend C·2^24 ≤ 2^122; squaring terms ≤ 2^48, row sums ≤ 2^54;
  * quad form ≤ 2^72; deflation product ≤ 2^96. Every TDIV quotient is
  * ≤ 2^54, inside Spark's BIGINT `div` result.
  *
  * Scale design (100 TB): the ONLY data-sized pass is a one-shot
  * moment aggregation (gram + sum + count) through a typed
  * [[Aggregator]] with an Array[Long] buffer — map-side combined, so
  * the shuffle carries one (d^2+d+1)-long buffer per partition.
  * Everything after — covariance assembly, the squaring
  * eigen-iteration, eigenvalue and trace, deflation for the second
  * component — runs on the d^2-row checkpointed covariance frame:
  * metadata, never data. No driver-side collect anywhere.
  */
object Pca {

  /** Embedding width of the corpus (embeddings.parquet is d=64). The
    * aggregator fails loudly on any other width rather than silently
    * truncating.
    */
  private val Dim = 64

  /** Quantization scale 2^14: q = floor(x·S + 0.5). */
  private val S = 16384L

  /** Matrix fixed point 2^24: rescaled matrices have max|entry| = F. */
  private val F = 16777216L

  /** Vector fixed point 2^18: rescaled vectors have max|w| = VF. */
  private val VF = 262144L

  /** Repeated-squaring rounds: M^256, residual decays (λ2/λ1)^256. */
  private val SqRounds = 8

  /** Parts-per-billion scale for the explained-variance ratios. */
  private val Ppb = 1000000000L

  /** Truncate-toward-zero division as SQL — the ONE spelling of the
    * fixed-point division contract (DuckDB's `//` and Spark's `div`
    * agree on trunc-toward-zero, but the oracle spells the sign split
    * explicitly so the contract never rests on an engine default).
    * Operands are cast to DECIMAL(38,0) so the dividend never overflows;
    * `div` returns BIGINT (every quotient here is ≤ 2^54).
    */
  private def tdiv(a: String, b: String): String = {
    val ad = s"CAST($a AS DECIMAL(38,0))"
    val bd = s"CAST($b AS DECIMAL(38,0))"
    s"(CASE WHEN $ad < 0 THEN -((-$ad) div $bd) ELSE $ad div $bd END)"
  }

  /** One-pass integer moment accumulator over the quantized corpus:
    * buffer = [gram (d·d) | sum (d) | n], all exact Longs (gram ≤ n·2^28,
    * Long-safe to n = 2^35 vectors).
    */
  private class IntMomentAgg(d: Int)
      extends Aggregator[Seq[Double], Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](d * d + d + 1)
    def reduce(b: Array[Long], x: Seq[Double]): Array[Long] = {
      require(x.length == d, s"embedding width ${x.length}, expected $d")
      val qa = new Array[Long](d)
      var k = 0
      while (k < d) {
        val q = math.floor(x(k) * 16384.0 + 0.5).toLong
        // Loud guard on the magnitude budget (header comment): the whole
        // fixed-point ledger — gram Long-safety to n = 2^35, bucketSql's
        // |proj| < 2^44 floor-division shift — assumes |x| ≤ ~1 so
        // |q| ≤ 2^14. A margin of 4x (|x| ≤ 4) keeps every bound intact
        // (proj ≤ 64·2^16·2^18 = 2^40 < 2^44); beyond that the arithmetic
        // would silently mis-bucket, so fail loudly instead.
        require(math.abs(q) <= (S << 2),
          s"embedding component $q exceeds fixed-point budget |q| <= 2^16 " +
            s"(|x| <= 4); rescale the corpus or widen S")
        qa(k) = q; k += 1
      }
      var r = 0
      while (r < d) {
        val qr = qa(r); val off = r * d; var c = 0
        while (c < d) { b(off + c) += qr * qa(c); c += 1 }
        b(d * d + r) += qr
        r += 1
      }
      b(d * d + d) += 1L
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** The single data-sized pass, fingerprint-cached: the posexploded
    * (d^2+d+1)-row integer moment frame both components derive from.
    */
  private def moments(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Pca.moments") {
      val agg = udaf(new IntMomentAgg(Dim), ExpressionEncoder[Seq[Double]]())
      Embeddings.withNorm(spark, dir)
        .agg(agg(col("v")).as("m"))
        .select(posexplode(col("m")).as(Seq("idx", "mv")))
        .select(col("idx").cast("long").as("idx"), col("mv"))
        .localCheckpoint()
    }

  /** The 1-row corpus-size frame from the cached moments. */
  private def nOf(m: DataFrame): DataFrame =
    m.filter(col("idx") === lit(Dim.toLong * Dim + Dim))
      .select(col("mv").as("n"))

  /** Scaled integer covariance C_ij = n·gram_ij − s_i·s_j (= n²·S²·cov,
    * eigenvector-preserving), as a checkpointed d^2-row DECIMAL(38,0)
    * frame derived from the cached moments. Exact — no division.
    */
  private def covOf(m: DataFrame): DataFrame = {
    val d = Dim
    val n = nOf(m)
    val sums = m
      .filter(col("idx") >= lit(d.toLong * d) && col("idx") < lit(d.toLong * d + d))
      .select((col("idx") - lit(d.toLong * d)).as("i"), col("mv").as("s"))
    m.filter(col("idx") < lit(d.toLong * d))
      .select(expr(s"idx div $d").as("i"), expr(s"idx % $d").as("j"),
        col("mv").as("g"))
      .crossJoin(broadcast(n))
      .join(broadcast(sums.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))), "j")
      .select(col("i"), col("j"),
        (col("n").cast("decimal(38,0)") * col("g") -
          col("si").cast("decimal(38,0)") * col("sj")).as("c"))
      .localCheckpoint()
  }

  /** Rescale a (i, j, c) matrix frame to max|entry| = F via TDIV — the
    * overflow guard between squarings (entries come out as BIGINT).
    * GREATEST(·,1) keeps the all-zero (degenerate-corpus) matrix from
    * dividing by zero; it passes through as all zeros.
    */
  private def rescaled(m: DataFrame): DataFrame = {
    val mx = m.agg(greatest(max(abs(col("c"))).cast("decimal(38,0)"),
      lit(1L).cast("decimal(38,0)")).as("mx"))
    m.crossJoin(broadcast(mx))
      .select(col("i"), col("j"),
        // cast BEFORE the multiply: post-squaring entries reach 2^54 and
        // c·F would overflow BIGINT if multiplied in the native type
        expr(tdiv(s"CAST(c AS DECIMAL(38,0)) * $F", "mx")).as("c"))
  }

  /** Rescale a (i, y) vector frame to max|w| = VF via TDIV. */
  private def vrescaled(v: DataFrame): DataFrame = {
    val mx = v.agg(greatest(max(abs(col("y"))).cast("decimal(38,0)"),
      lit(1L).cast("decimal(38,0)")).as("mx"))
    v.crossJoin(broadcast(mx))
      // polish mat-vec outputs reach 2^48; cast before the 2^18 multiply
      .select(col("i"), expr(tdiv(s"CAST(y AS DECIMAL(38,0)) * $VF", "mx"))
        .as("w"))
  }

  /** Dominant eigenvector of a symmetric d^2-row integer matrix frame,
    * as the sign-canonicalized fixed-point (i, w) frame with
    * max|w| = VF: repeated squaring gives M^256 so the residual decays
    * like (λ2/λ1)^256; each squaring is a d^2-row self-join with TDIV
    * rescaling to F (eigenvectors are scale-free, and integer rescale
    * keeps products ≤ 2^48). The best-conditioned row of M^256 (largest
    * diagonal, lowest index on ties) seeds two exact polish mat-vecs
    * with the rescaled ORIGINAL matrix `base`. Sign: the largest-|w|
    * entry (lowest dim on ties) is made positive. Integer-exact
    * throughout, so the DuckDB oracle replays it bit-for-bit.
    */
  private def principal(base: DataFrame): DataFrame = {
    var m = base
    var round = 0
    while (round < SqRounds) {
      m = rescaled(
        m.as("a").join(m.as("b"), col("a.j") === col("b.i"))
          .groupBy(col("a.i").as("i"), col("b.j").as("j"))
          .agg(sum(col("a.c") * col("b.c")).as("c")))
        .localCheckpoint()
      round += 1
    }
    val rsel = m.filter(col("i") === col("j"))
      .agg(max_by(col("i"), struct(col("c"), -col("i"))).as("r"))
    var v = vrescaled(
      m.join(broadcast(rsel), col("i") === col("r"))
        .select(col("j").as("i"), col("c").as("y")))
      .localCheckpoint()
    round = 0
    while (round < 2) {
      v = vrescaled(
        base.join(broadcast(v.select(col("i").as("j"), col("w"))), "j")
          .groupBy("i").agg(sum(col("c") * col("w")).as("y")))
        .localCheckpoint()
      round += 1
    }
    val sgn = v
      .agg(max_by(col("w"), struct(abs(col("w")), -col("i"))).as("wpeak"))
      .select(when(col("wpeak") < 0L, lit(-1L)).otherwise(lit(1L)).as("s"))
    v.crossJoin(broadcast(sgn))
      .select(col("i"), (col("w") * col("s")).as("w"))
      .localCheckpoint()
  }

  /** Integer quadratic form Σ c·w_i·w_j of a fixed-point (i, w) frame
    * against a rescaled matrix — numerator of the Rayleigh quotient
    * (≤ 2^72, in DECIMAL(38,0)).
    */
  private def quadForm(cn: DataFrame, v: DataFrame): DataFrame =
    cn
      .join(broadcast(v.select(col("i"), col("w").as("wi"))), "i")
      .join(broadcast(v.select(col("i").as("j"), col("w").as("wj"))), "j")
      .agg(sum(col("c").cast("decimal(38,0)") * col("wi") * col("wj"))
        .as("num"))

  /** Σ w² of a fixed-point vector frame (≤ 2^42, Long-safe). */
  private def sumSq(v: DataFrame): DataFrame =
    v.agg(greatest(sum(col("w") * col("w")), lit(1L)).as("den"))

  /** Top principal component of the quantized embedding covariance, as
    * engine-portable integers: per dimension the fixed-point component
    * weight (max|w| = 2^18, sign-canonicalized: the largest-|w| entry,
    * lowest dim on ties, is made positive), the Rayleigh eigenvalue in
    * rescaled-covariance units, the explained-variance ratio in parts
    * per billion, and the corpus size on every row. Hash-exact vs the
    * DuckDB oracle — the eigensolve is integer arithmetic end to end.
    */
  def pcaTopComponent(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Pca.fit") {
      val m = moments(spark, dir)
      val n = nOf(m)
      val cn = rescaled(covOf(m)).localCheckpoint()
      val v = principal(cn)
      val num = quadForm(cn, v)
      val den = sumSq(v)
      val trace = cn.filter(col("i") === col("j"))
        .agg(greatest(sum("c"), lit(1L)).as("tr"))
      v.crossJoin(broadcast(num))
        .crossJoin(broadcast(den))
        .crossJoin(broadcast(trace))
        .crossJoin(broadcast(n))
        .select(col("i").as("dim"), col("w").as("component_fp"),
          expr(tdiv("num", "den")).as("eigenvalue_fp"),
          expr(tdiv(s"${tdiv("num", "den")} * $Ppb", "tr"))
            .as("explained_ppb"),
          col("n").as("n_vecs"))
        .localCheckpoint()
    }

  /** Second principal component by integer deflation: the same squaring
    * eigensolve run on C2·F = Cn·F − TDIV(num·t, den) with
    * t = TDIV(w_i·w_j·F, den) (the fixed-point λ·vv'/(v'v) subtraction,
    * exact to one TDIV unit), with the eigenvalue as the Rayleigh
    * quotient against the ORIGINAL rescaled covariance and the
    * cumulative top-2 explained ratio in ppb on every row — the "is the
    * space rank-2" refinement of the rank-1 gate, and the axis pair the
    * 2-d separability grid projects onto. Deflation is exact for
    * symmetric matrices (C2's spectrum is C's with λ1 zeroed), so the
    * dominant direction of C2 IS the second component of C. Everything
    * runs on metadata frames; the data pass is the shared cached moment
    * aggregation. Hash-exact vs the DuckDB oracle.
    */
  def pcaSecondComponent(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "embeddings", "Pca.second") {
      val m = moments(spark, dir)
      val n = nOf(m)
      val cn = rescaled(covOf(m)).localCheckpoint()
      val top = pcaTopComponent(spark, dir)
      val v1 = top.select(col("dim").as("i"), col("component_fp").as("w"))
      val lam1 = top.agg(max("eigenvalue_fp").as("lam1"))
      val num1 = quadForm(cn, v1)
      val den1 = sumSq(v1)
      val cov2 = cn
        .join(broadcast(v1.select(col("i"), col("w").as("w1i"))), "i")
        .join(broadcast(v1.select(col("i").as("j"), col("w").as("w1j"))),
          "j")
        .crossJoin(broadcast(num1))
        .crossJoin(broadcast(den1))
        .select(col("i"), col("j"),
          (col("c") * lit(F) -
            expr(tdiv(s"num * ${tdiv(s"w1i * w1j * $F", "den")}", "den")))
            .as("c"))
        .localCheckpoint()
      val v2 = principal(rescaled(cov2).localCheckpoint())
      val num2 = quadForm(cn, v2)
      val den2 = sumSq(v2)
      val trace = cn.filter(col("i") === col("j"))
        .agg(greatest(sum("c"), lit(1L)).as("tr"))
      v2.crossJoin(broadcast(num2))
        .crossJoin(broadcast(den2))
        .crossJoin(broadcast(lam1))
        .crossJoin(broadcast(trace))
        .crossJoin(broadcast(n))
        .select(col("i").as("dim"), col("w").as("component_fp"),
          expr(tdiv("num", "den")).as("eigenvalue_fp"),
          expr(tdiv(s"${tdiv("num", "den")} * $Ppb", "tr"))
            .as("explained_ppb"),
          expr(tdiv(s"(lam1 + ${tdiv("num", "den")}) * $Ppb", "tr"))
            .as("cum_explained_ppb"),
          col("n").as("n_vecs"))
        .localCheckpoint()
    }

  /** The quantized corpus: (vec_id, label, qv array<bigint>) — the same
    * floor(x·S + 0.5) quantization the moment pass applies in-row.
    */
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    Embeddings.withNorm(spark, dir)
      .select(col("vec_id"), col("label"),
        expr(s"transform(v, x -> CAST(floor(x * ${S}D + 0.5D) AS BIGINT))")
          .as("qv"))

  /** The cached component folded to ONE broadcast array row. */
  private def compRow(c: DataFrame, as: String): DataFrame =
    c.agg(expr("transform(array_sort(collect_list(struct(dim, " +
      "component_fp))), s -> s.component_fp)").as(as))

  /** Integer floor-division bucket of a projection: projections are
    * bounded |p| < 2^44, so TDIV(p + 2^44, width) − 2^44/width is exact
    * floor division (the shift moves p into non-negative territory
    * where truncation IS floor) — the same arithmetic in both engines.
    * The bound is enforced at the one quantization site (IntMomentAgg /
    * quantized share the floor(x·S + 0.5) contract; the reduce guard
    * caps |q| ≤ 2^16, so |proj| ≤ 64·2^16·VF = 2^40 < 2^44) — an
    * out-of-range corpus fails loudly there, never mis-buckets here.
    */
  private def bucketSql(p: String, width: Long): String =
    s"(${tdiv(s"$p + ${1L << 44}", width.toString)} - ${(1L << 44) / width})"

  /** Projection width of one unit of cosine geometry: S·VF = 2^32. */
  private val ProjUnit = S * VF

  /** Projection histogram along the top component: per label, vector
    * counts in width-1/16 projection buckets (integer width 2^28 of the
    * 2^32 fixed-point projection unit) — the separability view a
    * curation pipeline reads next to the spectrum (labels whose
    * projections separate along the top axis mean one principal
    * direction encodes the label; fully overlapping histograms mean the
    * axis is label-neutral). The cached component folds to ONE
    * broadcast array row, so scoring is an in-row integer dot product
    * over a single scan — no explode, no join shuffle; the rollup is
    * |labels|·|buckets| rows. Integer-exact, hash-exact vs the oracle.
    */
  def pcaProjectionHist(spark: SparkSession, dir: String): DataFrame = {
    val comp = compRow(pcaTopComponent(spark, dir), "comp")
    quantized(spark, dir)
      .crossJoin(broadcast(comp))
      .withColumn("proj", expr(
        "aggregate(sequence(0, 63), 0L, (acc, k) -> acc + qv[k] * comp[k])"))
      .withColumn("bucket", expr(bucketSql("proj", ProjUnit / 16)))
      .groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"),
        min("proj").as("min_proj"), max("proj").as("max_proj"))
  }

  /** 2-d separability grid in the top-2 principal plane: per label,
    * vector counts in (width-1/8 × width-1/8) projection cells along
    * (v1, v2) (integer width 2^29) — the scatter a curation review
    * actually plots, reduced to a frame (labels that overlap along v1
    * alone may separate in the plane; a label smeared across the whole
    * grid marks encoder noise). Both cached components fold to ONE
    * broadcast two-array row, so scoring is two in-row integer dot
    * products over a single scan — no explode, no join shuffle; the
    * rollup is |labels|·|cells| rows. Integer-exact, hash-exact.
    */
  def pcaScatter2d(spark: SparkSession, dir: String): DataFrame = {
    val c1 = compRow(pcaTopComponent(spark, dir), "c1")
    val c2 = compRow(pcaSecondComponent(spark, dir)
      .select(col("dim"), col("component_fp")), "c2")
    quantized(spark, dir)
      .crossJoin(broadcast(c1))
      .crossJoin(broadcast(c2))
      .withColumn("b1", expr(bucketSql(
        "aggregate(sequence(0, 63), 0L, (acc, k) -> acc + qv[k] * c1[k])",
        ProjUnit / 8)))
      .withColumn("b2", expr(bucketSql(
        "aggregate(sequence(0, 63), 0L, (acc, k) -> acc + qv[k] * c2[k])",
        ProjUnit / 8)))
      .groupBy("label", "b1", "b2")
      .agg(count(lit(1)).as("n_vecs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pca_top_component" -> pcaTopComponent,
    "pca_second_component" -> pcaSecondComponent,
    "pca_projection_hist" -> pcaProjectionHist,
    "pca_scatter_2d" -> pcaScatter2d)

  // ---------------------------------------------------------------------
  // DuckDB oracle: the identical fixed-point eigensolve in SQL. TDIV is
  // spelled with an explicit sign split over `//` (trunc-toward-zero on
  // non-negatives in every engine); BIGINT sums auto-promote to HUGEINT,
  // mirroring the Spark side's DECIMAL(38,0) casts.
  // ---------------------------------------------------------------------

  private def oTdiv(a: String, b: String): String =
    s"(CASE WHEN ($a) < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END)"

  /** The shared moment + rescaled-covariance prefix: ends with
    * `c0(i, j, c)` (max|c| = F), `nn(n)`.
    */
  private val covSql =
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $S + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |dims AS MATERIALIZED (SELECT unnest(generate_series(1, $Dim)) AS k),
       |gram AS MATERIALIZED (
       |  SELECT a.k - 1 AS i, b.k - 1 AS j,
       |    SUM(CAST(q[a.k] AS HUGEINT) * q[b.k]) AS g
       |  FROM qv, dims a, dims b GROUP BY 1, 2),
       |sv AS MATERIALIZED (
       |  SELECT a.k - 1 AS i, SUM(CAST(q[a.k] AS HUGEINT)) AS s
       |  FROM qv, dims a GROUP BY 1),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM qv),
       |cov AS MATERIALIZED (
       |  SELECT g.i, g.j, nn.n * g.g - si.s * sj.s AS c
       |  FROM gram g, nn, sv si, sv sj WHERE si.i = g.i AND sj.i = g.j),
       |c0m AS MATERIALIZED (SELECT GREATEST(MAX(abs(c)), 1) AS m FROM cov),
       |c0 AS MATERIALIZED (SELECT i, j, ${oTdiv(s"c * $F", "m")} AS c FROM cov, c0m)
       |""".stripMargin

  /** The eigensolve chain on matrix CTE `mat`, emitting prefixed CTEs
    * and ending with `<p>vf(i, w)`, `<p>num(num)`, `<p>den(den)` — the
    * SQL mirror of [[principal]] + [[quadForm]] + [[sumSq]] (Rayleigh
    * numerator/denominator taken against `c0`, the original rescaled
    * covariance).
    */
  private def eigSql(p: String, mat: String): String = {
    val sq = (1 to SqRounds).map { r =>
      val prev = if (r == 1) mat else s"${p}s${r - 1}r"
      s""",${p}s$r AS MATERIALIZED (
         |  SELECT a.i, b.j, SUM(a.c * b.c) AS c
         |  FROM $prev a JOIN $prev b ON a.j = b.i GROUP BY 1, 2),
         |${p}s${r}m AS MATERIALIZED (SELECT GREATEST(MAX(abs(c)), 1) AS m FROM ${p}s$r),
         |${p}s${r}r AS MATERIALIZED (
         |  SELECT i, j, ${oTdiv(s"c * $F", "m")} AS c FROM ${p}s$r, ${p}s${r}m)""".stripMargin
    }.mkString("\n")
    val polish = (1 to 2).map { r =>
      val prev = if (r == 1) s"${p}v0r" else s"${p}p${r - 1}r"
      s""",${p}p$r AS MATERIALIZED (
         |  SELECT $mat.i AS i, SUM(CAST($mat.c AS HUGEINT) * w) AS y
         |  FROM $mat JOIN $prev ON $mat.j = $prev.i GROUP BY 1),
         |${p}p${r}m AS MATERIALIZED (SELECT GREATEST(MAX(abs(y)), 1) AS m FROM ${p}p$r),
         |${p}p${r}r AS MATERIALIZED (
         |  SELECT i, ${oTdiv(s"y * $VF", "m")} AS w FROM ${p}p$r, ${p}p${r}m)""".stripMargin
    }.mkString("\n")
    s"""$sq
       |,${p}rsel AS MATERIALIZED (
       |  SELECT i AS r FROM ${p}s${SqRounds}r WHERE i = j
       |  ORDER BY c DESC, i LIMIT 1),
       |${p}v0 AS MATERIALIZED (
       |  SELECT j AS i, c AS y FROM ${p}s${SqRounds}r, ${p}rsel
       |  WHERE ${p}s${SqRounds}r.i = ${p}rsel.r),
       |${p}v0m AS MATERIALIZED (SELECT GREATEST(MAX(abs(y)), 1) AS m FROM ${p}v0),
       |${p}v0r AS MATERIALIZED (SELECT i, ${oTdiv(s"y * $VF", "m")} AS w FROM ${p}v0, ${p}v0m)
       |$polish
       |,${p}sgn AS MATERIALIZED (
       |  SELECT CASE WHEN w < 0 THEN -1 ELSE 1 END AS s FROM ${p}p2r
       |  ORDER BY abs(w) DESC, i LIMIT 1),
       |${p}vf AS MATERIALIZED (SELECT i, w * s AS w FROM ${p}p2r, ${p}sgn),
       |${p}num AS MATERIALIZED (
       |  SELECT SUM(CAST(c0.c AS HUGEINT) * a.w * b.w) AS num
       |  FROM c0 JOIN ${p}vf a ON c0.i = a.i JOIN ${p}vf b ON c0.j = b.i),
       |${p}den AS MATERIALIZED (SELECT GREATEST(SUM(CAST(w AS HUGEINT) * w), 1) AS den
       |  FROM ${p}vf)
       |""".stripMargin
  }

  private val traceSql =
    ",tr AS MATERIALIZED (SELECT GREATEST(SUM(c), 1) AS t FROM c0 WHERE i = j)"

  private val topChainSql = covSql + eigSql("t", "c0") + traceSql

  private val topSelectSql =
    s"""SELECT tvf.i AS dim, CAST(tvf.w AS BIGINT) AS component_fp,
       |  CAST(${oTdiv("num", "den")} AS BIGINT) AS eigenvalue_fp,
       |  CAST(${oTdiv(s"${oTdiv("num", "den")} * $Ppb", "t")} AS BIGINT)
       |    AS explained_ppb,
       |  nn.n AS n_vecs
       |FROM tvf, tnum, tden, tr, nn""".stripMargin

  /** Deflation + second eigensolve, appended after the top chain: ends
    * with `dvf/dnum/dden` and the `lam1(l1)` scalar.
    */
  private val secondChainSql = {
    val t = oTdiv(s"CAST(a.w AS HUGEINT) * b.w * $F", "den")
    s""",lam1 AS MATERIALIZED (SELECT ${oTdiv("num", "den")} AS l1 FROM tnum, tden)
       |,cov2 AS MATERIALIZED (
       |  SELECT c0.i, c0.j,
       |    CAST(c0.c AS HUGEINT) * $F - ${oTdiv(s"num * $t", "den")} AS c
       |  FROM c0 JOIN tvf a ON c0.i = a.i JOIN tvf b ON c0.j = b.i,
       |    tnum, tden),
       |c2m AS MATERIALIZED (SELECT GREATEST(MAX(abs(c)), 1) AS m FROM cov2),
       |c2 AS MATERIALIZED (SELECT i, j, ${oTdiv(s"c * $F", "m")} AS c FROM cov2, c2m)
       |""".stripMargin + eigSql("d", "c2")
  }

  private val secondSelectSql =
    s"""SELECT dvf.i AS dim, CAST(dvf.w AS BIGINT) AS component_fp,
       |  CAST(${oTdiv("num", "den")} AS BIGINT) AS eigenvalue_fp,
       |  CAST(${oTdiv(s"${oTdiv("num", "den")} * $Ppb", "t")} AS BIGINT)
       |    AS explained_ppb,
       |  CAST(${oTdiv(s"(l1 + ${oTdiv("num", "den")}) * $Ppb", "t")} AS BIGINT)
       |    AS cum_explained_ppb,
       |  nn.n AS n_vecs
       |FROM dvf, dnum, dden, lam1, tr, nn""".stripMargin

  private def oBucket(p: String, width: Long): String =
    s"(${oTdiv(s"$p + ${1L << 44}", width.toString)} - ${(1L << 44) / width})"

  private val projSql = (c: String) =>
    s"""CAST(list_sum(list_transform(generate_series(1, $Dim),
       |  k -> q[k] * $c[k])) AS BIGINT)""".stripMargin

  private val histSql =
    topChainSql +
      s""",comp AS MATERIALIZED (SELECT list(w ORDER BY i) AS cw FROM tvf)
         |SELECT label,
         |  CAST(${oBucket("proj", ProjUnit / 16)} AS BIGINT) AS bucket,
         |  COUNT(*) AS n_vecs, MIN(proj) AS min_proj, MAX(proj) AS max_proj
         |FROM (SELECT label, ${projSql("cw")} AS proj FROM qv, comp)
         |GROUP BY 1, 2""".stripMargin

  private val scatterSql =
    topChainSql + secondChainSql +
      s""",comp1 AS MATERIALIZED (SELECT list(w ORDER BY i) AS c1 FROM tvf),
         |comp2 AS MATERIALIZED (SELECT list(w ORDER BY i) AS c2 FROM dvf)
         |SELECT label,
         |  CAST(${oBucket("p1", ProjUnit / 8)} AS BIGINT) AS b1,
         |  CAST(${oBucket("p2", ProjUnit / 8)} AS BIGINT) AS b2,
         |  COUNT(*) AS n_vecs
         |FROM (SELECT label, ${projSql("c1")} AS p1, ${projSql("c2")} AS p2
         |      FROM qv, comp1, comp2)
         |GROUP BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "pca_top_component" -> (topChainSql + topSelectSql),
    "pca_second_component" -> (topChainSql + secondChainSql + secondSelectSql),
    "pca_projection_hist" -> histSql,
    "pca_scatter_2d" -> scatterSql)
}
