package graft.llm

import graft.Tables.t
import graft.functions.Parity._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication at 100 TB scale.
  *
  * Every variant avoids O(n^2): candidate pairs come from equi-joins on
  * hash-derived blocking keys (LSH bands, simhash chunks, metadata blocks),
  * so the only shuffle is on a uniform hash key. All hashing is md5-based —
  * bit-identical in DuckDB — so the oracle reproduces candidates exactly.
  */
object Dedup {

  /** Exact dedup: md5(text) as identity; keep the smallest doc_id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Bloom-filter dedup frame (the bounded-memory streaming alternative to
    * the full groupBy(md5) shuffle — at 100 TB an exact dedup shuffles the
    * corpus, a Bloom filter scans it once with O(m) state): k=4
    * deterministic md5-derived bit positions per doc in an m-bit filter,
    * docs inserted in doc_id order. A doc is `flagged` when ALL four of its
    * bits were first set by strictly earlier docs (identical texts share
    * all bits, so true dups are always flagged — the filter has no false
    * negatives); `is_dup` is the exact-identity truth (earlier doc with the
    * same md5(text)). One frame per m in `ms`, columns
    * (m_bits, doc_id, source, flagged, is_dup).
    *
    * Scale: no pairwise join anywhere — the corpus-sized bit fan is 4n
    * rows ONCE at the [[BloomM]] grain regardless of |ms| (all filter
    * sizes divide M, so every m derives by metadata re-aggregation), and
    * every data-sized stage shuffles on a uniform hash key (the bit,
    * then doc_id); the plan is linear in n where the real filter would
    * be a single pass. Ref: the reference dedupes only by offset/key
    * compaction (PartitionLog compact); this is the training-data
    * sibling per brief.
    */
  /** The master Bloom grain: every filter size the family uses (1024 ..
    * 262144, all powers of two) divides it, so bit_m(x) = bit_M(x) mod m
    * and every m-grain filter derives from ONE M-grain aggregation by a
    * metadata-sized re-aggregation — the bit fan over the corpus is 4n
    * rows ONCE, not 4·|ms|·n.
    */
  private[graft] val BloomM = 262144

  /** The one 4n-row bit fan at the [[BloomM]] grain (k = 4 hashes per
    * doc, the family's exact md5 spelling), shared by [[bloomVerdicts]]
    * and [[bloomDeltaFilter]] so the filter geometry cannot drift.
    */
  private def bitsAtM(docs: DataFrame, extraCols: Column*): DataFrame =
    docs.select(col("doc_id") +: extraCols :+ explode(expr(
      s"""transform(sequence(0, 3), j ->
         |  cast(conv(substring(md5(concat('bloom#', j, '#', text)),
         |    1, 14), 16, 10) AS bigint) % $BloomM)""".stripMargin))
      .as("bit_M"): _*)

  private[graft] def bloomVerdicts(spark: SparkSession, dir: String,
      ms: Seq[Int]): DataFrame = {
    // the per-m derivation bit_m = bit_M mod m is only a valid Bloom
    // filter of size m when m divides the fan grain
    require(ms.forall(m => m > 0 && BloomM % m == 0),
      s"filter sizes must divide BloomM=$BloomM, got ${ms.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val ex = docs
      .withColumn("is_dup",
        min("doc_id").over(Window.partitionBy(md5(col("text")))) <
          col("doc_id"))
      .select("doc_id", "source", "is_dup")
    // ONE data-sized fan (4n bit rows) at the M grain; the per-m
    // first-setter tables are fs_m[b] = min over {B ≡ b (mod m)} fs_M[B]
    // — a window over the ≤ M-row first-setter frame per m, then ONE
    // broadcast join back onto the 4n rows carries every m's answer.
    val bitsM = bitsAtM(docs)
    val fsM = bitsM.groupBy("bit_M").agg(min("doc_id").as("fs_M"))
    // m == M needs no window (bit_M % M = bit_M, a one-row partition);
    // the M-grain column is dropped so the broadcast carries only the
    // |ms| first-setter columns
    val lut = ms.foldLeft(fsM) { (f, m) =>
      if (m == BloomM) f.withColumn(s"fs_$m", col("fs_M"))
      else f.withColumn(s"fs_$m", min("fs_M").over(
        Window.partitionBy(pmod(col("bit_M"), lit(m.toLong)))))
    }.drop("fs_M")
    val flaggedAggs = ms.map(m =>
      (max(col(s"fs_$m")) < col("doc_id")).as(s"flagged_$m"))
    bitsM.join(broadcast(lut), "bit_M")
      .groupBy("doc_id")
      .agg(flaggedAggs.head, flaggedAggs.tail: _*)
      // the |ms|-way fan happens HERE, on the n-row verdict grain the
      // output contract requires — never on the bit rows
      .select(col("doc_id"), explode(expr(s"array(${ms.map(m =>
        s"struct(cast($m AS int) AS m_bits, flagged_$m AS flagged)")
        .mkString(", ")})")).as("x"))
      .select(col("doc_id"), col("x.m_bits"), col("x.flagged"))
      .join(ex, "doc_id")
  }

  /** Bloom dedup verdicts per source at a deliberately tight m=4096 (the
    * under-provisioned filter a pipeline actually debugs): TRUE_DUP (exact
    * dup, always flagged), FALSE_POS (flagged but unique — the filter's
    * collision cost, concentrated in whichever sources hash unluckily),
    * UNIQUE.
    */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame =
    bloomVerdicts(spark, dir, Seq(4096))
      .withColumn("verdict", expr(
        """CASE WHEN is_dup THEN 'TRUE_DUP'
          |     WHEN flagged THEN 'FALSE_POS' ELSE 'UNIQUE' END"""
          .stripMargin))
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_docs"))

  /** Incremental-ingest membership screen: the base corpus (dedup_delta's
    * 90% split — SAME md5 coin, so the two delta views agree on who is an
    * arrival) builds a UNION Bloom filter (every base doc's bits OR-ed,
    * order-free — the form per-executor filters merge into), and each
    * arrival tests all four of its bits against it. Per filter size m:
    * the fill fraction, arrivals flagged as already-seen, exact
    * truth (arrival text present in the base), and the false-positive
    * cost — the sizing table an ingest pipeline reads before screening
    * today's crawl against yesterday's corpus without re-shuffling it.
    *
    * Scale: the corpus-sized bit fan is 4n rows ONCE at the [[BloomM]]
    * grain (every m divides M, so each m's filter is a metadata-sized
    * projection of the M-grain set); the filter content is bounded by M
    * regardless of corpus size, so the membership lookup broadcasts; the
    * exact-truth check is one hash equi-join on md5(text). No pairwise
    * work anywhere.
    */
  def bloomDeltaFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    import org.apache.spark.sql.expressions.Window
    val ms = Seq(4096, 16384, 65536, 262144)
    assert(ms.forall(m => m > 0 && BloomM % m == 0),
      s"filter sizes must divide BloomM=$BloomM")
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        (md5Long(col("doc_id").cast("string")) % 10L === 0L).as("arrival"))
    // the ONE data-sized fan: 4n bit rows at the M grain (bit_m = bit_M
    // mod m since every m divides BloomM); the base filter content is
    // the ≤ M-row distinct M-grain bit set
    val bitsM = bitsAtM(docs, col("arrival"))
    val filterM = bitsM.filter(!col("arrival"))
      .select("bit_M").distinct()
    // per-m fill from the metadata-sized filter frame: distinct
    // (m, bit_M mod m) — ≤ 4·|filterM| rows, never corpus-sized
    val fill = filterM
      .select(explode(expr(s"array(${ms.map(m =>
        s"struct(cast($m AS int) AS m_bits, bit_M % $m AS bit)")
        .mkString(", ")})")).as("x"))
      .select("x.m_bits", "x.bit").distinct()
      .groupBy("m_bits").agg(count(lit(1)).as("n_set_bits"))
    // full-domain M-grain lookup (262144 rows — metadata): hit_m[B] =
    // whether ANY base bit B' ≡ B (mod m) is set; covers arrival bits
    // the base never set, which have no row in filterM
    val lut = ms.foldLeft(
      spark.range(0L, BloomM.toLong).select(col("id").as("bit_M"))
        .join(broadcast(filterM.withColumn("hit_M", lit(1L))),
          Seq("bit_M"), "left")) { (f, m) =>
      // m == M needs no window (one-row partitions); the M-grain column
      // drops below so the broadcast carries only the |ms| hit columns
      if (m == BloomM) f.withColumn(s"hit_$m",
        coalesce(col("hit_M"), lit(0L)))
      else f.withColumn(s"hit_$m", coalesce(max("hit_M").over(
        Window.partitionBy(pmod(col("bit_M"), lit(m.toLong)))), lit(0L)))
    }.drop("hit_M")
    val seen = docs.filter(col("arrival"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(docs.filter(!col("arrival")).select(md5(col("text")).as("h"))
        .distinct(), Seq("h"), "left_semi")
      .select("doc_id")
    val flaggedAggs = ms.map(m =>
      (min(col(s"hit_$m")) === 1L).as(s"flagged_$m"))
    val verdicts = bitsM.filter(col("arrival"))
      .join(broadcast(lut), "bit_M")
      .groupBy("doc_id")
      .agg(flaggedAggs.head, flaggedAggs.tail: _*)
      // |ms|-way fan on the arrival-doc grain only
      .select(col("doc_id"), explode(expr(s"array(${ms.map(m =>
        s"struct(cast($m AS int) AS m_bits, flagged_$m AS flagged)")
        .mkString(", ")})")).as("x"))
      .select(col("doc_id"), col("x.m_bits"), col("x.flagged"))
      .join(seen.withColumn("is_seen", lit(1L)), Seq("doc_id"), "left")
      .withColumn("is_seen", coalesce(col("is_seen"), lit(0L)))
    verdicts.groupBy("m_bits")
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum("is_seen").cast("long").as("n_true_seen"),
        sum(when(col("flagged") && col("is_seen") === 0L, 1L).otherwise(0L))
          .as("n_false_pos"))
      .join(fill, "m_bits")
      .withColumn("fill_bp", expr("(10000 * n_set_bits) div m_bits"))
      // n_arrivals = n_true_seen (every arrival already in the base) has
      // no unseen population to false-positive on — rate is 0, not NULL,
      // so bloom_calibration's downstream columns stay non-null
      .withColumn("fp_ppm",
        expr("""CASE WHEN n_arrivals = n_true_seen THEN 0
               |ELSE (1000000 * n_false_pos) div (n_arrivals - n_true_seen)
               |END""".stripMargin))
      .select(col("m_bits"), col("n_set_bits"), col("fill_bp"),
        col("n_arrivals"), col("n_flagged"), col("n_true_seen"),
        col("n_false_pos"), col("fp_ppm"))
  }

  /** Bloom calibration: measured union-filter false-positive rate vs the
    * analytic expectation, per filter size — the check a pipeline runs
    * before TRUSTING a filter's advertised FP budget. For a filter with
    * fill fraction p, an unseen doc false-positives when all k=4 of its
    * bits are set: expected FP = p^4, computed here in pure integers off
    * the measured fill (fill_bp^4 div 1e10 as ppm — exact on both
    * engines, no float exp). Composes [[bloomDeltaFilter]]'s frame
    * verbatim, so measurement and theory read the SAME filter.
    */
  def bloomCalibration(spark: SparkSession, dir: String): DataFrame =
    bloomDeltaFilter(spark, dir)
      .withColumn("expected_fp_ppm",
        expr("""(fill_bp * fill_bp * fill_bp * fill_bp)
               |  div 10000000000""".stripMargin))
      .withColumn("abs_err_ppm",
        expr("abs(fp_ppm - expected_fp_ppm)"))
      .select(col("m_bits"), col("fill_bp"), col("n_arrivals"),
        col("n_false_pos"), col("fp_ppm").as("measured_fp_ppm"),
        col("expected_fp_ppm"), col("abs_err_ppm"))

  /** False-positive rate vs filter size: the m-sizing curve a pipeline
    * reads before committing filter memory (fp_ppm among true-unique docs,
    * integer ppm so the oracle hash is exact). Small m saturates — at 4·n
    * insertions into 1024 bits nearly every unique doc collides — and the
    * curve shows where fp_ppm falls off.
    */
  def bloomFpCurve(spark: SparkSession, dir: String): DataFrame =
    bloomVerdicts(spark, dir, Seq(1024, 4096, 16384, 65536, 262144))
      .groupBy("m_bits")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flagged") && !col("is_dup"), 1L).otherwise(0L))
          .as("n_false_pos"))
      .withColumn("fp_ppm",
        expr("(1000000 * n_false_pos) div (n_docs - n_exact_dup)"))

  /** Shared LSH candidate pipeline: hashed shingle sets (one md5 per
    * shingle + 24 universal hashes h_j(x) = (a_j*x + b_j) mod p), 6x4
    * banding, a 50-doc bucket cap (a band signature shared by hundreds of
    * docs has no selectivity and would turn the pair join quadratic — at
    * sf0.1 six such buckets held 83% of all candidate pairs), and the
    * distinct candidate pairs — one definition for verifier, estimator,
    * and clusterer so the LSH parameters cannot drift apart.
    *
    * One cached (shingles+signatures, candidate pairs) pipeline per
    * (session, dir), shared by the four minhash-family queries
    * (verifier, estimator, containment, clusterer) — the banding window +
    * self-join + distinct is the expensive stage and is identical for all
    * of them, so repeated invocations reuse one materialization (the
    * frame-cache budget evicts it under pressure).
    */
  private def lshCandidates(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (sigs, cand) = graft.FrameCache.get(spark, dir, "documents", "Dedup.lsh") {
      val s = t(spark, dir, "documents")
        .filter(length(col("text")) >= 5)
        .select(col("doc_id"), expr("gram_hashes(text, 5, 2147483647)").as("hs"))
        .withColumn("sig", expr("minhash_sig(hs)"))
        // data-sized frames persist SERIALIZED (the embeddings/basket
        // precedent): evictable under the budget, no object-graph pin
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      (s, bandPairs(s).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    }
    (sigs.select("doc_id", "hs"), sigs, cand)
  }

  /** The (doc_id, band, bsig) bucket-key projection off the signature
    * frame — in-row, shared by [[bandPairs]] and [[minhashBandStats]] so
    * the banding spelling can never drift between the pair generator
    * and its audit.
    */
  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(
      expr("""transform(sequence(0, 5),
             |  b -> struct(b as band,
             |    concat_ws('_', transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string))) as bsig))"""
        .stripMargin)).as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bsig"))

  private def bandPairs(sigs: DataFrame): DataFrame = {
    val bands = bandKeys(sigs)
    // One shuffle on the bucket key, then pairs are generated in-row from
    // the bucket's member list (i < j over the sorted members) — same pair
    // set as the windowed self-join form the oracle runs, one exchange and
    // no join. The 50-doc cap bounds the in-row pair fan-out at 1225.
    bands
      .groupBy("band", "bsig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, 50))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(sequence(i + 1, size(ds) - 1),
          |    j -> struct(ds[i] as d1, ds[j] as d2))))""".stripMargin)).as("p"))
      .select(col("p.d1"), col("p.d2"))
      .distinct()
  }

  /** Band-bucket occupancy audit of the MinHash-LSH shuffle — the
    * measurement behind the 50-doc band cap's "recall-vs-boundedness
    * stop-signal": per band, how many buckets exist, how the docs mass
    * distributes (max bucket, singleton buckets that generate nothing),
    * how many buckets the cap DROPS (n_over_cap — the silent-cap
    * accounting the scale design demands be loud), and the in-row pair
    * fan-out the surviving buckets produce (Σ k(k−1)/2, the exact row
    * count [[bandPairs]] emits before distinct). A band whose max
    * bucket explodes marks boilerplate-heavy shards where the band
    * hash degenerates — the skew this table detects before it becomes
    * a straggler.
    *
    * Scale: rides the cached signature frame; ONE bucket-key exchange
    * to the (band, bsig) count frame, then a 6-row rollup.
    */
  def minhashBandStats(spark: SparkSession, dir: String): DataFrame = {
    val (_, sigs, _) = lshCandidates(spark, dir)
    bandKeys(sigs)
      .groupBy("band", "bsig").agg(count(lit(1)).as("k"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum("k").cast("long").as("n_docs"),
        max("k").cast("long").as("max_bucket"),
        sum(when(col("k") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_singletons"),
        sum(when(col("k") > 50L, 1L).otherwise(0L)).cast("long")
          .as("n_over_cap"),
        sum(when(col("k").between(2L, 50L), expr("(k * (k - 1)) div 2"))
          .otherwise(lit(0L))).cast("long").as("n_pairs"))
  }

  /** Duplicate-accumulation curve: the exact-dup rate at 1/8, 1/4, 1/2,
    * and all of the corpus in a deterministic md5-coin pseudo-arrival
    * order — does duplication GROW with scale (crawl revisiting itself;
    * the dup rate of the next 10 TB will be worse than the last) or
    * stay flat (independent sources)? The curve a data-acquisition plan
    * reads before extrapolating [[dedupReport]]'s single point.
    *
    * Scale: one scan emits (prefix, text-hash) pairs — each doc lands
    * in <= 4 prefixes, so the exchange is a bounded 4x of the 32-byte
    * hash stream, never text; the rollup is 4 rows.
    */
  def dupAccumulationCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    t(spark, dir, "documents")
      .select(md5(coalesce(col("text"), lit(""))).as("h"),
        (md5Long(concat(lit("dupcurve#"), col("doc_id"))) % 8).as("coin"))
      .select(col("h"), explode(expr(
        "filter(array(1L, 2L, 4L, 8L), b -> coin < b)")).as("prefix_eighths"))
      .groupBy("prefix_eighths")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("h").as("n_unique"))
      .withColumn("dup_bp",
        expr("(10000 * (n_docs - n_unique)) div n_docs"))
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val (hs, _, cand) = lshCandidates(spark, dir)
    cand
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .withColumn("jac", expr("jaccard_sorted(s1, s2)"))
      .filter(col("jac") >= 0.5)
      .select("d1", "d2", "jac")
  }

  /** Incremental near-dup admission screen — the PRODUCTION shape of
    * minhash dedup at 100 TB: a new batch (the ~10% md5-coin "delta"
    * split) is probed against the existing corpus ("base") through the
    * SAME band buckets the full pipeline maintains, and each delta doc
    * gets its admission evidence (match count, best Jaccard, first base
    * match). A real deployment stores the band → members index and only
    * the delta's bands are computed per batch; here both sides ride the
    * session's cached signature/candidate frames, so the screen adds
    * zero data-sized passes. Pairs inside the same split are ignored —
    * delta-vs-delta dups are the NEXT batch's base-side problem, and
    * base-vs-base is the full pipeline's.
    */
  def dedupDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.md5Long
    val (hs, _, cand) = lshCandidates(spark, dir)
    val oriented = cand
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .withColumn("jac", expr("jaccard_sorted(s1, s2)"))
      .filter(col("jac") >= 0.5)
      .withColumn("f1", md5Long(col("d1").cast("string")) % 10L)
      .withColumn("f2", md5Long(col("d2").cast("string")) % 10L)
      .filter((col("f1") === 0L) =!= (col("f2") === 0L))
      .select(
        when(col("f1") === 0L, col("d1")).otherwise(col("d2")).as("delta_id"),
        when(col("f1") === 0L, col("d2")).otherwise(col("d1")).as("base_id"),
        col("jac"))
    oriented.groupBy("delta_id")
      .agg(
        count(lit(1)).as("n_matches"),
        max("jac").as("best_jac"),
        min("base_id").as("first_base"))
  }

  /** Sketch-quality operator: for every LSH candidate pair, the MinHash
    * similarity estimate (fraction of agreeing signature positions) next to
    * the true Jaccard — the estimator a 100 TB pipeline would use to skip
    * exact verification entirely.
    */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val (_, sigs, cand) = lshCandidates(spark, dir)
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("hs").as("s1"), col("sig").as("g1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("hs").as("s2"), col("sig").as("g2")), "d2")
      .select(col("d1"), col("d2"),
        (size(expr("filter(zip_with(g1, g2, (x, y) -> x = y), b -> b)"))
          / lit(24).cast("double")).as("est"),
        expr("jaccard_sorted(s1, s2)").as("jac"))
  }

  /** Sketch calibration: micro-averaged true Jaccard per signature
    * agreement count (0..24) — the curve a pipeline reads to pick the
    * verification-free estimator threshold. Averages are ratios of exact
    * integer sums (intersection / union sizes), so the doubles are
    * engine-identical; no floating-point accumulation anywhere.
    */
  /** Signature-length ablation for MinHash: per prefix length r in
    * {4, 8, 12, 16, 20, 24}, the estimate error |m/r − i/u| over the
    * SAME candidate pairs, quantized exactly as
    * (1e6·|m·u − i·r|) div (r·u) — pure integer arithmetic off exact
    * match counts (m), intersections (i) and unions (u), so the whole
    * curve is oracle hash-exact. This is the "how many permutations do
    * we actually need" sizing table: at 100 TB every extra permutation
    * is another 8 bytes per document and another hash pass, and the
    * curve shows where the error stops paying for them
    * ([[minhashCalibration]] calibrates the 24-sig estimator against
    * Jaccard; this ablates the 24 itself).
    *
    * Scale: rides the cached signature + candidate frames (the
    * lshCandidates discipline); the 6-way prefix fan-out is in-row on
    * the candidate pairs, rolled up to 6 rows.
    */
  def minhashPermCurve(spark: SparkSession, dir: String): DataFrame = {
    val (_, sigs, cand) = lshCandidates(spark, dir)
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("hs").as("s1"),
        col("sig").as("g1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("hs").as("s2"),
        col("sig").as("g2")), "d2")
      .withColumn("inter", expr("intersect_sorted(s1, s2)"))
      .withColumn("uni",
        size(col("s1")).cast("long") + size(col("s2")).cast("long")
          - col("inter"))
      .select(col("inter"), col("uni"), explode(expr(
        """transform(array(4, 8, 12, 16, 20, 24), r -> struct(
          |  CAST(r AS BIGINT) AS n_perms,
          |  CAST(size(filter(zip_with(slice(g1, 1, r), slice(g2, 1, r),
          |    (x, y) -> x = y), b -> b)) AS BIGINT) AS m))"""
          .stripMargin)).as("e"))
      .select(col("e.n_perms").as("n_perms"), col("e.m").as("m"),
        col("inter"), col("uni"))
      .withColumn("err_q", expr(
        "(1000000 * abs(m * uni - inter * n_perms)) div (n_perms * uni)"))
      .groupBy("n_perms")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("err_q").cast("long").as("sum_abs_err_ppm"),
        max("err_q").as("max_abs_err_ppm"))
      .withColumn("mean_abs_err_ppm", expr("sum_abs_err_ppm div n_pairs"))
  }

  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val (_, sigs, cand) = lshCandidates(spark, dir)
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("hs").as("s1"),
        col("sig").as("g1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("hs").as("s2"),
        col("sig").as("g2")), "d2")
      .withColumn("agree",
        size(expr("filter(zip_with(g1, g2, (x, y) -> x = y), b -> b)")).cast("long"))
      .withColumn("inter", expr("intersect_sorted(s1, s2)"))
      .withColumn("uni",
        size(col("s1")).cast("long") + size(col("s2")).cast("long") - col("inter"))
      .groupBy("agree")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("inter").cast("long").as("sum_inter"),
        sum("uni").cast("long").as("sum_union"))
      .withColumn("micro_jac", col("sum_inter") / col("sum_union"))
      .withColumn("est", col("agree") / lit(24.0))
  }

  /** Asymmetric containment |A∩B| / |A| for every LSH candidate pair, both
    * directions — catches quotes/subsets that symmetric Jaccard misses
    * (a short doc fully contained in a long one has low Jaccard but
    * containment 1.0).
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val (hs, _, cand) = lshCandidates(spark, dir)
    cand
      .join(hs.select(col("doc_id").as("d1"), col("hs").as("s1")), "d1")
      .join(hs.select(col("doc_id").as("d2"), col("hs").as("s2")), "d2")
      .withColumn("inter", expr("intersect_sorted(s1, s2)"))
      .select(col("d1"), col("d2"),
        (col("inter") / size(col("s1"))).as("containment_1"),
        (col("inter") / size(col("s2"))).as("containment_2"))
  }

  /** 48-bit SimHash over distinct tokens; near-dup at hamming <= 2.
    * Candidates via 3 chunks of 16 bits: two bit-errors across 3 chunks
    * leave at least one chunk identical (pigeonhole), so the block join is
    * lossless at the <= 2 threshold for modest buckets — and 16-bit chunks
    * are selective enough to keep the pair join far from quadratic on a
    * healthy corpus (6-bit chunks produced 27.7M candidates at sf0.1;
    * 16-bit produce 2.1M).
    *
    * A chunk bucket with hundreds of members means MASS near-duplication
    * (every member shares 16 signature bits), and the within-bucket join
    * is O(bucket^2) — measured 33x at 10x data on the replica stress
    * corpus before capping. Buckets are therefore sub-bucketed by doc_id
    * congruence at [[Similarity.PairSubCap]], the same bounded-pair
    * discipline as every other generator: total pair work O(n * cap),
    * with the documented recall trade only inside oversized (stop-signal)
    * buckets.
    *
    * The signature is computed by a native expression in one pass over the
    * tokens (no row explosion, no aggregation shuffle at all).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashCandidates(spark, dir)
      .filter(col("hamming") <= 2)

  /** The unfiltered distinct simhash candidate-pair frame (every pair
    * sharing a 16-bit chunk sub-bucket, with its Hamming distance) —
    * [[dedupSimhash]] is the <= 2 cut, [[simhashHammingProfile]] the
    * distribution audit; one spelling so the two can never drift.
    */
  private def simhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val cap = Similarity.PairSubCap
    val simhash = t(spark, dir, "documents")
      .select(col("doc_id"), expr("simhash48(split(text, ' '))").as("simhash"))
    val chunks = simhash
      .select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 2)")).as("c"))
      .withColumn("ck", expr("(simhash div CAST(pow(2, c * 16) AS BIGINT)) % 65536"))
    // The bucket-count frame scales with the corpus (up to 3 buckets/doc),
    // so it joins back on the (c, ck) shuffle key — NOT broadcast.
    val nsub = chunks.groupBy("c", "ck")
      .agg(expr(s"(count(1) + ${cap - 1}) div $cap").as("nsub"))
    // Checkpoint before the self-join: both join sides would otherwise
    // re-run the text scan and the simhash48 evaluation (the q21 /
    // anomalyDev no-double-pass discipline); the checkpointed frame is
    // 3 small rows per doc, never the text.
    val sub = chunks.join(nsub, Seq("c", "ck"))
      .withColumn("sub", pmod(col("doc_id"), col("nsub")))
      .localCheckpoint()
    sub.as("a")
      .join(sub.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col("a.sub") === col("b.sub") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
  }

  /** Hamming-distance distribution of the simhash CANDIDATE pairs — the
    * threshold-calibration audit behind [[dedupSimhash]]'s `<= 2` cut:
    * a healthy corpus shows a deep valley between the near-dup cluster
    * at low Hamming and the random-collision mass near 24 (the expected
    * distance of independent 48-bit hashes); a filled valley says the
    * threshold is guessing, not separating. Same bounded candidate
    * generation (chunk blocking + PairSubCap), rolled to <= 49 rows.
    */
  def simhashHammingProfile(spark: SparkSession, dir: String): DataFrame =
    simhashCandidates(spark, dir)
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"))

  /** Char-4-gram Jaccard across (lang, source)-blocked pairs, bounded by
    * [[Similarity.PairSubCap]] sub-bucketing — block population grows
    * linearly with the corpus (the block universe is fixed), so the
    * uncapped self-join was O(block^2): measured 12x at 10x data before
    * the cap, O(n * cap) after.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val cap = Similarity.PairSubCap
    val g = t(spark, dir, "documents")
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("array_distinct(transform(sequence(1, length(text) - 3), i -> substring(text, i, 4)))")
          .as("g"))
    val nsub = g.groupBy("lang", "source")
      .agg(expr(s"(count(1) + ${cap - 1}) div $cap").as("nsub"))
    // Deliberately NOT checkpointed before the self-join (unlike
    // dedup_simhash's 3-small-rows-per-doc frame): this frame carries
    // the 4-gram ARRAYS (~4x the text per row), and materializing them
    // costs 6x more than letting each join side re-run the codegen'd
    // in-row transform off the column-pruned scan (measured at sf0.1:
    // 0.40s re-scan vs 2.55s checkpointed).
    val sub = g.join(broadcast(nsub), Seq("lang", "source"))
      .withColumn("sub", pmod(col("doc_id"), col("nsub")))
    sub.as("a").join(sub.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.sub") === col("b.sub") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        (size(array_intersect(col("a.g"), col("b.g"))) /
          size(array_union(col("a.g"), col("b.g")))).as("jac"))
  }

  /** Embedding near-dup: cosine >= 0.3 within label blocks, bounded by
    * [[Similarity.PairSubCap]] sub-bucketing (label population grows with
    * the corpus, so blocks are split into ceil(n / cap) vec_id-congruence
    * sub-buckets and pairs generated only within one — O(n * cap) total
    * pair work, same discipline as every other pair generator). The fold
    * order of the dot product is fixed left-to-right so both engines
    * produce bit-identical doubles.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val cap = Similarity.PairSubCap
    val e = Embeddings.directional(spark, dir)
    val nsub = e.groupBy("label")
      .agg(expr(s"(count(1) + ${cap - 1}) div $cap").as("nsub"))
    val sub = e.join(broadcast(nsub), "label")
      .withColumn("sub", pmod(col("vec_id"), col("nsub")))
    sub.as("a").join(sub.as("b"),
        col("a.label") === col("b.label") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        expr("vec_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= 0.3)
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"), col("cos"))
  }

  /** Near-duplicate clusters: connected components over the verified
    * MinHash-LSH pair graph via min-label propagation, iterated to a
    * fixpoint (the standard large-scale connected-components loop — each
    * round is one broadcast join, and rounds are logarithmic in component
    * diameter). cluster_id = smallest doc_id in the component, i.e. the
    * document a "keep one per cluster" pass retains. The labels are cached
    * per (session, data fingerprint) — dedup_clusters, curation_pipeline
    * and curation_report all consume this frame, so the iterative
    * components loop runs once, not per query.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.FrameCache.get(spark, dir, "documents", "Dedup.clusters")(
      components(dedupMinhashLsh(spark, dir).select("d1", "d2"))
        .localCheckpoint())

  /** Cluster-size histogram over [[dedupClusters]] — the text-side twin
    * of Similarity.knnClusterProfile: the degeneracy check before
    * trusting near-dup exemplar pruning (one giant component means the
    * LSH threshold collapsed the corpus). Two metadata-sized rollups on
    * the cached label frame.
    */
  def dedupClusterProfile(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))

  /** Exact integer Gini of near-dup cluster-size mass — the
    * single-number concentration companion to [[dedupClusterProfile]]'s
    * histogram (the TextAnalysis.lengthGini closed form over cluster
    * sizes): Gini ≈ 0 says duplication is spread in small families,
    * a jumping Gini says a few mega-clusters carry the dup mass — the
    * exact signature of boilerplate flooding the crawl. Runs entirely
    * on the (csize) count frame of the cached labels; one output row.
    */
  def dedupClusterGini(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("k"))
      .withColumn("c0",
        coalesce(sum("k").over(org.apache.spark.sql.expressions.Window
          .orderBy("csize").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .agg(sum("k").cast("long").as("n_clusters"),
        sum(col("csize") * col("k")).cast("long").as("n_members"),
        sum(col("csize") *
          (col("k") * col("c0") + expr("(k * (k + 1)) div 2")))
          .cast("long").as("s1"))
      .select(col("n_clusters"), col("n_members"),
        expr("""CASE WHEN n_members > 0
               |  THEN (10000 * (2 * s1 - (n_clusters + 1) * n_members))
               |    div (n_clusters * n_members)
               |  ELSE 0 END""".stripMargin).as("gini_bp"))

  /** Survivorship policy over [[dedupClusters]]: per near-dup cluster,
    * the canonical document a keep-best dedup retains — longest text
    * wins (near-dups differ, unlike exact dups, so "keep the most
    * complete copy" is the standard curation rule), doc_id ascending as
    * the deterministic tiebreak — plus the char mass the cluster's
    * removal frees. This is the frame the curation pipeline's near-dup
    * stage would act on if it kept best-of-cluster instead of
    * first-of-cluster.
    *
    * Scale: the cached label frame (bounded by the near-dup set, far
    * smaller than the corpus) equi-joins documents on doc_id for
    * n_chars, then one cluster-partitioned window — no corpus-sized
    * window, no second scan of text.
    */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = dedupClusters(spark, dir)
      .join(t(spark, dir, "documents").select("doc_id", "n_chars"), "doc_id")
    val byCluster = Window.partitionBy("cluster_id")
    lab
      .withColumn("rk", row_number().over(
        byCluster.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("csize", count(lit(1)).over(byCluster))
      .withColumn("chars_total", sum("n_chars").over(byCluster))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("csize").cast("long").as("csize"),
        col("chars_total").cast("long").as("chars_total"),
        (col("chars_total") - col("n_chars")).cast("long")
          .as("chars_removed"))
  }

  /** Post-dedup retention report: what keep-best near-dup dedup
    * ([[clusterCanonical]]) does to each source — docs and char mass
    * kept vs dropped, retention in basis points. The per-source
    * go/no-go frame a curation run publishes after its near-dup stage
    * (a source losing half its mass to near-dups is a crawl-config bug,
    * not a dedup success).
    *
    * Scale: the drop set derives from the cached label frame joined to
    * the |clusters|-row canonical frame (both bounded by the dup set,
    * never the corpus); the corpus-sized work is ONE documents scan
    * partial-aggregated to |sources| rows, and the drop rollup joining
    * it is |sources|-sized too.
    */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "source", "n_chars")
    val drops = dedupClusters(spark, dir)
      .join(clusterCanonical(spark, dir).select("cluster_id", "keep_doc_id"),
        "cluster_id")
      .filter(col("doc_id") =!= col("keep_doc_id"))
      .select("doc_id")
    val dropBySrc = docs.join(drops, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_dropped"),
        sum("n_chars").cast("long").as("chars_dropped"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("chars_total"))
      .join(dropBySrc, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("chars_total"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"))
      .withColumn("kept_bp",
        expr("(10000 * (n_docs - n_dropped)) div n_docs"))
  }

  /** Connected components over an undirected pair set `(d1, d2)` via
    * min-label propagation with pointer jumping, iterated to fixpoint —
    * the standard large-scale CC loop (each round is one shuffle join;
    * rounds are logarithmic in component diameter). Returns
    * `(doc_id, cluster_id)` where cluster_id = the component's smallest
    * vertex id. Shared by [[dedupClusters]] and
    * [[Similarity.knnClusters]].
    */
  private[graft] def components(rawPairs: DataFrame): DataFrame = {
    // localCheckpoint (not cache) everywhere the loop feeds on itself:
    // caching alone leaves the logical plan growing — each round nests two
    // copies of the previous round's plan, and Catalyst re-analysis goes
    // exponential. Checkpointing truncates lineage to the materialized
    // partitions, keeping every round's plan constant-size.
    val pairs = rawPairs.localCheckpoint()
    val edges = pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint()
    var labels = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id")))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "d2"), "d2")
        .groupBy(col("d1").as("doc_id"))
        .agg(min("cluster_id").as("nbr_min"))
        .join(labels, "doc_id")
        .select(col("doc_id"),
          least(col("cluster_id"), col("nbr_min")).as("cluster_id"))
      // Pointer jumping: also adopt the label of the current label, which
      // halves the remaining component diameter every round (O(log D)
      // rounds instead of O(D) on chain-shaped components).
      val asMap = viaNeighbors
        .select(col("doc_id").as("cluster_id"), col("cluster_id").as("jump"))
      val next = viaNeighbors
        .join(asMap, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("jump"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint()
      // Existence probe, not a full count: isEmpty executes take(1), so
      // the convergence check stops scanning as soon as one changed label
      // is found instead of counting every one.
      converged = next.join(labels.withColumnRenamed("cluster_id", "old"), "doc_id")
        .filter(col("cluster_id") =!= col("old")).isEmpty
      labels = next
    }
    labels
  }

  /** Benchmark decontamination: every 50th document acts as the held-out
    * eval set; a training document is contaminated if it shares any word
    * 5-gram with a benchmark document (the n-gram-collision
    * decontamination check run before LLM training). The benchmark gram
    * set is tiny (2% of the corpus, distinct grams only) so the overlap
    * join broadcasts it — at 100 TB the train side streams through one
    * scan + explode with no wide shuffle; the per-doc rollup shuffles on
    * doc_id only for the hit subset.
    */
  /** Word 5-gram generator over any (doc_id, text) frame — the ONE
    * spelling shared by the batch decontaminator and the streaming
    * contamination screen.
    */
  private[graft] def wordGrams5(df: DataFrame): DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .filter(size(col("toks")) >= 5)
    .select(col("doc_id"), explode(
      expr("transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
      .as("gram"))

  /** The doc_id modulus splitting the corpus into train vs held-out
    * benchmark (doc_id % mod == 0 → benchmark) — the ONE definition the
    * batch decontaminator, its report, and the streaming screen all
    * share, so the split can never silently diverge between them.
    */
  private[graft] val BenchSplitMod = 50L

  /** The uncached (keyed benchmark grams, hit-pair frame) build —
    * separated from the cache wrapper so PlanShapeSpec can pin the
    * broadcast-gram join shape without an InMemoryRelation hiding it.
    */
  private[graft] def decontamBuild(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(spark, dir, "documents")
    val bgk = wordGrams5(docs.filter(col("doc_id") % BenchSplitMod === 0L))
      .select(col("doc_id").as("bench_doc"), col("gram")).distinct()
    val train = docs.filter(col("doc_id") % BenchSplitMod =!= 0L)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        posexplode(expr(
          "transform(sequence(0, size(toks) - 5)," +
            " i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
          .as(Seq("pos", "gram")))
    (bgk, train.join(broadcast(bgk), "gram"))
  }

  /** The (keyed benchmark gram frame, positioned hit-pair frame) pair,
    * cached per (session, data fingerprint). The hit-pair frame
    * `(gram, doc_id, n_toks, pos, bench_doc)` is the FULL contamination
    * evidence — one row per (train gram occurrence, benchmark doc
    * sharing it) — so decontaminate (per-train-doc), benchmark_leakage
    * (per-eval-item), contamination_spans (per-position), the report,
    * and the streaming screen's static set all derive from ONE train
    * scan per data generation instead of one each. The cached footprint
    * is contamination-sized (hits only), never token-scale.
    */
  private def decontamFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.FrameCache.get(spark, dir, "documents", "Dedup.decontam") {
      val (bgk, hitPairs) = decontamBuild(spark, dir)
      (bgk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), hitPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    }

  /** The distinct benchmark gram set (every 50th doc of the at-rest
    * corpus) — broadcast into both the batch and streaming screens.
    * Derived off the cached keyed frame (benchmark-sized, no data pass).
    */
  private[graft] def benchGrams(spark: SparkSession, dir: String): DataFrame =
    decontamFrames(spark, dir)._1.select("gram").distinct()

  /** One row per (train gram occurrence, benchmark doc sharing it) —
    * the shared contamination evidence. Occurrence-level consumers
    * dedupe on (doc_id, pos); eval-item consumers keep the pairing.
    */
  private def hitPairs(spark: SparkSession, dir: String): DataFrame =
    decontamFrames(spark, dir)._2

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    hitPairs(spark, dir)
      // one row per train gram OCCURRENCE (a gram shared by k benchmark
      // docs must not count k times here)
      .dropDuplicates("doc_id", "pos")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_hits"),
        countDistinct("gram").as("n_unique_hits"))

  /** Per-benchmark-doc leakage audit — [[decontaminate]]'s mirror view:
    * for each held-out benchmark doc, how many TRAIN docs share at
    * least one of its word 5-grams, the raw hit volume, and how many of
    * ITS grams leaked — the "which eval items are compromised" ranking
    * that decides whether to drop items or re-draw the benchmark (an
    * item with massive leakage measures memorization, not
    * generalization; decontaminate tells you which TRAIN docs to drop,
    * this tells you which EVAL items are already spent).
    *
    * Scale: the gram set re-keys by its benchmark doc (a
    * benchmark-sized frame, broadcast); the train side is the same one
    * scan + explode shape as decontaminate; the rollup is
    * benchmark-sized, and both COUNT DISTINCTs run on the
    * contamination-sized hit frame.
    */
  /** Span-level contamination locator: for each contaminated train doc,
    * WHERE the benchmark 5-gram hits sit — first/last touched token,
    * hit count, and the exact token coverage of the union of hit spans —
    * the frame an EXCISION pass (cut the spans, keep the doc) acts on,
    * where [[decontaminate]]'s doc-level verdict would throw the whole
    * document away (the right call at 90% coverage, a waste at 2%).
    * Coverage merges adjacent/overlapping spans in-row from the sorted
    * hit positions (each successor contributes min(5, gap)), so nothing
    * position-level crosses a shuffle twice and both engines agree
    * integer-exactly.
    *
    * Scale: the same one-scan train-side explode as decontaminate (plus
    * the position column) against the broadcast gram set; the rollup is
    * contamination-sized and per-doc fold state is bounded by the doc's
    * own hits.
    */
  def contaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val hits = hitPairs(spark, dir)
      // occurrence-level view of the shared evidence frame
      .dropDuplicates("doc_id", "pos")
    hits.groupBy("doc_id", "n_toks")
      .agg(count(lit(1)).cast("long").as("n_hit_grams"),
        min("pos").cast("long").as("first_tok"),
        (max("pos") + lit(5)).cast("long").as("last_tok"),
        sort_array(collect_list("pos")).as("ps"))
      .withColumn("cover_toks",
        lit(5L) + expr(
          """CASE WHEN size(ps) < 2 THEN CAST(0 AS BIGINT)
            |ELSE aggregate(transform(sequence(2, size(ps)),
            |  i -> least(5, element_at(ps, i) - element_at(ps, i - 1))),
            |  CAST(0 AS BIGINT), (a, x) -> a + x) END""".stripMargin))
      .select(col("doc_id"), col("n_toks"), col("n_hit_grams"),
        col("first_tok"), col("last_tok"), col("cover_toks"))
      .withColumn("cover_bp", expr("(10000 * cover_toks) div n_toks"))
  }

  /** Quality-vs-duplication calibration: per (source, near-dup
    * membership), population, mean corpus-frequency quality score
    * (gram_likelihood's integer-quantized qs) and mean length — the
    * hypothesis test behind aggressive dedup ("near-dups are
    * boilerplate, dropping them raises corpus quality"). If the dup
    * side scores HIGHER than the clean side for a source, its dedup is
    * eating good text and the threshold needs review — read this
    * before widening any LSH band.
    *
    * Scale: rides [[dedupClusters]]' cached label frame; the quality
    * side is gram_likelihood's one scan + broadcast-df join; the final
    * rollup is 2·|sources| rows. Integer floor-division means, so both
    * engines agree exactly.
    */
  def qualityByDup(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.llm.TextAnalysis.gramLikelihood(spark, dir)
      .withColumn("qs", expr("(1000000 * sum_df) div n_tokens"))
      .select("doc_id", "qs")
    val lab = dedupClusters(spark, dir)
      .select(col("doc_id"), lit(1L).as("dup"))
    t(spark, dir, "documents").select("doc_id", "source", "n_chars")
      .join(q, "doc_id")
      .join(lab, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("dup"), lit(0L)))
      .groupBy("source", "is_dup")
      .agg(count(lit(1)).as("n_docs"),
        sum("qs").cast("long").as("sum_qs"),
        sum("n_chars").cast("long").as("sum_chars"))
      .select(col("source"), col("is_dup"), col("n_docs"),
        expr("sum_qs div n_docs").as("mean_qs"),
        expr("sum_chars div n_docs").as("mean_chars"))
  }

  /** Dedup survivorship-policy comparison: per source, the char mass a
    * keep-FIRST near-dup stage (the curation pipeline's minimal-doc_id
    * rule) retains vs a keep-BEST stage ([[clusterCanonical]]'s
    * longest-text rule), in absolute chars and basis points of the
    * source's clustered mass. Both policies keep one doc per cluster
    * but DIFFERENT docs, and clusters span sources — so a source can
    * lose its entire clustered mass under one policy and keep it under
    * the other; this is the frame that policy choice is made on.
    *
    * Scale: one window + rollup over the cached dup-set-bounded label
    * frame joined to doc metadata; the corpus is never re-scanned.
    */
  def dedupPolicyCompare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byC = Window.partitionBy("cluster_id")
    dedupClusters(spark, dir)
      .join(t(spark, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id")
      .withColumn("first_keep", min("doc_id").over(byC))
      .withColumn("rk", row_number().over(
        byC.orderBy(col("n_chars").desc, col("doc_id"))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_members"),
        sum("n_chars").cast("long").as("chars_members"),
        sum(when(col("doc_id") === col("first_keep"), col("n_chars"))
          .otherwise(0L)).cast("long").as("chars_keep_first"),
        sum(when(col("rk") === 1, col("n_chars")).otherwise(0L))
          .cast("long").as("chars_keep_best"))
      .withColumn("kf_bp",
        expr("(10000 * chars_keep_first) div chars_members"))
      .withColumn("kb_bp",
        expr("(10000 * chars_keep_best) div chars_members"))
  }

  def benchmarkLeakage(spark: SparkSession, dir: String): DataFrame =
    hitPairs(spark, dir)
      .groupBy("bench_doc")
      .agg(
        countDistinct("doc_id").as("n_train_docs"),
        count(lit(1)).as("n_hits"),
        countDistinct("gram").as("n_grams_leaked"))

  /** Per-source decontamination report — the audit a team reads before a
    * benchmark release claim: training docs, docs flagged for sharing a
    * word 5-gram with the held-out set ([[decontaminate]]'s hit frame),
    * total and distinct hit volume, and the contamination rate in integer
    * basis points. A source with a hot rate republishes benchmark-like
    * text and needs source-level review, not per-doc patching.
    *
    * Scale: rides decontaminate (broadcast benchmark grams, one train
    * scan); the flagged frame is contamination-sized and joins the
    * doc→source map on doc_id; rollup to |sources| rows.
    */
  def decontaminateReport(spark: SparkSession, dir: String): DataFrame = {
    val train = t(spark, dir, "documents")
      .filter(col("doc_id") % BenchSplitMod =!= 0L)
      .select("doc_id", "source")
    val flagged = train
      // contamination-sized (docs sharing a benchmark gram), so the join
      // back to the doc→source map broadcasts rather than shuffling train
      .join(broadcast(decontaminate(spark, dir)), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_flagged"),
        sum("n_hits").cast("long").as("n_hits"),
        sum("n_unique_hits").cast("long").as("n_unique_hits"))
    train.groupBy("source").agg(count(lit(1)).as("n_train"))
      .join(broadcast(flagged), Seq("source"), "left")
      .na.fill(0L, Seq("n_flagged", "n_hits", "n_unique_hits"))
      .withColumn("contamination_bp",
        expr("(10000 * n_flagged) div n_train"))
  }

  /** Per-source dedup report — the rollup a pipeline run actually ships:
    * document counts, exact-duplicate counts (keep = min doc_id over the
    * text hash, consistent with dedup_exact), characters dropped, and the
    * duplicate rate as a ratio of exact integers. One window on the text
    * hash plus one aggregation; at scale the window is a (hash)-keyed
    * shuffle identical to the dedup itself.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byText = Window.partitionBy(md5(col("text")))
    t(spark, dir, "documents")
      .withColumn("keep_id", min("doc_id").over(byText))
      .withColumn("dup", when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("dup").cast("long").as("n_dups"),
        sum(when(col("dup") === 1L, col("n_chars")).otherwise(0L)).cast("long")
          .as("chars_dropped"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))
      .withColumn("dup_rate",
        col("n_dups").cast("double") / col("n_docs").cast("double"))
  }

  /** Cross-source contamination matrix: where near-duplicates come FROM —
    * verified LSH pairs rolled up by unordered source pair. A diagonal-
    * heavy matrix means in-source boilerplate; off-diagonal mass means one
    * source is republishing another (the thing a training-mix owner has
    * to know before weighting sources).
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    dedupMinhashLsh(spark, dir)
      .join(src.toDF("d1", "src1"), "d1")
      .join(src.toDF("d2", "src2"), "d2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Threshold sweep over the verified pair set: how many near-dup pairs
    * (and docs dropped, keeping the min id) survive at each candidate
    * Jaccard threshold — the curve that picks the dedup aggressiveness
    * before a full run. Reuses the cached LSH pipeline; the sweep itself
    * is four conditional sums.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(spark, dir)
    val sweep = Seq(0.5, 0.6, 0.7, 0.8)
    // ONE pass over the verified pairs (the expensive LSH join previously
    // re-ran once per threshold): each threshold's counts are conditional
    // aggregates of the same scan, and the 1-row result unpivots to the
    // 4-row report — which also keeps the all-zero rows when no pair
    // reaches a threshold (the oracle's left-join shape; candidate pairs
    // are generated d1 < d2, so d2 alone identifies a dropped doc).
    val aggs = sweep.flatMap { th =>
      val k = (th * 10).toInt
      Seq(
        sum(when(col("jac") >= th, 1L).otherwise(0L)).as(s"np_$k"),
        countDistinct(when(col("jac") >= th, col("d2"))).as(s"nd_$k"))
    }
    val stack = sweep.map { th =>
      val k = (th * 10).toInt
      s"CAST($th AS DOUBLE), coalesce(np_$k, 0L), nd_$k"
    }.mkString(", ")
    pairs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${sweep.size}, $stack) AS (threshold, n_pairs, n_dropped)")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_threshold_sweep" -> dedupThresholdSweep,
    "cross_source_dups" -> crossSourceDups,
    "dedup_report" -> dedupReport,
    "decontaminate" -> decontaminate,
    "decontaminate_report" -> decontaminateReport,
    "benchmark_leakage" -> benchmarkLeakage,
    "contamination_spans" -> contaminationSpans,
    "dedup_policy_compare" -> dedupPolicyCompare,
    "quality_by_dup" -> qualityByDup,
    "dedup_clusters" -> dedupClusters,
    "dedup_cluster_profile" -> dedupClusterProfile,
    "dedup_cluster_gini" -> dedupClusterGini,
    "cluster_canonical" -> clusterCanonical,
    "dedup_survivors" -> dedupSurvivors,
    "dedup_exact" -> dedupExact,
    "dedup_bloom" -> dedupBloom,
    "bloom_fp_curve" -> bloomFpCurve,
    "bloom_delta_filter" -> bloomDeltaFilter,
    "bloom_calibration" -> bloomCalibration,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "minhash_band_stats" -> minhashBandStats,
    "dup_accumulation_curve" -> dupAccumulationCurve,
    "dedup_delta" -> dedupDelta,
    "containment" -> containment,
    "minhash_estimate" -> minhashEstimate,
    "minhash_perm_curve" -> minhashPermCurve,
    "minhash_calibration" -> minhashCalibration,
    "dedup_simhash" -> dedupSimhash,
    "simhash_hamming_profile" -> simhashHammingProfile,
    "ngram_jaccard" -> ngramJaccard,
    "dedup_embedding" -> dedupEmbedding)

  /** The Bloom bit/first-setter/verdict pipeline as a CTE chain ending in
    * `v(m_bits, doc_id, flagged, source, is_dup)` — the oracle mirror of
    * [[bloomVerdicts]] with the SAME bit spelling
    * (md5Long('bloom#'||j||'#'||text) % m), shared by dedup_bloom and
    * bloom_fp_curve so the filter geometry cannot drift between the
    * verdict view and its sizing curve.
    */
  private def bloomChainSql(ms: String): String =
    s"""WITH docs AS (SELECT doc_id, source, text FROM documents),
       |ex AS (
       |  SELECT doc_id, source,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) < doc_id AS is_dup
       |  FROM docs),
       |bits AS (
       |  SELECT doc_id, m,
       |    ${md5LongSql("('bloom#' || j || '#' || text)")} % m AS bit
       |  FROM docs, unnest([$ms]) t(m), generate_series(0, 3) g(j)),
       |fs AS (SELECT m, bit, MIN(doc_id) AS first_setter
       |       FROM bits GROUP BY m, bit),
       |fl AS (
       |  SELECT b.m AS m_bits, b.doc_id,
       |    MAX(f.first_setter) < b.doc_id AS flagged
       |  FROM bits b JOIN fs f ON f.m = b.m AND f.bit = b.bit
       |  GROUP BY b.m, b.doc_id),
       |v AS (SELECT fl.m_bits, fl.doc_id, fl.flagged, ex.source, ex.is_dup
       |      FROM fl JOIN ex ON ex.doc_id = fl.doc_id)""".stripMargin

  /** The MinHash shingle/signature/band/candidate pipeline as a
    * reusable CTE chain (ends with `cand(d1, d2)`, with `hss(doc_id,
    * hs)` and `sig(doc_id, g)` still in scope) — the oracle mirror of
    * [[lshCandidates]], shared by minhash_estimate and
    * minhash_perm_curve so the estimator and its ablation read the same
    * pair set.
    */
  private val minhashCandChainSql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, length(text) - 4), i -> substring(text, i, 5))) AS s
      |  FROM documents WHERE length(text) >= 5),
      |hss AS (
      |  SELECT doc_id, list_distinct(list_transform(s,
      |    x -> ${md5LongSql("x")} % 2147483647)) AS hs
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 23),
      |    j -> list_min(list_transform(hs,
      |      h -> ((((j + 1) * 2654435761) % 2147483647) * h
      |            + ((j + 7) * 40503) % 2147483647) % 2147483647))) AS g
      |  FROM hss),
      |bands AS (
      |  SELECT doc_id, b,
      |    g[b*4+1]::VARCHAR || '_' || g[b*4+2]::VARCHAR || '_' ||
      |      g[b*4+3]::VARCHAR || '_' || g[b*4+4]::VARCHAR AS bsig
      |  FROM sig, generate_series(0, 5) t(b)),
      |sized AS (
      |  SELECT * FROM bands
      |  QUALIFY COUNT(*) OVER (PARTITION BY b, bsig) <= 50),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sized a, sized b
      |  WHERE a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id)""".stripMargin

  /** The simhash candidate-pair pipeline as a reusable CTE chain
    * (`cp(d1, d2, hamming)`, unfiltered) — the oracle mirror of
    * [[simhashCandidates]], shared by dedup_simhash and the Hamming
    * profile so the cut and its audit read the same pair set.
    */
  private val simhashCandSql: String =
    s"""WITH th AS (
      |  SELECT doc_id,
      |    ${md5LongSql("tok")} AS h
      |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |        FROM documents)),
      |bits AS (
      |  SELECT doc_id, bit,
      |    SUM(CASE WHEN (h // CAST(pow(2, bit) AS BIGINT)) % 2 = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM th, generate_series(0, 47) t(bit)
      |  GROUP BY doc_id, bit),
      |sim AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN s > 0
      |    THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, simhash, c,
      |    (simhash // CAST(pow(2, c * 16) AS BIGINT)) % 65536 AS ck
      |  FROM sim, generate_series(0, 2) t(c)),
      |cc AS (
      |  SELECT c, ck, $capSql AS nsub
      |  FROM chunks GROUP BY c, ck),
      |sc AS (
      |  SELECT chunks.*, chunks.doc_id % cc.nsub AS sub
      |  FROM chunks JOIN cc USING (c, ck)),
      |cp AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |  FROM sc a, sc b
      |  WHERE a.c = b.c AND a.ck = b.ck AND a.sub = b.sub
      |    AND a.doc_id < b.doc_id)
      |""".stripMargin

  /** The MinHash-LSH verified-pair pipeline as a reusable CTE chain
    * (`pairs(d1, d2, jac)`), shared by the dedup query and every
    * consumer of its pair set.
    */
  private val lshPairsSql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, length(text) - 4), i -> substring(text, i, 5))) AS s
      |  FROM documents WHERE length(text) >= 5),
      |hss AS (
      |  SELECT doc_id, list_distinct(list_transform(s,
      |    x -> ${md5LongSql("x")} % 2147483647)) AS hs
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 23),
      |    j -> list_min(list_transform(hs,
      |      h -> ((((j + 1) * 2654435761) % 2147483647) * h
      |            + ((j + 7) * 40503) % 2147483647) % 2147483647))) AS g
      |  FROM hss),
      |bands AS (
      |  SELECT doc_id, b,
      |    g[b*4+1]::VARCHAR || '_' || g[b*4+2]::VARCHAR || '_' ||
      |      g[b*4+3]::VARCHAR || '_' || g[b*4+4]::VARCHAR AS bsig
      |  FROM sig, generate_series(0, 5) t(b)),
      |sized AS (
      |  SELECT * FROM bands
      |  QUALIFY COUNT(*) OVER (PARTITION BY b, bsig) <= 50),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sized a, sized b
      |  WHERE a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT d1, d2,
      |    len(list_intersect(s1.hs, s2.hs)) /
      |      len(list_distinct(list_concat(s1.hs, s2.hs))) AS jac
      |  FROM cand
      |  JOIN hss s1 ON s1.doc_id = d1
      |  JOIN hss s2 ON s2.doc_id = d2
      |  WHERE len(list_intersect(s1.hs, s2.hs)) /
      |    len(list_distinct(list_concat(s1.hs, s2.hs))) >= 0.5)
      |""".stripMargin

  /** The shared sub-bucket formula in oracle SQL — derives from
    * [[Similarity.PairSubCap]] so the cap cannot drift between the Spark
    * side and any capped oracle. */
  private def capSql: String = Similarity.capSql

  /** The recursive connected-components chain over the verified
    * MinHash-LSH pair graph (ends with `reach(src, dst)`; cluster_id is
    * `MIN(dst) GROUP BY src`) — shared by the dedup_clusters oracle and
    * Curation's curation_pipeline oracle.
    */
  private[llm] val clustersChainSql: String =
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, length(text) - 4), i -> substring(text, i, 5))) AS s
      |  FROM documents WHERE length(text) >= 5),
      |hss AS (
      |  SELECT doc_id, list_distinct(list_transform(s,
      |    x -> ${md5LongSql("x")} % 2147483647)) AS hs
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 23),
      |    j -> list_min(list_transform(hs,
      |      h -> ((((j + 1) * 2654435761) % 2147483647) * h
      |            + ((j + 7) * 40503) % 2147483647) % 2147483647))) AS g
      |  FROM hss),
      |bands AS (
      |  SELECT doc_id, b,
      |    g[b*4+1]::VARCHAR || '_' || g[b*4+2]::VARCHAR || '_' ||
      |      g[b*4+3]::VARCHAR || '_' || g[b*4+4]::VARCHAR AS bsig
      |  FROM sig, generate_series(0, 5) t(b)),
      |sized AS (
      |  SELECT * FROM bands
      |  QUALIFY COUNT(*) OVER (PARTITION BY b, bsig) <= 50),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sized a, sized b
      |  WHERE a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
      |vpairs AS (
      |  SELECT d1, d2 FROM cand
      |  JOIN hss s1 ON s1.doc_id = d1
      |  JOIN hss s2 ON s2.doc_id = d2
      |  WHERE len(list_intersect(s1.hs, s2.hs)) /
      |    len(list_distinct(list_concat(s1.hs, s2.hs))) >= 0.5),
      |edges AS (
      |  SELECT d1, d2 FROM vpairs
      |  UNION SELECT d2 AS d1, d1 AS d2 FROM vpairs),
      |reach(src, dst) AS (
      |  SELECT d1, d1 FROM (SELECT DISTINCT d1 FROM edges)
      |  UNION
      |  SELECT r.src, e.d2 FROM reach r JOIN edges e ON e.d1 = r.dst)""".stripMargin

  /** DuckDB mirror of [[bloomDeltaFilter]] — the ONE spelling shared by
    * the bloom_delta_filter oracle and bloom_calibration (which wraps it
    * as a subquery), so measurement and theory read the same filter.
    */
  private val bloomDeltaSql: String =
    s"""WITH docs AS (
        |  SELECT doc_id, text,
        |    ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 10 = 0 AS arrival
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, arrival, m AS m_bits,
        |    ${md5LongSql("('bloom#' || j || '#' || text)")} % m AS bit
        |  FROM docs, unnest([4096, 16384, 65536, 262144]) t(m),
        |    generate_series(0, 3) g(j)),
        |fb AS (
        |  SELECT DISTINCT m_bits, bit FROM bits WHERE NOT arrival),
        |fill AS (
        |  SELECT m_bits, COUNT(*) AS n_set_bits FROM fb GROUP BY m_bits),
        |seen AS (
        |  SELECT doc_id FROM docs
        |  WHERE arrival AND md5(text) IN
        |    (SELECT md5(text) FROM docs WHERE NOT arrival)),
        |v AS (
        |  SELECT b.m_bits, b.doc_id,
        |    COUNT(*) = CAST(SUM(CASE WHEN fb.bit IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
        |    CASE WHEN MIN(s.doc_id) IS NOT NULL THEN 1 ELSE 0 END
        |      AS is_seen
        |  FROM bits b
        |  LEFT JOIN fb ON fb.m_bits = b.m_bits AND fb.bit = b.bit
        |  LEFT JOIN seen s ON s.doc_id = b.doc_id
        |  WHERE b.arrival
        |  GROUP BY b.m_bits, b.doc_id)
        |SELECT v.m_bits, CAST(fill.n_set_bits AS BIGINT) AS n_set_bits,
        |  (10000 * CAST(fill.n_set_bits AS BIGINT)) // v.m_bits
        |    AS fill_bp,
        |  COUNT(*) AS n_arrivals,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(SUM(is_seen) AS BIGINT) AS n_true_seen,
        |  CAST(SUM(CASE WHEN flagged AND is_seen = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false_pos,
        |  CASE WHEN COUNT(*) = CAST(SUM(is_seen) AS BIGINT) THEN 0
        |    ELSE (1000000 * CAST(SUM(CASE WHEN flagged AND is_seen = 0
        |        THEN 1 ELSE 0 END) AS BIGINT))
        |      // (COUNT(*) - CAST(SUM(is_seen) AS BIGINT)) END AS fp_ppm
        |FROM v JOIN fill ON fill.m_bits = v.m_bits
        |GROUP BY v.m_bits, fill.n_set_bits""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_report" ->
      """WITH d AS (
        |  SELECT source, doc_id, n_chars, md5(text) AS h,
        |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dups,
        |  CAST(SUM(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS chars_dropped,
        |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
        |  CAST(CAST(SUM(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        |FROM d GROUP BY source""".stripMargin,
    "decontaminate_report" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(string_split(text, ' ')[i + 1:i + 5], ' ')))
        |    AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |bench AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |tg AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
        |hits AS (
        |  SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |    CAST(COUNT(DISTINCT tg.gram) AS BIGINT) AS n_unique_hits
        |  FROM tg JOIN bench ON tg.gram = bench.gram
        |  GROUP BY tg.doc_id),
        |train AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0),
        |fl AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_flagged,
        |    CAST(SUM(n_hits) AS BIGINT) AS n_hits,
        |    CAST(SUM(n_unique_hits) AS BIGINT) AS n_unique_hits
        |  FROM train JOIN hits USING (doc_id) GROUP BY source)
        |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_train,
        |  COALESCE(ANY_VALUE(fl.n_flagged), 0) AS n_flagged,
        |  COALESCE(ANY_VALUE(fl.n_hits), 0) AS n_hits,
        |  COALESCE(ANY_VALUE(fl.n_unique_hits), 0) AS n_unique_hits,
        |  (10000 * COALESCE(ANY_VALUE(fl.n_flagged), 0)) // COUNT(*)
        |    AS contamination_bp
        |FROM train t LEFT JOIN fl ON fl.source = t.source
        |GROUP BY t.source""".stripMargin,
    "benchmark_leakage" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(string_split(text, ' ')[i + 1:i + 5], ' ')))
        |    AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |bench AS (
        |  SELECT DISTINCT doc_id AS bench_doc, gram FROM g
        |  WHERE doc_id % 50 = 0),
        |train AS (SELECT * FROM g WHERE doc_id % 50 <> 0)
        |SELECT bench.bench_doc,
        |  CAST(COUNT(DISTINCT train.doc_id) AS BIGINT) AS n_train_docs,
        |  COUNT(*) AS n_hits,
        |  CAST(COUNT(DISTINCT train.gram) AS BIGINT) AS n_grams_leaked
        |FROM train JOIN bench USING (gram)
        |GROUP BY bench.bench_doc""".stripMargin,
    "contamination_spans" ->
      """WITH allg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(string_split(text, ' ')[i + 1:i + 5], ' ')))
        |    AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |bench AS (
        |  SELECT DISTINCT gram FROM allg WHERE doc_id % 50 = 0),
        |t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents
        |  WHERE doc_id % 50 <> 0 AND len(string_split(text, ' ')) >= 5),
        |g AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |    unnest(list_transform(range(0, len(toks) - 4),
        |      i -> {'pos': i,
        |            'gram': array_to_string(toks[i + 1:i + 5], ' ')}))
        |      AS pg
        |  FROM t0),
        |hits AS (
        |  SELECT g.doc_id, g.n_toks, pg.pos AS pos
        |  FROM g JOIN bench ON pg.gram = bench.gram),
        |agg AS (
        |  SELECT doc_id, n_toks,
        |    CAST(COUNT(*) AS BIGINT) AS n_hit_grams,
        |    CAST(MIN(pos) AS BIGINT) AS first_tok,
        |    CAST(MAX(pos) + 5 AS BIGINT) AS last_tok,
        |    list(pos ORDER BY pos) AS ps
        |  FROM hits GROUP BY doc_id, n_toks),
        |cov AS (
        |  SELECT doc_id, n_toks, n_hit_grams, first_tok, last_tok,
        |    5 + CASE WHEN len(ps) < 2 THEN CAST(0 AS BIGINT)
        |      ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(2, len(ps)),
        |          i -> CAST(least(5, ps[i] - ps[i - 1]) AS BIGINT))),
        |        (a, x) -> a + x) END AS cover_toks
        |  FROM agg)
        |SELECT doc_id, n_toks, n_hit_grams, first_tok, last_tok,
        |  cover_toks, (10000 * cover_toks) // n_toks AS cover_bp
        |FROM cov""".stripMargin,
    "quality_by_dup" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |tk AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |dfx AS (SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok),
        |q AS (
        |  SELECT doc_id,
        |    (1000000 * CAST(SUM(tf * df) AS BIGINT))
        |      // CAST(SUM(tf) AS BIGINT) AS qs
        |  FROM tk JOIN dfx USING (tok) GROUP BY doc_id),
        |j AS (
        |  SELECT d.source,
        |    CASE WHEN lab.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup,
        |    q.qs, d.n_chars
        |  FROM documents d JOIN q USING (doc_id)
        |  LEFT JOIN lab USING (doc_id))
        |SELECT source, CAST(is_dup AS BIGINT) AS is_dup,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(qs) AS BIGINT) // COUNT(*) AS mean_qs,
        |  CAST(SUM(n_chars) AS BIGINT) // COUNT(*) AS mean_chars
        |FROM j GROUP BY source, is_dup""".stripMargin),
    "dedup_policy_compare" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |lj AS (
        |  SELECT lab.cluster_id, lab.doc_id, d.source, d.n_chars,
        |    MIN(lab.doc_id) OVER (PARTITION BY lab.cluster_id)
        |      AS first_keep,
        |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
        |      ORDER BY d.n_chars DESC, lab.doc_id) AS rk
        |  FROM lab JOIN documents d USING (doc_id))
        |SELECT source, COUNT(*) AS n_members,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_members,
        |  CAST(SUM(CASE WHEN doc_id = first_keep THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS chars_keep_first,
        |  CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_keep_best,
        |  (10000 * CAST(SUM(CASE WHEN doc_id = first_keep
        |    THEN n_chars ELSE 0 END) AS BIGINT))
        |    // CAST(SUM(n_chars) AS BIGINT) AS kf_bp,
        |  (10000 * CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END)
        |    AS BIGINT)) // CAST(SUM(n_chars) AS BIGINT) AS kb_bp
        |FROM lj GROUP BY source""".stripMargin),
    "decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, len(string_split(text, ' ')) - 4),
        |    i -> array_to_string(string_split(text, ' ')[i + 1:i + 5], ' ')))
        |    AS gram
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |bench AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |train AS (SELECT * FROM g WHERE doc_id % 50 <> 0)
        |SELECT train.doc_id, COUNT(*) AS n_hits,
        |  CAST(COUNT(DISTINCT train.gram) AS BIGINT) AS n_unique_hits
        |FROM train JOIN bench ON train.gram = bench.gram
        |GROUP BY train.doc_id""".stripMargin,
    "containment" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 4), i -> substring(text, i, 5))) AS s
        |  FROM documents WHERE length(text) >= 5),
        |hss AS (
        |  SELECT doc_id, list_distinct(list_transform(s,
        |    x -> ${md5LongSql("x")} % 2147483647)) AS hs
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(generate_series(0, 23),
        |    j -> list_min(list_transform(hs,
        |      h -> ((((j + 1) * 2654435761) % 2147483647) * h
        |            + ((j + 7) * 40503) % 2147483647) % 2147483647))) AS g
        |  FROM hss),
        |bands AS (
        |  SELECT doc_id, b,
        |    g[b*4+1]::VARCHAR || '_' || g[b*4+2]::VARCHAR || '_' ||
        |      g[b*4+3]::VARCHAR || '_' || g[b*4+4]::VARCHAR AS bsig
        |  FROM sig, generate_series(0, 5) t(b)),
        |sized AS (
        |  SELECT * FROM bands
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bsig) <= 50),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sized a, sized b
        |  WHERE a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
        |SELECT d1, d2,
        |  len(list_intersect(s1.hs, s2.hs)) / len(s1.hs) AS containment_1,
        |  len(list_intersect(s1.hs, s2.hs)) / len(s2.hs) AS containment_2
        |FROM cand
        |JOIN hss s1 ON s1.doc_id = d1
        |JOIN hss s2 ON s2.doc_id = d2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_bloom" -> (bloomChainSql("4096") +
      """
        |SELECT source,
        |  CASE WHEN is_dup THEN 'TRUE_DUP'
        |       WHEN flagged THEN 'FALSE_POS' ELSE 'UNIQUE' END AS verdict,
        |  COUNT(*) AS n_docs
        |FROM v GROUP BY 1, 2""".stripMargin),
    "bloom_delta_filter" -> bloomDeltaSql,
    "bloom_calibration" ->
      (s"""SELECT m_bits, fill_bp, n_arrivals, n_false_pos,
        |  fp_ppm AS measured_fp_ppm,
        |  (fill_bp * fill_bp * fill_bp * fill_bp) // 10000000000
        |    AS expected_fp_ppm,
        |  abs(fp_ppm - (fill_bp * fill_bp * fill_bp * fill_bp)
        |    // 10000000000) AS abs_err_ppm
        |FROM (
        |""".stripMargin + bloomDeltaSql + "\n) d"),
    "bloom_fp_curve" -> (bloomChainSql("1024,4096,16384,65536,262144") +
      """
        |SELECT m_bits, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dup,
        |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(SUM(CASE WHEN flagged AND NOT is_dup THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false_pos,
        |  (1000000 * CAST(SUM(CASE WHEN flagged AND NOT is_dup THEN 1
        |      ELSE 0 END) AS BIGINT))
        |    // (COUNT(*) - CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
        |      AS BIGINT)) AS fp_ppm
        |FROM v GROUP BY m_bits""".stripMargin),
    "dedup_minhash_lsh" -> (lshPairsSql +
      "SELECT d1, d2, jac FROM pairs"),
    "dup_accumulation_curve" ->
      s"""WITH d AS (
         |  SELECT md5(COALESCE(text, '')) AS h,
         |    ${md5LongSql("('dupcurve#' || doc_id)")} % 8 AS coin
         |  FROM documents),
         |x AS (
         |  SELECT b AS prefix_eighths, h
         |  FROM d, (SELECT unnest([1, 2, 4, 8]) AS b) t
         |  WHERE coin < b)
         |SELECT CAST(prefix_eighths AS BIGINT) AS prefix_eighths,
         |  COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
         |  (10000 * (COUNT(*) - COUNT(DISTINCT h))) // COUNT(*) AS dup_bp
         |FROM x GROUP BY prefix_eighths""".stripMargin,
    "minhash_band_stats" -> (lshPairsSql +
      """, bk AS (
        |  SELECT b, bsig, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM bands GROUP BY b, bsig)
        |SELECT b AS band, COUNT(*) AS n_buckets,
        |  CAST(SUM(k) AS BIGINT) AS n_docs,
        |  MAX(k) AS max_bucket,
        |  CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons,
        |  CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_over_cap,
        |  CAST(SUM(CASE WHEN k BETWEEN 2 AND 50
        |    THEN (k * (k - 1)) // 2 ELSE 0 END) AS BIGINT) AS n_pairs
        |FROM bk GROUP BY b""".stripMargin),
    "dedup_delta" -> (lshPairsSql +
      s""", coined AS (
        |  SELECT d1, d2, jac,
        |    ${md5LongSql("CAST(d1 AS VARCHAR)")} % 10 AS f1,
        |    ${md5LongSql("CAST(d2 AS VARCHAR)")} % 10 AS f2
        |  FROM pairs),
        |orient AS (
        |  SELECT CASE WHEN f1 = 0 THEN d1 ELSE d2 END AS delta_id,
        |    CASE WHEN f1 = 0 THEN d2 ELSE d1 END AS base_id, jac
        |  FROM coined WHERE (f1 = 0) <> (f2 = 0))
        |SELECT delta_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  MAX(jac) AS best_jac, MIN(base_id) AS first_base
        |FROM orient GROUP BY delta_id""".stripMargin),
    "dedup_threshold_sweep" -> (lshPairsSql +
      """, th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8]) AS t)
        |SELECT CAST(t AS DOUBLE) AS threshold,
        |  CAST(COUNT(CASE WHEN jac >= CAST(t AS DOUBLE) THEN 1 END) AS BIGINT)
        |    AS n_pairs,
        |  CAST(COUNT(DISTINCT CASE WHEN jac >= CAST(t AS DOUBLE) THEN d2 END)
        |    AS BIGINT) AS n_dropped
        |FROM th LEFT JOIN pairs ON TRUE GROUP BY t""".stripMargin),
    "cross_source_dups" -> (lshPairsSql +
      """, src AS (SELECT doc_id, source FROM documents)
        |SELECT LEAST(a.source, b.source) AS source_a,
        |  GREATEST(a.source, b.source) AS source_b,
        |  COUNT(*) AS n_pairs
        |FROM pairs JOIN src a ON a.doc_id = d1 JOIN src b ON b.doc_id = d2
        |GROUP BY 1, 2""".stripMargin),
    "dedup_clusters" ->
      (clustersChainSql + """
        |SELECT src AS doc_id, MIN(dst) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin),
    "cluster_canonical" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |lc AS (
        |  SELECT lab.cluster_id, lab.doc_id, d.n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
        |      ORDER BY d.n_chars DESC, lab.doc_id) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY lab.cluster_id) AS BIGINT)
        |      AS csize,
        |    CAST(SUM(d.n_chars) OVER (PARTITION BY lab.cluster_id)
        |      AS BIGINT) AS chars_total
        |  FROM lab JOIN documents d USING (doc_id))
        |SELECT cluster_id, doc_id AS keep_doc_id, csize, chars_total,
        |  CAST(chars_total - n_chars AS BIGINT) AS chars_removed
        |FROM lc WHERE rk = 1""".stripMargin),
    "dedup_survivors" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |lc AS (
        |  SELECT lab.doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
        |      ORDER BY d.n_chars DESC, lab.doc_id) AS rk
        |  FROM lab JOIN documents d USING (doc_id)),
        |drops AS (SELECT doc_id FROM lc WHERE rk > 1),
        |ds AS (
        |  SELECT d.source, COUNT(*) AS n_dropped,
        |    CAST(SUM(d.n_chars) AS BIGINT) AS chars_dropped
        |  FROM documents d JOIN drops USING (doc_id) GROUP BY d.source),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |  FROM documents GROUP BY source)
        |SELECT tot.source, n_docs, chars_total,
        |  COALESCE(n_dropped, 0) AS n_dropped,
        |  COALESCE(chars_dropped, 0) AS chars_dropped,
        |  (10000 * (n_docs - COALESCE(n_dropped, 0))) // n_docs AS kept_bp
        |FROM tot LEFT JOIN ds USING (source)""".stripMargin),
    "dedup_cluster_profile" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |cs AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
        |  FROM lab GROUP BY cluster_id)
        |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY csize""".stripMargin),
    "dedup_cluster_gini" ->
      (clustersChainSql + """
        |, lab AS (
        |  SELECT src AS doc_id, MIN(dst) AS cluster_id
        |  FROM reach GROUP BY src),
        |cs AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
        |  FROM lab GROUP BY cluster_id),
        |cf AS (SELECT csize, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM cs GROUP BY csize),
        |cc AS (
        |  SELECT csize, k,
        |    CAST(COALESCE(SUM(k) OVER (ORDER BY csize
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS c0
        |  FROM cf),
        |r AS (
        |  SELECT CAST(SUM(k) AS BIGINT) AS n_clusters,
        |    CAST(SUM(csize * k) AS BIGINT) AS n_members,
        |    CAST(SUM(csize * (k * c0 + (k * (k + 1)) // 2)) AS BIGINT)
        |      AS s1
        |  FROM cc)
        |SELECT n_clusters, n_members,
        |  CASE WHEN n_members > 0
        |    THEN (10000 * (2 * s1 - (n_clusters + 1) * n_members))
        |      // (n_clusters * n_members)
        |    ELSE 0 END AS gini_bp
        |FROM r""".stripMargin),
    "minhash_calibration" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, length(text) - 4), i -> substring(text, i, 5))) AS s
        |  FROM documents WHERE length(text) >= 5),
        |hss AS (
        |  SELECT doc_id, list_distinct(list_transform(s,
        |    x -> ${md5LongSql("x")} % 2147483647)) AS hs
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(generate_series(0, 23),
        |    j -> list_min(list_transform(hs,
        |      h -> ((((j + 1) * 2654435761) % 2147483647) * h
        |            + ((j + 7) * 40503) % 2147483647) % 2147483647))) AS g
        |  FROM hss),
        |bands AS (
        |  SELECT doc_id, b,
        |    g[b*4+1]::VARCHAR || '_' || g[b*4+2]::VARCHAR || '_' ||
        |      g[b*4+3]::VARCHAR || '_' || g[b*4+4]::VARCHAR AS bsig
        |  FROM sig, generate_series(0, 5) t(b)),
        |sized AS (
        |  SELECT * FROM bands
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bsig) <= 50),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sized a, sized b
        |  WHERE a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |pairstats AS (
        |  SELECT
        |    CAST(len(list_filter(list_transform(generate_series(1, 24),
        |      i -> g1.g[i] = g2.g[i]), b -> b)) AS BIGINT) AS agree,
        |    CAST(len(list_intersect(s1.hs, s2.hs)) AS BIGINT) AS inter,
        |    CAST(len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs))
        |      AS BIGINT) AS uni
        |  FROM cand
        |  JOIN hss s1 ON s1.doc_id = d1
        |  JOIN hss s2 ON s2.doc_id = d2
        |  JOIN sig g1 ON g1.doc_id = d1
        |  JOIN sig g2 ON g2.doc_id = d2)
        |SELECT agree, COUNT(*) AS n_pairs,
        |  CAST(SUM(inter) AS BIGINT) AS sum_inter,
        |  CAST(SUM(uni) AS BIGINT) AS sum_union,
        |  CAST(SUM(inter) AS BIGINT) / CAST(SUM(uni) AS BIGINT) AS micro_jac,
        |  agree / CAST(24 AS DOUBLE) AS est
        |FROM pairstats GROUP BY agree""".stripMargin,
    "minhash_perm_curve" -> (minhashCandChainSql +
      s""",
        |pairs AS (
        |  SELECT d1, d2, g1.g AS ga, g2.g AS gb,
        |    len(list_intersect(s1.hs, s2.hs)) AS inter,
        |    len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs))
        |      AS uni
        |  FROM cand
        |  JOIN hss s1 ON s1.doc_id = d1
        |  JOIN hss s2 ON s2.doc_id = d2
        |  JOIN sig g1 ON g1.doc_id = d1
        |  JOIN sig g2 ON g2.doc_id = d2),
        |ex AS (
        |  SELECT CAST(n_perms AS BIGINT) AS n_perms, inter, uni,
        |    CAST(len(list_filter(list_transform(
        |      generate_series(1, n_perms), i -> ga[i] = gb[i]), b -> b))
        |      AS BIGINT) AS m
        |  FROM pairs, (SELECT unnest([4, 8, 12, 16, 20, 24]) AS n_perms) r),
        |eq AS (
        |  SELECT n_perms,
        |    (1000000 * abs(m * uni - inter * n_perms)) // (n_perms * uni)
        |      AS err_q
        |  FROM ex)
        |SELECT n_perms, COUNT(*) AS n_pairs,
        |  CAST(SUM(err_q) AS BIGINT) AS sum_abs_err_ppm,
        |  CAST(MAX(err_q) AS BIGINT) AS max_abs_err_ppm,
        |  CAST(SUM(err_q) AS BIGINT) // COUNT(*) AS mean_abs_err_ppm
        |FROM eq GROUP BY n_perms""".stripMargin),
    "minhash_estimate" -> (minhashCandChainSql +
      s"""
        |SELECT d1, d2,
        |  CAST(len(list_filter(list_transform(generate_series(1, 24),
        |    i -> g1.g[i] = g2.g[i]), b -> b)) AS DOUBLE) / CAST(24 AS DOUBLE) AS est,
        |  len(list_intersect(s1.hs, s2.hs)) /
        |    len(list_distinct(list_concat(s1.hs, s2.hs))) AS jac
        |FROM cand
        |JOIN hss s1 ON s1.doc_id = d1
        |JOIN hss s2 ON s2.doc_id = d2
        |JOIN sig g1 ON g1.doc_id = d1
        |JOIN sig g2 ON g2.doc_id = d2""".stripMargin),
    "dedup_simhash" -> (simhashCandSql +
      "SELECT d1, d2, hamming FROM cp WHERE hamming <= 2"),
    "simhash_hamming_profile" -> (simhashCandSql +
      "SELECT hamming, COUNT(*) AS n_pairs FROM cp GROUP BY hamming"),
    "ngram_jaccard" ->
      s"""WITH g AS (
        |  SELECT doc_id, lang, source, list_distinct(list_transform(
        |    generate_series(1, length(text) - 3), i -> substring(text, i, 4))) AS g
        |  FROM documents WHERE length(text) >= 4),
        |lc AS (
        |  SELECT lang, source, $capSql AS nsub
        |  FROM g GROUP BY lang, source),
        |sb AS (
        |  SELECT g.*, g.doc_id % lc.nsub AS sub
        |  FROM g JOIN lc USING (lang, source))
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  len(list_intersect(a.g, b.g)) /
        |    len(list_distinct(list_concat(a.g, b.g))) AS jac
        |FROM sb a, sb b
        |WHERE a.lang = b.lang AND a.source = b.source AND a.sub = b.sub
        |  AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n AS (
         |  SELECT * FROM (
         |    SELECT vec_id, label, v,
         |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
         |    FROM e)
         |  WHERE nrm > 0),
         |lc AS (
         |  SELECT label,
         |    $capSql
         |      AS nsub
         |  FROM n GROUP BY label),
         |sb AS (
         |  SELECT n.*, n.vec_id % lc.nsub AS sub FROM n JOIN lc USING (label))
         |SELECT a.vec_id AS d1, b.vec_id AS d2,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
         |    (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
         |FROM sb a, sb b
         |WHERE a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
         |  AND list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
         |    (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3""".stripMargin)
}
