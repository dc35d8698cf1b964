package graft.streaming

import graft.Tables
import graft.Tables.t
import graft.functions.Parity._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming surface: the reference is a streaming system end-to-end, so the
  * engine exposes the same semantics through Structured Streaming —
  * windowed throughput aggregation (the continuous form of
  * topic_throughput) and compaction-as-state (the continuous form of
  * compact).
  *
  * The batch entries below are the exact batch-equivalents (same arithmetic
  * on the same data), which is what makes them oracle-checkable; the
  * streaming execution path itself is exercised in StreamingSpec via
  * readStream + memory sink, asserting stream == batch.
  *
  * Scale: windows are keyed by (window, topic) — bounded state with
  * watermark eviction; compaction state is one record per key, the same
  * cardinality a compacted topic would hold.
  */
object Streams {

  /** Batch-equivalent of the 15-minute windowed throughput aggregation. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("tms", nsToMs("ts"))
      .withColumn("win_ms", expr("(tms div 900000) * 900000"))
      .groupBy("win_ms", "event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum(money(col("value"))).as("sum_val"))

  /** The same aggregation as a streaming transform (15-minute tumbling
    * windows on event time with a 1-hour watermark).
    */
  def windowedAgg(stream: DataFrame): DataFrame =
    stream
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "15 minutes"), col("event_type"))
      // Decimal sum, exactly like the batch equivalent and the oracle —
      // raw double sums are order-dependent and would make stream != batch.
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("double").as("sum_val"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("event_type"), col("n"), col("sum_val"))

  /** Session-window aggregation (30-minute gap) — works identically over a
    * batch or streaming frame; the streaming test runs it both ways.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("session_window.start")).as("start_ms"),
        col("n_events"))

  /** Streaming idempotent-producer dedup: drop duplicate (producer, seq)
    * pairs with watermark-bounded state (dropDuplicatesWithinWatermark) —
    * the continuous analog of Transactions.producerDedup; the reference's
    * per-partition producer-state map (storage/ProducerAppendInfo.java) is
    * exactly this bounded keyed state.
    */
  def producerDedupStream(stream: DataFrame): DataFrame =
    stream
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .withColumn("producer_id", pmod(col("user_id"), lit(16L)))
      .withColumn("seq", expr("event_id div 20"))
      .dropDuplicatesWithinWatermark("producer_id", "seq")

  /** Streaming READ_COMMITTED isolation — the continuous analog of
    * [[graft.txn.Transactions.readCommitted]]: records of aborted
    * transactions are filtered as they arrive. The aborted-txn "index"
    * the reference keeps per partition (storage/AbortedTxn.java) is the
    * same broadcast-sized txn_id -> fate map the batch path uses, folded
    * into a stateless codegen'd md5 predicate — no streaming state at
    * all, so the filter scales to any stream rate.
    */
  def readCommittedStream(stream: DataFrame): DataFrame =
    stream
      .withColumn("txn_id", pmod(col("event_id"), lit(64L)))
      .filter(graft.txn.Transactions.txnFate(col("txn_id")) =!= "ABORTED")

  /** Stream-stream interval join — the continuous analog of
    * [[graft.analytics.Analytics.rangeJoinEvents]]: every non-signup event
    * joins the same user's signup it follows within one hour. Both sides
    * carry a 1-hour watermark, so the join state is bounded: a buffered
    * signup is evicted once the event-side watermark passes signup + 1h,
    * and inner-join matches emit eagerly (no watermark wait). Takes the
    * two sides as separate streaming frames (callers typically pass two
    * readers over the same staged source).
    * Ref: continuous form of the reference's time-bounded fetch/replay
    * semantics (MessageFetchContext.java); StreamingSpec pins
    * stream == batch range_join_events.
    */
  def intervalJoinStream(events: DataFrame, signups: DataFrame): DataFrame = {
    // ms-truncated event time (ts div 1e6, the batch twin's tms) — NOT the
    // microsecond ts div 1000: the [s_ts, s_ts + 1h) bounds must be
    // bit-identical to rangeJoinEvents' millisecond comparison, or a pair
    // landing in the same millisecond / exactly on the 1h boundary would
    // disagree between stream and batch.
    def withEts(df: DataFrame) =
      df.withColumn("ets", timestamp_millis(nsToMs("ts")))
    val s = withEts(signups).filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("signup_id"),
        col("ets").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val e = withEts(events).filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("event_id"), col("ets").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    e.join(s,
      col("user_id") === col("su") &&
        col("e_ts") >= col("s_ts") &&
        col("e_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("signup_id"), col("event_id"),
        (unix_millis(col("e_ts")) - unix_millis(col("s_ts")))
          .as("ms_after_signup"))
  }

  final case class Ev(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Latest(topic: String, k: String, event_id: Long,
      tms: Long, v: String)

  /** Streaming log compaction: keep the latest record per (topic, key) via
    * explicit state (the continuous analog of LogOps.compact).
    */
  def latestPerKey(spark: SparkSession, events: Dataset[Ev]): Dataset[Latest] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.event_type, e.user_id.toString))
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout) {
        case ((topic, k), evs, state: GroupState[Latest]) =>
          val incoming = evs.map(e =>
            Latest(topic, k, e.event_id, e.ts / 1000000L, e.props))
          val all = state.getOption.iterator ++ incoming
          val latest = all.maxBy(l => (l.tms, l.event_id))
          state.update(latest)
          latest
      }
  }

  final case class BloomState(words: Array[Long])
  final case class BloomVerdict(doc_id: Long, bucket: Int, n_bits: Int,
      n_old: Int)

  /** Streaming Bloom dedup — the constant-memory continuous form of
    * [[graft.llm.Dedup]]'s dedup_bloom. The m=4096-bit filter shards into
    * 16 buckets of 256 bits; each bucket is a flatMapGroupsWithState group
    * whose ENTIRE state is four longs, so unlike dropDuplicates* (state
    * grows with distinct keys) the filter's memory is constant for any
    * stream length — the property that makes Bloom dedup viable on an
    * unbounded ingest. Docs explode in-row to their k=4 bit positions
    * (the batch op's exact md5 spelling); each bucket applies its batch's
    * bits in doc_id order (so replays match the batch first-setter rule)
    * with a doc's DUPLICATE bits counted once, and emits per (doc, bucket)
    * how many distinct bits were already set by EARLIER docs. A doc is
    * flagged when all its bits were old: sum(n_old) == sum(n_bits) over
    * its buckets. StreamingSpec pins stream == batch flagged set.
    *
    * Parity precondition: doc_id order holds only WITHIN a micro-batch —
    * equality with the batch first-setter rule additionally requires
    * micro-batches to arrive in globally nondecreasing doc_id order (a
    * replayed log, or StreamingSpec's single-file source). Under
    * arbitrary arrival order the verdicts are still a valid Bloom dedup,
    * but first-setter is ARRIVAL order, not doc_id order, and may differ
    * from the batch view. Memory: the persistent state is four longs per
    * bucket; the per-trigger sort buffers one bucket's micro-batch slice
    * (transient, O(trigger size), released at trigger end) — the
    * constant-memory claim is about STATE across an unbounded stream,
    * not the per-trigger working set.
    */
  def bloomDedupStream(spark: SparkSession, docs: DataFrame)
      : Dataset[BloomVerdict] = {
    import spark.implicits._
    docs
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3), j -> cast(
          |  cast(conv(substring(md5(concat('bloom#', j, '#', text)),
          |    1, 14), 16, 10) AS bigint) % 4096 AS int))""".stripMargin))
        .as("bit"))
      .as[(Long, Int)]
      .groupByKey(_._2 / 256)
      .flatMapGroupsWithState[BloomState, BloomVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state) =>
          val words = state.getOption.map(_.words)
            .getOrElse(Array.fill(4)(0L))
          // one sort, then a single fold over doc_id runs — no groupBy
          // Map materialized; a doc's duplicate bits dedupe via the tiny
          // per-doc set (k = 4 bits)
          val sorted = rows.toArray
          scala.util.Sorting.quickSort(sorted)
          val out = Iterator.unfold(0) { i =>
            if (i >= sorted.length) None
            else {
              val docId = sorted(i)._1
              var j = i
              var nBits = 0
              var nOld = 0
              var prev = -1
              while (j < sorted.length && sorted(j)._1 == docId) {
                val b = sorted(j)._2 - bucket * 256
                if (b != prev) { // sorted, so dup bits are adjacent
                  nBits += 1
                  if ((words(b / 64) & (1L << (b % 64))) != 0L) nOld += 1
                  words(b / 64) |= 1L << (b % 64)
                  prev = b
                }
                j += 1
              }
              Some((BloomVerdict(docId, bucket, nBits, nOld), j))
            }
          }.toVector
          state.update(BloomState(words))
          out.iterator
      }
  }

  final case class CdcState(lastV: Option[String], n: Long)
  final case class Cdc(topic: String, k: String, event_id: Long, v: String,
      prev_v: Option[String], op: String)

  /** Streaming change-data-capture: each key's record chain emitted with
    * its previous value and an I/U op — the continuous analog of
    * LogOps.cdcView (state = last value per key, the same cardinality a
    * compacted topic holds). Records inside a micro-batch are applied in
    * event-id order so replays match the batch view exactly.
    */
  def cdcPerKey(spark: SparkSession, events: Dataset[Ev]): Dataset[Cdc] = {
    import spark.implicits._
    events
      .groupByKey(e => (e.event_type, e.user_id.toString))
      .flatMapGroupsWithState[CdcState, Cdc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((topic, k), evs, state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(None, 0L))
          val out = evs.toSeq.sortBy(_.event_id).map { e =>
            val row = Cdc(topic, k, e.event_id, e.props, st.lastV,
              if (st.n == 0L) "I" else "U")
            st = CdcState(Option(e.props), st.n + 1L)
            row
          }
          state.update(st)
          out.iterator
      }
  }

  /** Continuous PII audit — the scrub pass as a streaming ingest stage:
    * per arriving document the three regex classes run in-row (stateless,
    * codegen'd), and the per-source rollup carries |sources| rows of
    * state in complete mode. The continuous form of
    * [[graft.llm.Curation.piiScrub]] — a privacy-aware pipeline runs this
    * ON the ingest stream so the audit is current before any batch release
    * cut. StreamingSpec pins stream == batch.
    */
  def piiScrubStream(stream: DataFrame): DataFrame =
    graft.llm.Curation.piiAudit(stream)

  /** Continuous benchmark-contamination screen — decontaminate as an
    * ingest stage: arriving train docs explode into word 5-grams in-row
    * and join the STATIC broadcast benchmark gram set (stateless per
    * record); the per-doc hit accounting runs in update/complete mode
    * with state bounded by CONTAMINATED docs only (the inner gram join
    * drops clean docs before any state is keyed). The screen a release
    * pipeline runs so contamination is known before a benchmark claim,
    * not after. StreamingSpec pins stream == batch decontaminate.
    */
  def decontaminateStream(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame =
    graft.llm.Dedup.wordGrams5(
      stream.filter(col("doc_id") % graft.llm.Dedup.BenchSplitMod =!= 0L))
      .join(broadcast(graft.llm.Dedup.benchGrams(spark, dir)), "gram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_hits"),
        // streaming forbids COUNT(DISTINCT); the distinct-hit count is the
        // size of the per-doc hit-gram set (state = a contaminated doc's
        // matched grams — bounded by its benchmark overlap, not the corpus)
        size(collect_set(col("gram"))).cast("long").as("n_unique_hits"))

  /** Continuous vector-ingest cell monitor — the streaming side of
    * [[graft.llm.Similarity.ivfAppend]]'s append path: arriving
    * embeddings are assigned to the STATIC fitted coarse cells entirely
    * in-row (the 16 centroids fold as one broadcast single-row array —
    * argmax by (cos DESC, cid ASC), the nearestCentroid tie-break, with
    * no per-vector aggregation state), and per-cell populations
    * aggregate in complete mode (state = |cells| rows). The ops feed a
    * vector-store team watches while a batch lands: a cell's arrival
    * share sliding away from its fitted share is the refit signal
    * BEFORE the batch commits. StreamingSpec pins the per-cell counts
    * equal to the batch assignment's.
    */
  def ivfAppendStream(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val cl = graft.llm.Clustering.fittedCentroids(spark, dir)
      .agg(collect_list(struct(col("cid"), col("cv"), col("cnrm")))
        .as("cl"))
    stream
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
      // zero-norm arrivals carry no direction and would abort the
      // stream under ANSI divide-by-zero — same exclusion contract as
      // the batch side's Embeddings.directional
      .filter(col("nrm") > 0.0)
      .crossJoin(broadcast(cl))
      .withColumn("cell", cellFold("v", "nrm"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Continuous chunk-level dedup — the streaming twin of
    * [[graft.llm.Chunking.chunkDedup]]: arriving documents chunk in-row
    * (the same stateless 200/150 window generator — no state, no join),
    * and the per-chunk-hash copy accounting runs as a streaming
    * aggregate in complete mode. The RAG-ingest screen: duplicate
    * windows are known before they reach an embedding index, not after.
    * State = one (count, min-doc) entry per DISTINCT chunk hash — the
    * index's own cardinality, the thing this screen exists to bound.
    * COUNT(DISTINCT doc_id) is not streamable, so the streaming surface
    * is (chunk_hash, n_copies, keep_doc); StreamingSpec pins it equal to
    * batch chunk_dedup on those columns — counts are delivery-order
    * invariant by construction.
    */
  def chunkDedupStream(stream: DataFrame): DataFrame = {
    val (win, stride) = (graft.llm.Chunking.Win, graft.llm.Chunking.Stride)
    stream
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      .filter(col("len") >= 1L)
      .select(col("doc_id"), col("text"), col("len"),
        explode(expr(s"sequence(0L, (len - 1) div $stride)")).as("k"))
      .withColumn("chunk_hash",
        md5(expr(s"substring(text, CAST(k * $stride + 1 AS INT), $win)")))
      .groupBy("chunk_hash")
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_copies") > 1L)
  }

  /** Continuous schema discovery — the streaming twin of
    * [[graft.registry.SchemaRegistry.schemaFirstSeen]]: arriving payloads
    * explode into their JSON fields in-row and each (topic, field) pair
    * is emitted exactly ONCE, on first arrival (dropDuplicates state =
    * one marker per known pair — the registered inventory's own
    * cardinality, not the stream's). This is the ingest-side drift
    * monitor: a field missing from the registry shows up in this feed
    * within one micro-batch of its first record, before any batch
    * schema_infer pass would see it. StreamingSpec pins the discovered
    * set equal to the batch inventory under both in-order and shuffled
    * multi-batch delivery (the SET is delivery-order-invariant even
    * though which replica record triggers the emission is not).
    */
  def schemaDiscoveryStream(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    stream
      .select(col("event_type").as("topic"),
        explode_outer(from_json(col("props"),
          MapType(StringType, StringType))).as(Seq("field", "fval")))
      .filter(col("field").isNotNull)
      .select("topic", "field")
      .dropDuplicates("topic", "field")
  }

  /** In-row nearest-centroid argmax over the broadcast fitted-centroid
    * list `cl` — the ONE spelling of the (cos DESC, cid ASC) tie-break
    * that [[ivfAppendStream]] and [[annServeStream]] share with the
    * batch side's Clustering.nearestCentroid; a drift between the two
    * streaming copies would silently break their batch-parity pins.
    */
  private def cellFold(v: String, nrm: String) = expr(
    s"""aggregate(cl,
       |  named_struct('bc', CAST(-2.0 AS DOUBLE), 'bid', CAST(-1 AS BIGINT)),
       |  (acc, c) -> CASE
       |    WHEN vec_dot($v, c.cv) / ($nrm * c.cnrm) > acc.bc
       |      OR (vec_dot($v, c.cv) / ($nrm * c.cnrm) = acc.bc
       |          AND c.cid < acc.bid)
       |    THEN named_struct('bc', vec_dot($v, c.cv) / ($nrm * c.cnrm),
       |      'bid', c.cid)
       |    ELSE acc END,
       |  acc -> acc.bid)""".stripMargin)

  /** Online vector-query serving — the streaming face of the IVF
    * index: arriving query vectors are assigned to their coarse cell
    * entirely IN-ROW (the ivfAppendStream centroid fold over the
    * broadcast fitted centroids), stream-static joined against the
    * cached (cell, vec_id, v, nrm) serving frame — so each query
    * touches ONE cell's slice, never the corpus — and reduced to their
    * exact-cosine top-3 neighbor ids per query in update-mode state
    * (one bounded struct-sorted list per in-flight query). This is the
    * nprobe=1 serving path a vector store runs online; StreamingSpec
    * pins the per-query neighbor lists equal to the identical batch
    * computation under in-order AND shuffled delivery, self-matches
    * excluded.
    */
  def annServeStream(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val cl = graft.llm.Clustering.fittedCentroids(spark, dir)
      .agg(collect_list(struct(col("cid"), col("cv"), col("cnrm")))
        .as("cl"))
    val static = graft.llm.Similarity.servingIndex(spark, dir)
      .select(col("cell"), col("vec_id").as("n_id"),
        col("v").as("cv2"), col("nrm").as("cnrm2"))
    stream
      .select(col("vec_id").cast("long").as("q_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
      .withColumn("qnrm", expr("sqrt(vec_dot(qv, qv))"))
      .filter(col("qnrm") > 0.0)
      .crossJoin(broadcast(cl))
      .withColumn("cell", cellFold("qv", "qnrm"))
      .drop("cl")
      .join(static, "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos",
        expr("vec_dot(qv, cv2)") / (col("qnrm") * col("cnrm2")))
      .groupBy("q_id")
      .agg(expr(
        """slice(transform(array_sort(collect_list(struct(-cos AS nc,
          |  n_id AS n))), s -> s.n), 1, 3)""".stripMargin).as("top3"))
  }

  /** The live dataset card — the streaming twin of
    * [[graft.llm.TextAnalysis.corpusCard]]'s stateless fields: arriving
    * docs derive their Gopher keep flag entirely IN-ROW (the
    * array_counts combiner instead of batch's explode+groupBy — same
    * values, no per-doc shuffle state), and one complete-mode rollup
    * keeps the per-source population / char-mass / keep counts current
    * while a crawl lands. State = |sources| rows. The card fields that
    * need corpus-wide distinctness (exact-dup exposure) or two-level
    * aggregation (majority language) are batch-only by design —
    * streaming forbids chained aggregations and COUNT(DISTINCT).
    * StreamingSpec pins (n_docs, total_chars, keep_docs) == the batch
    * card under in-order AND shuffled multi-batch delivery.
    */
  def corpusCardStream(stream: DataFrame): DataFrame = {
    stream
      .withColumn("m", expr("array_counts(split(text, ' '))"))
      .withColumn("n_words",
        expr("aggregate(map_values(m), 0L, (a, x) -> a + x)"))
      .withColumn("sum_len",
        expr("aggregate(map_entries(m), 0L, (a, e) -> a + e.value * length(e.key))"))
      .withColumn("top_n", expr("array_max(map_values(m))"))
      .withColumn("keep",
        when(col("n_words") >= 10L && col("n_words") <= 1000L
          && (col("sum_len") / col("n_words")) >= 2.0
          && (col("sum_len") / col("n_words")) <= 10.0
          && (col("top_n") / col("n_words")) <= 0.2, 1L).otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).cast("long").as("total_chars"),
        sum("keep").cast("long").as("keep_docs"))
  }

  /** Continuous gram discovery — the streaming twin of
    * [[graft.llm.TextAnalysis.ngramNovelty]]: arriving documents explode
    * into their distinct char-8-gram hashes in-row and each gram is
    * emitted exactly ONCE, on first arrival, with the doc that carried
    * it. The ingest-side novelty monitor: the emission RATE decaying
    * toward zero says the incoming source is exhausted — visible within
    * one micro-batch, without waiting for a batch novelty pass.
    * State (dropDuplicates markers) is the corpus's distinct-gram
    * universe — exactly the cardinality the batch window shuffles, and
    * deliberately unbounded for the same reason qualityGateStream's is:
    * evicting a gram would re-report it as novel. StreamingSpec pins
    * the discovered SET equal to the batch distinct grams (and its size
    * to the batch novel mass) under in-order AND shuffled multi-batch
    * delivery; WHICH doc triggers an emission is delivery-order-
    * dependent, the set is not.
    */
  def gramNoveltyStream(stream: DataFrame): DataFrame = {
    stream
      .filter(length(col("text")) >= 8)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(expr("gram_hashes(text, 8, 0)")).as("h"))
      .dropDuplicates("h")
  }

  final case class DocIn(doc_id: Long, h: String, q_reason: String)
  final case class DocVerdict(doc_id: Long, reason: String)

  /** Continuous corpus quality gate — corpus_filter as an ingest stage:
    * the stateless quality rules run in-row via the SAME column
    * expressions as the batch verdicts (TextAnalysis.withQualityCols /
    * qualityReason), and the exact-dup rule is keep-first state per
    * distinct text hash (flatMapGroupsWithState; in-batch arrivals
    * resolve in doc_id order, matching the batch min-id keeper). State
    * is one boolean per distinct text — the same cardinality the batch
    * dedup shuffles. Because duplicate texts share one quality verdict,
    * per-reason accounting is batch-exact regardless of which replica
    * the stream saw first (StreamingSpec pins it, including under
    * shuffled multi-batch delivery); only the per-doc keeper choice is
    * arrival-order-dependent — keep-FIRST here vs the batch keep-min-id,
    * the unavoidable gap for an append-mode screen that cannot retract a
    * verdict once a smaller doc_id shows up late.
    *
    * State: NoTimeout is deliberate — evicting a text hash would
    * re-admit its next duplicate, so state must live as long as the
    * dedup horizon; its size is bounded by the distinct-text universe
    * (exactly what the batch dedup shuffles), not by stream length. A
    * retention-bounded deployment would swap in an event-time timeout
    * equal to its dedup window.
    */
  def qualityGateStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val marked = graft.llm.TextAnalysis.withQualityCols(stream)
      .withColumn("q_reason", graft.llm.TextAnalysis.qualityReason)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("h"), col("q_reason"))
      .as[DocIn]
    marked.groupByKey(_.h)
      .flatMapGroupsWithState[Boolean, DocVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Boolean]) =>
          var seen = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            if (seen) DocVerdict(d.doc_id, "dup")
            else { seen = true; DocVerdict(d.doc_id, d.q_reason) }
          }
          state.update(seen)
          out.iterator
      }.toDF()
  }

  /** Online length-outlier screen — the production deployment of
    * [[graft.llm.TextAnalysis.docLengthOutliers]]: per-source
    * median/MAD thresholds fit OFFLINE on the at-rest corpus broadcast
    * into the stream, each arriving doc flagged in-row when its length
    * sits beyond 5 MAD of its source's median — fit-offline /
    * screen-online, the [[anomalyAlertStream]] shape pointed at ingest.
    * Stateless (no stream-side aggregation at all), so it scales to any
    * ingest rate and is delivery-order invariant by construction;
    * StreamingSpec pins the streamed flag set == the batch outlier doc
    * set under shuffled multi-batch delivery.
    */
  def lengthScreenStream(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val fit = graft.llm.TextAnalysis.docLengthOutliers(spark, dir)
      .select("source", "med_chars", "mad_chars")
    stream
      .join(broadcast(fit), "source")
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
      .filter(col("dev") > col("mad_chars") * 5L)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        col("dev").cast("long").as("dev"))
  }

  /** Live language-mix monitor — the streaming twin of
    * [[graft.llm.TextAnalysis.langMix]]: arriving docs score their
    * marker hits in-row (the shared withLangMixScores spelling, so the
    * mixed rule cannot diverge from batch) and ONE complete-mode rollup
    * keeps per-source mixed / zero-evidence counts current while a
    * crawl lands — a source whose mixed share climbs mid-ingest is
    * switching language mid-crawl, visible batches before any offline
    * pass. State = |sources| rows; count aggregation is delivery-order
    * invariant, and StreamingSpec pins the final counts == batch under
    * in-order AND shuffled delivery.
    */
  def langMixStream(stream: DataFrame): DataFrame =
    graft.llm.TextAnalysis.withLangMixScores(stream)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("second") > 0L && col("second") * 3L >= col("best"),
          1L).otherwise(0L)).cast("long").as("n_mixed"),
        sum(when(col("best") === 0L, 1L).otherwise(0L)).cast("long")
          .as("n_nohit"))

  /** Live character-class composition monitor — the streaming twin of
    * [[graft.llm.TextAnalysis.charClassProfile]], via the same shared
    * rollup spelling (the withLangMixScores discipline): per arriving
    * source the letter/digit/space/other shares in basis points,
    * complete-mode with one bounded counter row per source. The ingest
    * dashboard that catches a markup/binary-junk spike in the CURRENT
    * crawl batch instead of the nightly batch profile; pure counters,
    * so the result is delivery-order invariant (StreamingSpec-pinned
    * == batch under in-order AND shuffled delivery).
    */
  def charClassStream(stream: DataFrame): DataFrame =
    graft.llm.TextAnalysis.charClassRollup(stream)

  /** Live token-length histogram — the streaming twin of
    * [[graft.llm.TextAnalysis.tokenLenProfile]]: arriving docs fold
    * their token lengths in-row (array_counts over the length array, so
    * at most ~30 rows per doc reach the aggregation) and ONE
    * complete-mode rollup keeps the (source, tok_len) histogram
    * current. Bounded state (|sources| x |lengths| counter rows);
    * counters are delivery-order invariant (StreamingSpec pins == batch
    * under in-order AND shuffled delivery).
    */
  def tokenLenStream(stream: DataFrame): DataFrame =
    graft.llm.TextAnalysis.tokenLenRollup(stream)

  /** Continuous HLL register maintenance — the streaming half of
    * [[graft.analytics.Analytics.hllDistinctEval]], via the SAME shared
    * register rollup (hllRegisterRollup), so the sketch spelling cannot
    * diverge from batch: arriving events hash in-row and ONE
    * complete-mode max-per-register aggregation keeps the (event_type,
    * idx) → max rho table current. This is the mergeability HLL exists
    * for at 100 TB — max is commutative/idempotent, so the registers
    * are delivery-order invariant (StreamingSpec pins == batch under
    * in-order AND shuffled delivery) and the raw estimate derived from
    * the final table is bit-identical to the batch evaluation's. State
    * is bounded at |types| × 4096 counter rows at ANY data volume.
    */
  def hllRegisterStream(stream: DataFrame): DataFrame =
    graft.analytics.Analytics.hllRegisterRollup(stream)

  /** Live per-tenant throughput — the streaming twin of
    * [[graft.admin.Admin.tenantSummary]]'s record/byte core, via the
    * shared tenant draw (Admin.tenantCol): arriving records roll up to
    * one counter row per tenant (complete mode, |tenants| state rows) —
    * the per-tenant ingest dashboard the TenantContextManager's
    * tenant-keyed coordinators imply. Counters are delivery-order
    * invariant; StreamingSpec pins the final rows == the batch
    * tenant_summary projection.
    */
  def tenantThroughputStream(stream: DataFrame): DataFrame =
    stream
      .select(graft.admin.Admin.tenantCol(col("event_type")).as("tenant"),
        (length(col("props")) +
          length(col("user_id").cast("string"))).cast("long").as("bytes"))
      .groupBy("tenant")
      .agg(count(lit(1)).as("n_records"),
        sum("bytes").cast("long").as("approx_bytes"))

  /** Sliding-window throughput as a continuous query — the streaming
    * half of [[graft.analytics.Analytics.rollingThroughput]]: a
    * 5-minute window sliding by 1 minute over event time, so each
    * emitted (type, window) row is the same 5-minute trailing volume
    * the batch RANGE frame computes for the window's last minute.
    * StreamingSpec pins every batch row against its stream window.
    */
  def rollingThroughputStream(stream: DataFrame): DataFrame =
    stream
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "5 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("roll_n"))
      .select(expr("unix_millis(window.start) div 60000 + 4").as("minute"),
        col("event_type"), col("roll_n"))

  /** Continuous anomaly alerting — the streaming consumer of the batch
    * MAD thresholds: per-minute counts aggregate over event time
    * (update mode, one row of state per open minute) against the
    * STATIC broadcast (type, med, mad) threshold frame fitted by the
    * batch [[graft.analytics.Analytics.anomalyDev]]; rows where
    * |n - med| > 3*mad are the page-worthy alerts. The fit-batch /
    * score-stream split is the production shape: thresholds refresh on
    * the batch cadence, scoring is continuous. StreamingSpec pins the
    * final per-minute alert set == batch anomaly_minutes.
    */
  def anomalyAlertStream(spark: SparkSession, dir: String,
      stream: DataFrame): DataFrame = {
    val thresholds = graft.analytics.Analytics.anomalyDev(spark, dir)
      .select("event_type", "med", "mad").distinct()
    stream
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_millis(window.start) div 60000").as("minute"),
        col("event_type"), col("n"))
      .join(broadcast(thresholds), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
      .filter(col("dev") > lit(3L) * col("mad"))
  }

  final case class LastEv(ts: Long, event_id: Long, event_type: String)
  final case class Trans(user_id: Long, from_type: String, to_type: String)

  /** Shared state-advance rule for the transition feed: an arrival
    * strictly newer than the stored last event (ordered by (ts,
    * event_id)) emits its (prev -> next) pair and becomes the new state;
    * a LATE arrival — one an already-processed event outranks — is
    * dropped without touching state (its retroactive pair cannot be
    * emitted without retracting append-mode output already released, and
    * overwriting state with it would corrupt every later pair). One rule
    * shared by [[transitionsStream]] and the spec's state observer, so
    * the two cannot diverge.
    */
  private[graft] def stepTransition(last: LastEv, ts: Long, id: Long,
      tpe: String): (LastEv, Option[LastEv]) =
    last match {
      case null => (LastEv(ts, id, tpe), None)
      case l if ts > l.ts || (ts == l.ts && id > l.event_id) =>
        (LastEv(ts, id, tpe), Some(l))
      case l => (l, None)
    }

  /** Continuous event-type transition feed — the streaming half of the
    * batch [[graft.analytics.Analytics.eventTransitions]] matrix: state
    * is one (ts, id, type) triple per user, in-batch arrivals resolve in
    * (ts, event_id) order, and each arrival newer than the stored last
    * event emits its (prev, next) pair by chaining from it
    * ([[stepTransition]]). Under in-order delivery (any number of
    * micro-batches) aggregating the emitted pairs reproduces the batch
    * matrix exactly; an out-of-order arrival is dropped as late data
    * rather than silently corrupting the chain, so the final state is
    * the true (ts, event_id)-latest event no matter the delivery order
    * (StreamingSpec pins both).
    *
    * State: one triple per user with NoTimeout — deliberately unbounded
    * in TIME but bounded in SIZE by the user universe (the same
    * cardinality the batch lag window shuffles); a deployment with
    * unbounded key churn would add an inactivity timeout like
    * [[sessionTimeoutStream]]'s.
    */
  def transitionsStream(events: DataFrame): Dataset[Trans] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEv, Trans](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[LastEv]) =>
          var last = state.getOption.orNull
          val out = rows.toSeq.sortBy(e => (e._2, e._3)).flatMap {
            case (_, ts, id, tpe) =>
              val (next, prev) = stepTransition(last, ts, id, tpe)
              last = next
              prev.map(l => Trans(uid, l.event_type, tpe))
          }
          state.update(last)
          out.iterator
      }
  }

  final case class PathState(evs: Seq[(Long, Long, String)], nSeen: Long)
  final case class PathRow(user_id: Long, path: String, n_seen: Long)

  /** Continuous first-trajectory tracker — the streaming half of the
    * batch [[graft.analytics.Analytics.eventPaths]]: per user the state
    * is the THREE (ms, event_id)-smallest events seen so far, and each
    * micro-batch that improves the set emits the updated '>'-path with
    * a monotone per-user arrival counter (the row with the max counter
    * IS the final answer). Unlike the transition chain, keep-3-min is a
    * commutative idempotent merge, so the FINAL state is delivery-order
    * INVARIANT by construction — late data refines rather than corrupts
    * (StreamingSpec pins the final path histogram == batch event_paths
    * under shuffled chunked delivery).
    *
    * State: <= 3 triples per user, NoTimeout — bounded in size by the
    * user universe, the same cardinality the batch window shuffles.
    */
  def firstPathStream(events: DataFrame): Dataset[PathRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        expr("ts div 1000000").as("tms"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PathState, PathRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[PathState]) =>
          val prev = state.getOption.getOrElse(PathState(Nil, 0L))
          val rs = rows.toSeq
          val merged = (prev.evs ++ rs.map(e => (e._2, e._3, e._4)))
            .distinct.sortBy(e => (e._1, e._2)).take(3)
          val next = PathState(merged, prev.nSeen + rs.size)
          state.update(next)
          if (merged == prev.evs) Iterator.empty
          else Iterator(PathRow(uid, merged.map(_._3).mkString(">"),
            next.nSeen))
      }
  }

  /** A table as a file-source stream, canonicalized to the batch contract —
    * the one staging definition every runner and spec shares (a divergence
    * here, e.g. maxFilesPerTrigger or a schema source change, must hit all
    * of them identically). The stream MUST declare the file's native schema
    * ([[Tables.rawSchema]]) and canonicalize afterwards: forcing the
    * batch-canonical bigint schema onto a TIMESTAMP(MICROS) parquet file
    * makes Spark emit raw micros — 1000x off the nanos contract.
    *
    * Delivery contract: the staged table is ONE file, so this source
    * yields a single in-order micro-batch. The stateful screens are also
    * exercised under adversarial multi-batch / shuffled delivery in
    * StreamingSpec via its chunked staging helper, which is where the
    * out-of-order guarantees ([[stepTransition]]'s late-drop, the session
    * merge's max-end, the quality gate's order-invariant reason counts)
    * are pinned.
    */
  def tableStream(spark: SparkSession, dir: String, table: String): DataFrame =
    Tables.canonTs(
      spark.readStream.schema(Tables.rawSchema(spark, dir, table))
        .parquet(stageStreamDir(dir, table)))

  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "events")

  /** Run a streaming query to the end of its input into the memory sink
    * `name` (stopped even if the run fails) and return the sink's table.
    */
  private def runToMemory(ds: Dataset[_], mode: OutputMode,
      name: String): DataFrame = {
    val q = ds.writeStream.outputMode(mode).format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    ds.sparkSession.table(name)
  }

  /** Run [[cdcPerKey]] as a real streaming query and return the emitted
    * change rows.
    */
  def runCdcStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = eventStream(spark, dir).as[Ev]
    runToMemory(cdcPerKey(spark, stream), OutputMode.Append, "graft_cdc_stream")
  }

  final case class SessState(start: Long, last: Long, n: Long)
  final case class Sess(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Sessionization with explicit timeout-driven closing: sessions that
    * end inside a micro-batch are emitted immediately; each user's open
    * tail session is held in state with an event-time timeout at
    * last + gap, so the watermark closes it — the state-eviction pattern
    * every long-running streaming sessionizer needs (bounded state, no
    * per-key leak). Emitted sessions are exactly rows of the batch
    * [[graft.analytics.Analytics.sessionize]] (StreamingSpec asserts the
    * subset match); only tail sessions the watermark has not passed stay
    * pending.
    */
  def sessionTimeoutStream(spark: SparkSession, events: DataFrame)
      : Dataset[Sess] = {
    import spark.implicits._
    val gap = 1800000L
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", "1 hour")
      // The watermark column itself must reach the stateful operator —
      // projecting it into a long would drop the event-time tag.
      .select(col("user_id"), col("ets"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, Sess](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Sess(uid, s.start, s.last, s.n))
          } else {
            val ts = rows.map(_._2.getTime).toArray.sorted
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer[Sess]()
            ts.foreach { t =>
              st match {
                case null => st = SessState(t, t, 1L)
                case s if t - s.last > gap =>
                  closed += Sess(uid, s.start, s.last, s.n)
                  st = SessState(t, t, 1L)
                case s =>
                  // max, not t: a late-but-within-watermark arrival (t <
                  // s.last, possible across micro-batches) merges into the
                  // open session WITHOUT moving its end backwards — every
                  // arrival increments exactly one session's count, so
                  // event totals are conserved under any delivery order.
                  st = SessState(s.start, math.max(s.last, t), s.n + 1L)
              }
            }
            state.update(st)
            // Close the tail session once event time passes last + gap —
            // clamped above the current watermark: an event delivered
            // late-but-within-the-watermark-delay can leave last + gap
            // BELOW the watermark, and setTimeoutTimestamp throws on that
            // (killing the whole query) rather than firing immediately.
            state.setTimeoutTimestamp(
              math.max(st.last + gap, state.getCurrentWatermarkMs() + 1L))
            closed.iterator
          }
      }
  }

  /** The file stream source wants a directory; stage a symlink to the
    * single-file table in a temp dir.
    */
  def stageStreamDir(dir: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory(s"graft_stream_$table")
    val link = Files.createSymbolicLink(d.resolve(s"$table.parquet"),
      Paths.get(s"$dir/$table.parquet").toAbsolutePath)
    // Best-effort cleanup so repeated runs don't accumulate temp dirs.
    // deleteOnExit deletes in REVERSE registration order: the directory
    // must be registered first so the link inside it goes first at exit.
    d.toFile.deleteOnExit()
    link.toFile.deleteOnExit()
    d.toString
  }

  /** Convenience: run [[latestPerKey]] as a real streaming query over a
    * parquet file source and return the final compacted table.
    */
  def runCompactionStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = eventStream(spark, dir).as[Ev]
    // Update-mode memory sink may hold several versions per key; the final
    // state is the max per key.
    runToMemory(latestPerKey(spark, stream), OutputMode.Update,
      "graft_compact_stream")
      .groupBy("topic", "k")
      .agg(max(struct(col("tms"), col("event_id"), col("v"))).as("m"))
      .select(col("topic"), col("k"), col("m.event_id"), col("m.tms"), col("m.v"))
  }

  /** Continuous hot-key monitoring: the Misra-Gries summary maintained per
    * topic in mapGroupsWithState — bounded state (<= k-1 counters per
    * topic) no matter how many distinct keys the stream carries, where a
    * streaming groupBy(key).count would grow without limit. Each trigger
    * emits the refreshed summary; the caller reads the latest version per
    * topic. The state carries the same MG structure the batch aggregator
    * uses, so the stream result obeys the identical epsilon guarantees
    * (asserted against exact batch counts in StreamingSpec).
    */
  def runStreamHeavyHitters(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    import spark.implicits._
    val agg = graft.functions.HeavyHitters.mgAggregator(k)
    val stream = eventStream(spark, dir)
      .select(col("event_type").as("topic"),
        col("user_id").cast("string").as("k"))
      .as[(String, String)]
    val summaries = stream.groupByKey(_._1)
      .mapGroupsWithState[(Long, Map[String, Long]), (String, Long, Map[String, Long])](
        GroupStateTimeout.NoTimeout) {
        case (topic, it, state: GroupState[(Long, Map[String, Long])]) =>
          val (ver, prev) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val buf = scala.collection.mutable.HashMap(prev.toSeq: _*)
          val merged = it.foldLeft(buf)((b, kv) => agg.reduce(b, kv._2))
          val out = agg.finish(merged)
          state.update((ver + 1, out))
          (topic, ver + 1, out)
      }
      .toDF("topic", "ver", "sketch")
    // update-mode memory sink keeps one row per trigger; the freshest
    // version per topic is the live summary.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("topic").orderBy(col("ver").desc)
    runToMemory(summaries, OutputMode.Update, "graft_stream_hh")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("topic"), explode(col("sketch")).as(Seq("k", "est")))
  }

  /** Stream-static enrichment join: the event stream joined per
    * micro-batch against a static dimension (customers keyed by user id) —
    * the canonical Kafka-consumer enrichment topology. The static side is
    * broadcast into every micro-batch, so the streaming side never
    * shuffles: at scale this is the difference between an enrichment that
    * keeps up and one that falls behind its source. Returns the final
    * enriched table (asserted equal to the batch join in StreamingSpec).
    */
  def runStreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(spark, dir)
    val dim = broadcast(t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    runToMemory(stream
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(dim, col("user_id") === col("c_custkey"), "left")
      .groupBy("event_type", "c_mktsegment")
      .agg(count(lit(1)).as("n")), OutputMode.Complete, "graft_stream_static")
  }

  /** Continuous latency-histogram sketch: the streaming form of
    * BrokerOps.latencyHdrSketch, using the SAME sample pricing
    * (BrokerOps.withLatency) and the SAME bucketing (BrokerOps.hdrHist) —
    * bucket counts are monoid state, so the complete-mode aggregation's
    * state is bounded by the bucket universe (apis x ~176 rows) no matter
    * how long the stream runs, where a raw-value distribution would grow
    * with distinct latencies. StreamingSpec pins stream == batch on the
    * full histogram.
    */
  def runStreamLatencySketch(spark: SparkSession, dir: String): DataFrame = {
    val samples = graft.log.BrokerOps.withLatency(
      eventStream(spark, dir)
        .select(col("event_id"), col("props").as("v")))
    runToMemory(graft.log.BrokerOps.hdrHist(samples), OutputMode.Complete,
      "graft_stream_latency")
  }

  /** Streaming glog sink: append each micro-batch to a glog store as new
    * segments, continuing every partition's offset sequence from the
    * store's current end offsets — the broker's produce-side append
    * (storage/PartitionLog.appendRecords) as a streaming sink. Together
    * with the glog MicroBatchStream source this closes the Kafka
    * source/sink loop over the engine's own storage. Returns the number
    * of micro-batches written.
    */
  def runGlogIngest(spark: SparkSession, dir: String, outPath: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val stream = eventStream(spark, dir)
    var batches = 0L
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        val spk = batch.sparkSession
        import spk.implicits._
        // Idempotence: a retried/re-delivered micro-batch first removes
        // anything a previous attempt of this (or a later) batch wrote, so
        // the end offsets below count only fully committed earlier batches
        // — the sink analog of the broker's producer-state dedup.
        graft.sources.Glog.dropBatchSegments(outPath,
          spk.sparkContext.hadoopConfiguration, batchId)
        val ends = graft.sources.Glog.listEnds(outPath,
          spk.sparkContext.hadoopConfiguration)
        val endsDf = ends.toSeq.map { case (key, e) =>
          val Array(t, p) = key.split("/", 2)
          (t, p.toLong, e)
        }.toDF("topic", "part", "prev_end")
        val w = Window.partitionBy("topic", "part").orderBy("event_id")
        val recs = batch
          .select(col("event_type").as("topic"),
            pmod(col("user_id"), lit(8L)).as("part"),
            nsToMs("ts").as("tms"), col("event_id"),
            col("user_id").cast("string").as("k"), col("props").as("v"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .join(broadcast(endsDf), Seq("topic", "part"), "left")
          .withColumn("offs",
            coalesce(col("prev_end"), lit(0L)) + col("rank") - 1L)
          .select("topic", "part", "offs", "event_id", "tms", "k", "v")
          .as[graft.sources.Glog.Rec]
        graft.sources.Glog.writeSegments(recs, outPath, s"segment-b$batchId")
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches
  }

  /** Live log-end offsets over the glog tail source: a complete-mode
    * streaming aggregation keeps per-(topic, part) end offsets and record
    * counts current as segments append — the continuous form of
    * ListOffsets / the input side of a lag monitor.
    */
  def runLogEndStream(spark: SparkSession, storePath: String): DataFrame =
    runToMemory(spark.readStream.format("glog").load(storePath)
      .groupBy("topic", "part")
      .agg((max("offs") + 1L).as("log_end"), count(lit(1)).as("n")),
      OutputMode.Complete, "graft_log_end")

  /** Continuous consumer-lag monitor: the lag-monitor topology every Kafka
    * operator runs — the glog tail's live log-end joined against the
    * committed-offset ledger, as one complete-mode aggregation. The
    * committed side (groups x partitions — metadata-sized) broadcasts into
    * every micro-batch BEFORE the aggregation, so the streaming state is
    * bounded by the (group, topic, part) universe and the stream never
    * shuffles for the join; lag = live log-end - committed updates as
    * segments append. GlogSpec pins stream == batch Groups.consumerLag.
    */
  def runConsumerLagStream(spark: SparkSession, dir: String,
      storePath: String): DataFrame = {
    val committed = broadcast(graft.coordinator.Groups.commits(spark, dir)
      .select("group_id", "topic", "part", "committed"))
    runToMemory(spark.readStream.format("glog").load(storePath)
      .join(committed, Seq("topic", "part"))
      .groupBy("group_id", "topic", "part", "committed")
      .agg((max("offs") + 1L).as("log_end"))
      .withColumn("lag", col("log_end") - col("committed")),
      OutputMode.Complete, "graft_consumer_lag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_agg" -> streamWindowAgg)

  val oracles: Map[String, String] = Map(
    "stream_window_agg" ->
      """SELECT (epoch_ms(ts) // 900000) * 900000 AS win_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(10,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin)
}
