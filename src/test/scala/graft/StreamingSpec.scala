package graft

import graft.log.LogOps
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming paths produce the same results as their batch equivalents. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  /** Stage `df` as `nChunks` single-file parquets ordered by `order`
    * (ascending mtimes so the file source delivers chunks
    * deterministically), for adversarial multi-batch delivery tests —
    * read back with [[chunkStream]] (maxFilesPerTrigger=1 → one chunk
    * per micro-batch). The global order window is test-only (sf0.001).
    */
  def stageChunks(df: org.apache.spark.sql.DataFrame, nChunks: Int,
      order: org.apache.spark.sql.Column): String = {
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft_chunks")
    d.toFile.deleteOnExit()
    val n = df.count()
    val per = math.max(1L, (n + nChunks - 1) / nChunks)
    val ranked = df
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order)) - 1)
      .withColumn("__chunk", expr(s"__rn div $per").cast("int"))
      .drop("__rn").cache()
    (0 until nChunks).foreach { i =>
      val tmp = d.resolve(s"tmp_$i")
      ranked.filter(col("__chunk") === i).drop("__chunk")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst.get
      val dest = d.resolve(f"chunk-$i%03d.parquet")
      Files.move(part, dest)
      Files.list(tmp).forEach(p => Files.delete(p))
      Files.delete(tmp)
      assert(dest.toFile.setLastModified(1700000000000L + i * 60000L))
      dest.toFile.deleteOnExit()
    }
    ranked.unpersist()
    d.toString
  }

  def chunkStream(staged: String): org.apache.spark.sql.DataFrame =
    spark.readStream
      .schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)

  test("windowed agg: stream == batch") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.windowedAgg(stream).writeStream
      .outputMode("complete")
      .format("memory").queryName("graft_win_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_win_stream")
      .select(col("win_ms"), col("event_type"), col("n"), col("sum_val"))
    val want = Streams.streamWindowAgg(spark, dir)
      .select(col("win_ms"), col("event_type"), col("n"), col("sum_val"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("session windows: stream == batch") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.sessionAgg(stream).writeStream
      .outputMode("complete")
      .format("memory").queryName("graft_session_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_session_stream")
    val want = Streams.sessionAgg(Tables.t(spark, dir, "events"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming read_committed filter == batch aborted-txn predicate") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.readCommittedStream(stream)
      .select("event_id", "txn_id").writeStream
      .outputMode("append").format("memory").queryName("graft_rc_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_rc_stream")
    val want = Tables.t(spark, dir, "events")
      .withColumn("txn_id", pmod(col("event_id"), lit(64L)))
      .filter(!substring(md5(col("txn_id").cast("string")), 1, 1)
        .isin("0", "1", "2"))
      .select("event_id", "txn_id")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // and the kept count matches the batch readCommitted rollup
    val batchTotal = txn.Transactions.readCommitted(spark, dir)
      .agg(sum("n_committed")).head.getLong(0)
    assert(got.count() == batchTotal)
  }

  test("streaming exact dedup == batch distinct") {
    val stream = Streams.tableStream(spark, dir, "documents")
    val q = stream.select(col("doc_id"), md5(col("text")).as("h"))
      .dropDuplicates("h")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_dedup_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_dedup_stream").count()
    val want = Tables.t(spark, dir, "documents")
      .select(md5(col("text"))).distinct().count()
    assert(got == want)
  }

  test("streaming Bloom dedup == batch dedup_bloom flagged set") {
    val stream = Streams.tableStream(spark, dir, "documents")
    val q = Streams.bloomDedupStream(spark, stream).writeStream
      .outputMode("append").format("memory")
      .queryName("graft_bloom_stream").start()
    q.processAllAvailable(); q.stop()
    // a doc is flagged when every one of its distinct bits was set by an
    // earlier doc — sum over its bucket verdicts
    val got = spark.table("graft_bloom_stream")
      .groupBy("doc_id")
      .agg((sum("n_old") === sum("n_bits")).as("flagged"))
    val want = llm.Dedup.bloomVerdicts(spark, dir, Seq(4096))
      .select("doc_id", "flagged")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    assert(got.count() == Tables.t(spark, dir, "documents").count())
    // the state contract: 16 buckets x 4 words regardless of stream size
    assert(spark.table("graft_bloom_stream")
      .select("bucket").distinct().count() <= 16)
  }

  test("streaming Bloom dedup out-of-order batches: arrival-order first-setter") {
    // Adversarial delivery for the documented precondition: two
    // micro-batches arriving in globally DECREASING doc_id order (the
    // high-id half first). Batch-parity is NOT asserted here — the
    // operator's actual contract under arbitrary arrival is
    // first-setter-by-ARRIVAL, pinned against an exact driver-side
    // replay of the same md5 bit spelling.
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
    val staged = stageChunks(docs, 2, col("doc_id").desc)
    val q = Streams.bloomDedupStream(spark, chunkStream(staged)).writeStream
      .outputMode("append").format("memory")
      .queryName("graft_bloom_ooo").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_bloom_ooo")
      .groupBy("doc_id")
      .agg(sum("n_bits").as("n_bits"), sum("n_old").as("n_old"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bits"), r.getAs[Long]("n_old"))).toMap
    // exact replay: per-doc bit positions via the operator's md5
    // spelling, folded over the arrival order (chunk order, doc_id
    // ascending within each chunk — the operator's in-batch sort)
    val bits = docs.select(col("doc_id"), expr(
      """transform(sequence(0, 3), j -> cast(
        |  cast(conv(substring(md5(concat('bloom#', j, '#', text)),
        |    1, 14), 16, 10) AS bigint) % 4096 AS int))""".stripMargin)
      .as("bits")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Int](1).distinct.sorted).toMap
    val ids = bits.keys.toSeq.sorted
    // arrival order from the staged chunk files themselves (filename
    // order = delivery order; doc_id ascending within each chunk = the
    // operator's in-batch sort) — not a re-derivation of stageChunks'
    // split arithmetic, so a split-rule change can't desync the oracle
    val arrival = new java.io.File(staged).listFiles()
      .filter(_.getName.matches("chunk-\\d+\\.parquet")).sortBy(_.getName)
      .flatMap(f => spark.read.parquet(f.getPath).select("doc_id")
        .collect().map(_.getLong(0)).sorted).toSeq
    assert(arrival.sorted == ids)
    val filter = new java.util.BitSet(4096)
    arrival.foreach { id =>
      val bs = bits(id)
      val nOld = bs.count(filter.get)
      bs.foreach(filter.set)
      val (gb, go) = got(id)
      assert(gb == bs.size.toLong, s"doc $id n_bits $gb != ${bs.size}")
      assert(go == nOld.toLong, s"doc $id n_old $go != $nOld (arrival-order)")
    }
    assert(got.size == ids.size)
  }

  test("streaming PII audit == batch pii_scrub") {
    val stream = Streams.tableStream(spark, dir, "documents")
    val q = Streams.piiScrubStream(stream).writeStream
      .outputMode("complete").format("memory").queryName("graft_pii_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_pii_stream")
    val want = llm.Curation.piiScrub(spark, dir)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("streaming contamination screen == batch decontaminate") {
    val stream = Streams.tableStream(spark, dir, "documents")
    val q = Streams.decontaminateStream(spark, dir, stream).writeStream
      .outputMode("complete").format("memory")
      .queryName("graft_decon_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_decon_stream")
    val want = llm.Dedup.decontaminate(spark, dir)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("streaming quality gate == batch corpus_filter per-reason counts") {
    val stream = Streams.tableStream(spark, dir, "documents")
    val q = Streams.qualityGateStream(stream).writeStream
      .outputMode("append").format("memory").queryName("graft_qgate_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_qgate_stream")
    // every doc gets exactly one verdict
    assert(got.count() == Tables.t(spark, dir, "documents").count())
    // duplicate texts share one quality verdict, so per-reason counts are
    // batch-exact no matter which replica the stream kept
    val gotCounts = got.groupBy("reason").count()
    val wantCounts = llm.TextAnalysis.corpusFilter(spark, dir)
      .groupBy("reason").count()
    assert(gotCounts.exceptAll(wantCounts).count() == 0 &&
      wantCounts.exceptAll(gotCounts).count() == 0)
  }

  test("sliding stream windows match batch rolling_throughput") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.rollingThroughputStream(stream).writeStream
      .outputMode("complete").format("memory").queryName("graft_roll_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_roll_stream")
      .select("event_type", "minute", "roll_n")
    val want = analytics.Analytics.rollingThroughput(spark, dir)
      .select("event_type", "minute", "roll_n")
    // every batch minute has its sliding window, with the same count; the
    // stream additionally emits windows whose closing minute was silent
    assert(want.exceptAll(got).count() == 0)
    assert(got.count() >= want.count() && want.count() > 0)
  }

  test("streaming MAD alerts equal batch anomaly_minutes") {
    // sf0.001 minute counts are almost all 1 (dev = 0 everywhere), so the
    // alert set is empty there by construction; the sf0.01 corpus has real
    // spikes and exercises the threshold for real.
    val dir01 = "/root/testdata/sf0.01"
    val stream = Streams.tableStream(spark, dir01, "events")
    val q = Streams.anomalyAlertStream(spark, dir01, stream)
      .select("event_type", "minute", "n", "med", "mad", "dev")
      .writeStream
      .outputMode("complete").format("memory").queryName("graft_alert_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_alert_stream")
    val want = analytics.Analytics.anomalyMinutes(spark, dir01)
      .select("event_type", "minute", "n", "med", "mad", "dev")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    assert(want.count() > 0)
  }

  test("streaming transition feed aggregates to batch event_transitions") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.transitionsStream(stream).writeStream
      .outputMode("append").format("memory").queryName("graft_trans_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_trans_stream")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val want = analytics.Analytics.eventTransitions(spark, dir)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
  }

  test("watermarked producer-seq dedup == batch distinct (producer, seq)") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.producerDedupStream(stream)
      .select("producer_id", "seq").writeStream
      .outputMode("append").format("memory").queryName("graft_pdedup_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_pdedup_stream").count()
    val want = Tables.t(spark, dir, "events")
      .select(pmod(col("user_id"), lit(16L)), expr("event_id div 20"))
      .distinct().count()
    assert(got == want && got > 0)
  }

  test("stream-stream interval join == batch range_join_events") {
    def src() = Streams.tableStream(spark, dir, "events")
    val q = Streams.intervalJoinStream(src(), src()).writeStream
      .outputMode("append").format("memory").queryName("graft_ss_join").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_ss_join")
    val want = graft.analytics.Analytics.rangeJoinEvents(spark, dir)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("streaming READ_COMMITTED filter == batch aborted-txn filter") {
    val stream = Streams.tableStream(spark, dir, "events")
    // Stateless scan-side predicate — identical in batch and streaming.
    def committed(df: org.apache.spark.sql.DataFrame) = df.filter(
      !substring(md5(pmod(col("event_id"), lit(64L)).cast("string")), 1, 1)
        .isin("0", "1", "2"))
    val q = committed(stream).select("event_id").writeStream
      .outputMode("append").format("memory").queryName("graft_rc_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_rc_stream").count()
    val want = committed(Tables.t(spark, dir, "events")).count()
    assert(got == want && got > 0)
  }

  test("timeout-closed streaming sessions match batch sessionize") {
    val stream = Streams.tableStream(spark, dir, "events")
    val q = Streams.sessionTimeoutStream(spark, stream).toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sess_timeout").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_sess_timeout")
      .select("user_id", "start_ms", "end_ms", "n_events")
    val batch = analytics.Analytics.sessionize(spark, dir)
      .select("user_id", "start_ms", "end_ms", "n_events")
    // every emitted session is exactly a batch session...
    assert(got.exceptAll(batch).count() == 0)
    // ...and only each user's watermark-pending tail can be missing
    assert(got.count() >= batch.count() - batch.select("user_id").distinct().count())
    assert(got.count() > 0)
  }

  test("streaming MG summary keeps the epsilon guarantee vs exact counts") {
    val k = 64
    val sketch = Streams.runStreamHeavyHitters(spark, dir, k)
    val exact = LogOps.log(spark, dir).groupBy("topic", "k")
      .agg(count(lit(1)).as("n"))
    val totals = exact.groupBy("topic").agg(sum("n").cast("long").as("total"))
    val joined = sketch.join(exact, Seq("topic", "k")).join(totals, "topic")
    assert(joined.count() == sketch.count()) // every sketched key is real
    assert(joined.filter(col("est") > col("n")).count() == 0)
    assert(joined.filter(col("n") - col("est") > col("total") / k).count() == 0)
    val missing = exact.join(totals, "topic")
      .filter(col("n") > col("total") / k)
      .join(sketch, Seq("topic", "k"), "left_anti")
    assert(missing.count() == 0)
  }

  test("stream-static enrichment join == batch join") {
    val got = Streams.runStreamStaticJoin(spark, dir)
    val want = Tables.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(Tables.t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy("event_type", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("streaming latency sketch == batch histogram, bounded state") {
    val got = Streams.runStreamLatencySketch(spark, dir)
    val want = graft.log.BrokerOps.hdrHist(
      graft.log.BrokerOps.withLatency(
        Tables.t(spark, dir, "events")
          .select(col("event_id"), col("props").as("v"))))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // the state the stream held IS bounded: 4 apis x <= ~176 buckets
    assert(got.count() > 0 && got.count() <= 4 * 176)
  }

  test("streaming CDC == batch cdc_view") {
    val got = Streams.runCdcStream(spark, dir)
      .select("topic", "k", "event_id", "v", "prev_v", "op")
    val want = LogOps.cdcView(spark, dir)
      // offs is a per-(topic, part) coordinate the per-key stream does not
      // carry; everything else must match exactly.
      .join(LogOps.log(spark, dir)
        .select(col("topic"), col("part"), col("offs"), col("event_id")),
        Seq("topic", "part", "offs"))
      .select("topic", "k", "event_id", "v", "prev_v", "op")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("first-path tracker: shuffled delivery converges to batch paths") {
    val events = Tables.t(spark, dir, "events")
    // adversarially shuffled 4-batch delivery: keep-3-min is a
    // commutative idempotent merge, so the FINAL per-user path (the
    // max-n_seen emission) must equal the batch first-3 path exactly —
    // late data refines, never corrupts.
    val shuffled = stageChunks(events, 4,
      md5(concat_ws("#", lit("fpath"), col("event_id"))))
    val q = Streams.firstPathStream(chunkStream(shuffled)).writeStream
      .outputMode("update").format("memory").queryName("graft_fpath").start()
    q.processAllAvailable(); q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalPaths = spark.table("graft_fpath")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("path").agg(count(lit(1)).as("n_users"))
    val want = analytics.Analytics.eventPaths(spark, dir)
      .select("path", "n_users")
    assert(finalPaths.count() > 0)
    assert(finalPaths.exceptAll(want).count() == 0 &&
      want.exceptAll(finalPaths).count() == 0)
  }

  test("transitions: in-order multi-batch == batch; shuffled keeps true state") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val events = Tables.t(spark, dir, "events")
    // (a) IN-ORDER delivery split across 4 micro-batches: cross-batch
    // state chaining must still reproduce the batch matrix exactly.
    val ordered = stageChunks(events, 4, struct(col("ts"), col("event_id")))
    val q1 = Streams.transitionsStream(chunkStream(ordered)).writeStream
      .outputMode("append").format("memory").queryName("graft_trans_mb").start()
    q1.processAllAvailable(); q1.stop()
    val got = spark.table("graft_trans_mb")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val want = analytics.Analytics.eventTransitions(spark, dir)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // (b) ADVERSARIALLY SHUFFLED delivery: run the shared stepTransition
    // rule as a state observer and assert the final per-user state is the
    // true (ts, event_id)-latest event — late arrivals are dropped, never
    // written into state.
    val shuffled = stageChunks(events, 4,
      md5(concat_ws("#", lit("shuf"), col("event_id"))))
    val q2 = chunkStream(shuffled)
      .select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Streams.LastEv, (Long, Long, Long, String)](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var last = state.getOption.orNull
          rows.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, id, tpe) =>
            last = Streams.stepTransition(last, ts, id, tpe)._1
          }
          state.update(last)
          (uid, last.ts, last.event_id, last.event_type)
      }
      .toDF("user_id", "ts", "event_id", "event_type")
      .writeStream.outputMode("update")
      .format("memory").queryName("graft_trans_state").start()
    q2.processAllAvailable(); q2.stop()
    val finalState = spark.table("graft_trans_state")
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.ts"), col("m.event_id"), col("m.event_type"))
    val wantState = events
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.ts"), col("m.event_id"), col("m.event_type"))
    assert(finalState.exceptAll(wantState).count() == 0 &&
      wantState.exceptAll(finalState).count() == 0)
  }

  test("streaming vector ingest assigns cells batch-exact") {
    // The in-row centroid fold must agree with the batch max_by
    // assignment (same (cos DESC, cid ASC) tie-break) — pinned via the
    // per-cell populations, which ivf_cell_balance also reports.
    val stream = Streams.tableStream(spark, dir, "embeddings")
    val q = Streams.ivfAppendStream(spark, dir, stream).writeStream
      .outputMode("complete").format("memory")
      .queryName("graft_ivfapp_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_ivfapp_stream")
    val want = llm.Similarity.ivfCellBalance(spark, dir)
      .select(col("cell"), col("n_vecs"))
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("streaming chunk dedup == batch chunk_dedup under shuffled delivery") {
    // Counts and min-doc are delivery-order invariant; the shuffled
    // 4-batch staging checks exactly that claim (a window's replicas
    // land in different micro-batches in hash order, not doc order).
    val docs = Tables.t(spark, dir, "documents")
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("cd"), col("doc_id"))))
    val q = Streams.chunkDedupStream(chunkStream(staged)).writeStream
      .outputMode("complete").format("memory")
      .queryName("graft_cdedup_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_cdedup_stream")
    val want = llm.Chunking.chunkDedup(spark, dir)
      .select("chunk_hash", "n_copies", "keep_doc")
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("quality gate survives stop/restart from checkpoint exactly-once") {
    // The real recovery contract, not just multi-batch delivery: run the
    // stateful screen over half the chunks to a PARQUET sink with a
    // checkpoint, stop it, reveal the remaining chunks, restart from the
    // same checkpoint, and require the recovered run to (a) not
    // re-emit processed docs (exactly-once sink manifest), (b) restore
    // the dedup state (later replicas of a seen text still verdict
    // "dup"), (c) land batch-exact reason counts.
    import java.nio.file.{Files, Paths}
    val docs = Tables.t(spark, dir, "documents")
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("ckpt"), col("doc_id"))))
    val all = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val stash = Files.createTempDirectory("graft_stash")
    val hidden = all.drop(2)
    hidden.foreach(f =>
      Files.move(f.toPath, stash.resolve(f.getName)))
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val outDir = Files.createTempDirectory("graft_out").toString
    def runOnce(): Unit = {
      val q = Streams.qualityGateStream(chunkStream(staged)).writeStream
        .outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt)
        .start(outDir)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val firstCount = spark.read.parquet(outDir).count()
    assert(firstCount > 0 && firstCount < docs.count())
    hidden.foreach(f =>
      Files.move(stash.resolve(f.getName), Paths.get(staged, f.getName)))
    runOnce()
    val got = spark.read.parquet(outDir)
    assert(got.count() == docs.count())
    assert(got.select("doc_id").distinct().count() == docs.count())
    val gotCounts = got.groupBy("reason").count()
    val wantCounts = llm.TextAnalysis.corpusFilter(spark, dir)
      .groupBy("reason").count()
    assert(gotCounts.exceptAll(wantCounts).count() == 0 &&
      wantCounts.exceptAll(gotCounts).count() == 0)
  }

  test("quality gate reason counts survive shuffled multi-batch delivery") {
    // Chunked md5-shuffled delivery: a text's smallest doc_id frequently
    // arrives AFTER a replica already took the keeper slot, so this pins
    // the delivery-order-invariance argument (duplicate texts share one
    // quality verdict), not just the single-batch happy path.
    val docs = Tables.t(spark, dir, "documents")
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("qg"), col("doc_id"))))
    val q = Streams.qualityGateStream(chunkStream(staged)).writeStream
      .outputMode("append").format("memory").queryName("graft_qgate_mb").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_qgate_mb")
    assert(got.count() == docs.count())
    assert(got.select("doc_id").distinct().count() == docs.count())
    val gotCounts = got.groupBy("reason").count()
    val wantCounts = llm.TextAnalysis.corpusFilter(spark, dir)
      .groupBy("reason").count()
    assert(gotCounts.exceptAll(wantCounts).count() == 0 &&
      wantCounts.exceptAll(gotCounts).count() == 0)
  }

  test("sessions: multi-batch closes to batch-exact; bounded disorder conserves") {
    val tenHoursNs = 36000L * 1000000000L
    val events = Tables.t(spark, dir, "events").select("user_id", "ts")
    val maxTs = events.agg(max("ts")).head.getLong(0)
    // One far-future sentinel per user forces every tail session closed
    // (gap exceeded on arrival), so the emitted set is COMPLETE and can be
    // compared exactly, not as a subset.
    val sentinels = events.select("user_id").distinct()
      .withColumn("ts", lit(maxTs) + lit(tenHoursNs))
    val maxRealMs = maxTs / 1000000L
    def runStaged(staged: String) = {
      val name = s"graft_sess_mb_${staged.hashCode.abs}"
      val q = Streams.sessionTimeoutStream(spark, chunkStream(staged)).toDF()
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      // sentinel-born sessions start after the real data ends; drop them
      spark.table(name).filter(col("start_ms") <= maxRealMs)
    }
    // (a) in-order delivery over 4 micro-batches + sentinel flush: the
    // emitted sessions ARE the batch sessionization, exactly.
    val ordered = stageChunks(events.unionByName(sentinels), 4, col("ts"))
    val got = runStaged(ordered)
      .select("user_id", "start_ms", "end_ms", "n_events")
    val want = analytics.Analytics.sessionize(spark, dir)
      .select("user_id", "start_ms", "end_ms", "n_events")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // (b) disorder bounded under the 1h watermark (±15min jitter): split
    // decisions legitimately differ from batch, but no event is lost or
    // double-counted (per-user totals conserve), no session runs backwards,
    // and each user's latest event still terminates their last session.
    val jitterNs = pmod(conv(substring(
      md5(concat_ws("#", lit("j"), col("user_id"), col("ts"))), 1, 8), 16, 10)
      .cast("long"), lit(900L * 1000000000L))
    val jittered = stageChunks(events.unionByName(sentinels), 4,
      col("ts") + jitterNs)
    val got2 = runStaged(jittered).cache()
    try {
      assert(got2.filter(col("start_ms") > col("end_ms")).count() == 0)
      val perUser = got2.groupBy("user_id").agg(
        sum("n_events").cast("long").as("n"), max("end_ms").as("max_end"))
      val wantPerUser = events.groupBy("user_id").agg(
        count(lit(1)).as("n"), expr("max(ts) div 1000000").as("max_end"))
      assert(perUser.exceptAll(wantPerUser).count() == 0 &&
        wantPerUser.exceptAll(perUser).count() == 0)
    } finally got2.unpersist()
  }

  test("streaming schema discovery == batch field inventory, any order") {
    val want = registry.SchemaRegistry.schemaFirstSeen(spark, dir)
      .select("topic", "field")
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.schemaDiscoveryStream(src).writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    // single-batch in-order staging
    val got = run(Streams.tableStream(spark, dir, "events"), "graft_sdisc1")
    assert(got.count() == got.distinct().count()) // emitted exactly once
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() > 0)
    // shuffled multi-batch delivery: WHICH record triggers an emission is
    // order-dependent, but the discovered set is not
    val staged = stageChunks(Tables.t(spark, dir, "events"), 4,
      md5(concat_ws("#", lit("sd"), col("event_id"))))
    val got2 = run(chunkStream(staged), "graft_sdisc2")
    assert(got2.count() == got2.distinct().count())
    assert(got2.exceptAll(want).count() == 0 && want.exceptAll(got2).count() == 0)
  }

  test("streaming ann serving == batch in-cell top-3, any order") {
    // independent batch twin: the cell self-join ranked by a window
    // (different code path from the stream's struct-sort aggregation)
    val idx = llm.Similarity.servingIndex(spark, dir)
    val q = idx.select(col("cell"), col("vec_id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val want = q.join(idx.select(col("cell"), col("vec_id").as("n_id"),
        col("v").as("cv2"), col("nrm").as("cnrm2")), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos",
        expr("vec_dot(qv, cv2)") / (col("qnrm") * col("cnrm2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "n_id").cache()
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val qry = Streams.annServeStream(spark, dir, src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      qry.processAllAvailable(); qry.stop()
      spark.table(name)
        .select(col("q_id"), posexplode(col("top3")).as(Seq("p", "n_id")))
        .select(col("q_id"), (col("p") + 1L).cast("long").as("rank"),
          col("n_id"))
    }
    val emb = Tables.t(spark, dir, "embeddings")
    val got = run(Streams.tableStream(spark, dir, "embeddings"), "graft_serve1")
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(emb, 4,
      md5(concat_ws("#", lit("serve"), col("vec_id"))))
    val got2 = run(chunkStream(staged), "graft_serve2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
    want.unpersist()
  }

  test("online length screen flags exactly the batch outlier docs") {
    val docs = Tables.t(spark, dir, "documents")
    // batch truth: docs beyond 5 MAD of their source's median
    val fit = llm.TextAnalysis.docLengthOutliers(spark, dir)
      .select("source", "med_chars", "mad_chars")
    val want = docs.join(fit, "source")
      .filter(abs(col("n_chars") - col("med_chars")) >
        col("mad_chars") * 5L)
      .select(col("doc_id").cast("long").as("doc_id"))
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.lengthScreenStream(spark, dir, src).writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("lenscreen"), col("doc_id"))))
    val got = run(chunkStream(staged), "graft_lenscreen")
    assert(got.select("doc_id").exceptAll(want).count() == 0 &&
      want.exceptAll(got.select("doc_id")).count() == 0)
    // flag count matches the batch report's outlier total
    val nOut = llm.TextAnalysis.docLengthOutliers(spark, dir)
      .agg(sum("n_outliers")).first().getLong(0)
    assert(got.count() == nOut)
  }

  test("live language-mix monitor == batch lang_mix, any order") {
    val docs = Tables.t(spark, dir, "documents")
    val want = llm.TextAnalysis.langMix(spark, dir)
      .select("source", "n_docs", "n_mixed", "n_nohit")
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.langMixStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "documents"), "graft_lmix1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("lmix"), col("doc_id"))))
    val got2 = run(chunkStream(staged), "graft_lmix2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
  }

  test("live token-length histogram == batch token_len_profile, any order") {
    val docs = Tables.t(spark, dir, "documents")
    val want = llm.TextAnalysis.tokenLenProfile(spark, dir)
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.tokenLenStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "documents"), "graft_tl1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("toklen"), col("doc_id"))))
    val got2 = run(chunkStream(staged), "graft_tl2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
  }

  test("live char-class monitor == batch char_class_profile, any order") {
    val docs = Tables.t(spark, dir, "documents")
    val want = llm.TextAnalysis.charClassProfile(spark, dir)
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.charClassStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "documents"), "graft_cc1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("cclass"), col("doc_id"))))
    val got2 = run(chunkStream(staged), "graft_cc2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
  }

  test("live dataset card == batch corpus_card stateless fields, any order") {
    val docs = Tables.t(spark, dir, "documents")
    val want = llm.TextAnalysis.corpusCard(spark, dir)
      .select("source", "n_docs", "total_chars", "keep_docs")
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.corpusCardStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "documents"), "graft_card1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("card"), col("doc_id"))))
    val got2 = run(chunkStream(staged), "graft_card2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
  }

  test("streaming gram discovery == batch distinct grams, any order") {
    // The discovered gram SET (and so its size == the batch novel mass)
    // is delivery-order invariant; WHICH doc carries each first-arrival
    // emission is not, so the pin compares `h` sets only.
    val docs = Tables.t(spark, dir, "documents")
    val want = docs.filter(length(col("text")) >= 8)
      .select(explode(expr("gram_hashes(text, 8, 0)")).as("h"))
      .distinct()
    val novelMass = llm.TextAnalysis.ngramNovelty(spark, dir)
      .agg(sum("n_novel")).first().getLong(0)
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.gramNoveltyStream(src).writeStream
        .outputMode("append").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "documents"), "graft_gnov1")
    assert(got.count() == novelMass)
    assert(got.select("h").exceptAll(want).count() == 0 &&
      want.exceptAll(got.select("h")).count() == 0)
    assert(got.count() > 0)
    val staged = stageChunks(docs, 4,
      md5(concat_ws("#", lit("gn"), col("doc_id"))))
    val got2 = run(chunkStream(staged), "graft_gnov2")
    assert(got2.count() == novelMass)
    assert(got2.select("h").exceptAll(want).count() == 0 &&
      want.exceptAll(got2.select("h")).count() == 0)
  }

  test("stateful compaction stream == batch compact") {
    val got = Streams.runCompactionStream(spark, dir)
      .select(col("topic"), col("k"), col("event_id"))
    val want = LogOps.compact(spark, dir)
      // batch compact is per (topic, part, key); part is a function of key,
      // so (topic, key) identifies the same record.
      .join(LogOps.log(spark, dir).select(col("topic"), col("part"),
        col("k"), col("offs"), col("event_id")),
        Seq("topic", "part", "k", "offs"))
      .select(col("topic"), col("k"), col("event_id"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("continuous HLL registers == batch registers, any delivery order") {
    val events = Tables.t(spark, dir, "events")
    val want = analytics.Analytics.hllRegisterRollup(events)
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.hllRegisterStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "events"), "graft_hllr1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // adversarial shuffled multi-batch delivery: max-per-register is
    // merge-order invariant, so the final table must be IDENTICAL
    val staged = stageChunks(events, 4,
      md5(concat_ws("#", lit("hllr"), col("event_id"))))
    val got2 = run(chunkStream(staged), "graft_hllr2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
    // and the batch evaluation's register summaries derive from it:
    // zero registers + occupied == 4096 per type
    val occ = got.groupBy("event_type").count()
    val ev = analytics.Analytics.hllDistinctEval(spark, dir)
      .select(col("event_type"), col("n_zero_registers"))
    assert(occ.join(ev, "event_type")
      .filter(col("count") + col("n_zero_registers") =!= 4096L)
      .count() == 0)
  }

  test("live per-tenant throughput == batch tenant_summary core") {
    val events = Tables.t(spark, dir, "events")
    val want = admin.Admin.tenantSummary(spark, dir)
      .select("tenant", "n_records", "approx_bytes")
    def run(src: org.apache.spark.sql.DataFrame, name: String) = {
      val q = Streams.tenantThroughputStream(src).writeStream
        .outputMode("complete").format("memory").queryName(name).start()
      q.processAllAvailable(); q.stop()
      spark.table(name)
    }
    val got = run(Streams.tableStream(spark, dir, "events"), "graft_tt1")
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val staged = stageChunks(events, 4,
      md5(concat_ws("#", lit("tt"), col("event_id"))))
    val got2 = run(chunkStream(staged), "graft_tt2")
    assert(got2.exceptAll(want).count() == 0 &&
      want.exceptAll(got2).count() == 0)
  }
}
