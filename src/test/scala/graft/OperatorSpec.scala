package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.log.LogOps

/** Per-operator semantic invariants at sf0.001 (fast); exactness against
  * DuckDB is covered by Verify + tools/check_oracle.py.
  */
class OperatorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every oracle key has a query") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k")
    }
    // No module may shadow another's query or oracle name: the merged
    // registry keeps only the LAST entry per key, so a collision would
    // silently drop an operator (or pair a query with the wrong oracle).
    val qDupes = SparkEntry.modules.flatMap(_._1.keys)
      .groupBy(identity).filter(_._2.size > 1).keys
    assert(qDupes.isEmpty, s"duplicate query names across modules: $qDupes")
    val oDupes = SparkEntry.modules.flatMap(_._2.keys)
      .groupBy(identity).filter(_._2.size > 1).keys
    assert(oDupes.isEmpty, s"duplicate oracle names across modules: $oDupes")
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, dir).columns.nonEmpty, s"$name has no schema")
    }
  }

  test("log offsets are dense per partition") {
    val lo = LogOps.log(spark, dir)
      .groupBy("topic", "part")
      .agg(min("offs").as("mn"), max("offs").as("mx"), count(lit(1)).as("n"))
    assert(lo.filter(col("mn") =!= 0L || col("mx") =!= col("n") - 1).count() == 0)
  }

  test("compaction keeps exactly one record per key") {
    val c = LogOps.compact(spark, dir)
    assert(c.groupBy("topic", "part", "k").count().filter(col("count") > 1).count() == 0)
  }

  test("consumer lag is non-negative and bounded by log end") {
    val lag = coordinator.Groups.consumerLag(spark, dir)
    assert(lag.filter(col("lag") < 0 || col("lag") > col("log_end")).count() == 0)
  }

  test("member eviction: age grows with group trail, evicted iff past timeout") {
    val ev = coordinator.Groups.memberEviction(spark, dir).collect()
    assert(ev.length == 12)
    ev.foreach { r =>
      val (age, evicted) = (r.getAs[Long]("age_ms"), r.getAs[Long]("evicted"))
      assert(age >= 0)
      assert(evicted == (if (age > 28800000L) 1L else 0L))
    }
    // g0 members carry no trail: all alive at the log head.
    assert(ev.filter(_.getAs[String]("group_id") == "g0")
      .forall(_.getAs[Long]("evicted") == 0L))
  }

  test("group state follows the GroupState machine from the eviction sweep") {
    val st = coordinator.Groups.groupState(spark, dir).collect()
    assert(st.length == 4)
    st.foreach { r =>
      val (alive, n, live) = (r.getAs[Long]("n_alive"),
        r.getAs[Long]("n_members"), r.getAs[Long]("n_live_offsets"))
      val expected =
        if (alive == n) "Stable"
        else if (alive > 0) "PreparingRebalance"
        else if (live > 0) "Empty"
        else "Dead"
      assert(r.getAs[String]("state") == expected)
      assert(r.getAs[Long]("generation") ==
        1L + r.getAs[Long]("n_evicted"))
    }
    // The deterministic trails g*(m+1)*4h are built to exercise both ends
    // of the machine: the untrailed group is Stable, the 3-week one Dead.
    val byId = st.map(r => r.getAs[String]("group_id") -> r.getAs[String]("state")).toMap
    assert(byId("g0") == "Stable")
    assert(byId("g3") == "Dead")
  }

  test("producer id blocks are contiguous, disjoint, and sized to sessions") {
    val rows = txn.Transactions.producerIdBlocks(spark, dir)
      .orderBy("broker").collect()
    var nextStart = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("block_start") == nextStart)
      val width = r.getAs[Long]("block_end") - r.getAs[Long]("block_start") + 1
      assert(width == r.getAs[Long]("n_blocks") * 1000)
      assert(r.getAs[Long]("n_blocks") * 1000 >= r.getAs[Long]("n_sessions"))
      assert(r.getAs[Long]("ids_unused") < 1000)
      nextStart = r.getAs[Long]("block_end") + 1
    }
  }

  test("request latency percentiles are ordered and bounded by max") {
    val rl = graft.log.BrokerOps.requestLatency(spark, dir).collect()
    assert(rl.length == 4)
    rl.foreach { r =>
      assert(r.getAs[Long]("p50_us") <= r.getAs[Long]("p95_us"))
      assert(r.getAs[Long]("p95_us") <= r.getAs[Long]("p99_us"))
      assert(r.getAs[Long]("p99_us") <= r.getAs[Long]("max_us"))
    }
  }

  test("migration fence: NOT_STARTED fences 0, DONE fences log end") {
    val m = admin.Admin.migrationStatus(spark, dir).collect()
    m.foreach { r =>
      val (st, fence, end) = (r.getAs[String]("migration_status"),
        r.getAs[Long]("fence_offset"), r.getAs[Long]("log_end"))
      st match {
        case "NOT_STARTED" => assert(fence == 0L)
        case "DONE"        => assert(fence == end)
        case "STARTED"     => assert(fence >= 0L && fence <= end)
      }
      assert(r.getAs[Long]("n_pending") == end - fence)
    }
  }

  test("delayed create completes iff all partitions arrive within the delay") {
    val d = admin.Admin.delayedCreate(spark, dir).collect()
    d.foreach { r =>
      val want = if (r.getAs[Long]("wait_ms") <= 3600000L) "Completed" else "TimedOut"
      assert(r.getAs[String]("outcome") == want)
    }
  }

  test("range assignor covers every partition exactly once") {
    val a = coordinator.Groups.assignRange(spark, dir)
    val parts = LogOps.log(spark, dir).select("topic", "part").distinct().count()
    assert(a.count() == parts)
    assert(a.select("member").distinct().count() <= 3)
  }

  test("read_committed filters a strict subset") {
    val rc = txn.Transactions.readCommitted(spark, dir)
      .agg(sum("n_committed"), sum("n_aborted_filtered")).head()
    val total = LogOps.log(spark, dir).count()
    assert(rc.getLong(0) + rc.getLong(1) == total)
    assert(rc.getLong(1) > 0)
  }

  test("jaccard similarities are within [0, 1]") {
    val j = llm.Dedup.ngramJaccard(spark, dir)
    assert(j.filter(col("jac") < 0.0 || col("jac") > 1.0).count() == 0)
  }

  test("minhash candidates verified above threshold") {
    val m = llm.Dedup.dedupMinhashLsh(spark, dir)
    assert(m.filter(col("jac") < 0.5).count() == 0)
  }

  test("ann returns at most k ranked neighbors per query") {
    val a = llm.Similarity.annBruteforce(spark, dir)
    assert(a.groupBy("q_id").count().filter(col("count") > 5).count() == 0)
    assert(a.filter(col("cos") > 1.0000001 || col("cos") < -1.0000001).count() == 0)
  }

  test("unpivot(pivot) round-trips to the plain group counts") {
    val melted = analytics.Analytics.unpivotTopics(spark, dir)
      .filter(col("n") > 0)
      .withColumnRenamed("topic", "event_type")
    val direct = Tables.t(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    assert(melted.exceptAll(direct).count() == 0 &&
      direct.exceptAll(melted).count() == 0)
  }

  test("HLL sketch estimate within 5% of exact distinct counts") {
    val e = Tables.t(spark, dir, "events")
    val both = e.groupBy("event_type").agg(
      countDistinct("user_id").as("exact"),
      approx_count_distinct("user_id", 0.02).as("est"))
    assert(both.filter(
      org.apache.spark.sql.functions.abs(col("est") - col("exact")) >
        col("exact") * 0.05).count() == 0)
  }

  test("multimodal pipeline preserves rows and decode invariants") {
    val m = llm.Multimodal.multimodalPipeline(spark, dir)
    val docs = Tables.t(spark, dir, "documents").count()
    assert(m.count() == docs)
    assert(m.select("media_type").distinct().count() == 3)
    assert(m.filter(col("batch_size") > 64).count() == 0)
    // resize caps the long edge: 32 for real-decoded images, 256 for the
    // video stand-in; audio reuses the columns for (sample_rate, channels)
    assert(m.filter(col("media_type") === "image" &&
      greatest(col("resized_w"), col("resized_h")) > 32).count() == 0)
    assert(m.filter(col("media_type") === "video" &&
      greatest(col("resized_w"), col("resized_h")) > 256).count() == 0)
    assert(m.filter(col("media_type") === "audio" &&
      (col("width") =!= 8000L || col("height") =!= 1L)).count() == 0)
    // images are single-frame; audio frames = PCM frame count (> 0);
    // video sampling keeps ~1/4 of frames
    assert(m.filter(col("media_type") === "image" && col("n_frames") =!= 1).count() == 0)
    assert(m.filter(col("media_type") === "audio" && col("n_frames") <= 0).count() == 0)
    assert(m.filter(col("sampled_frames") > col("n_frames")).count() == 0)
  }

  test("log segments tile each partition contiguously and respect the cap") {
    import org.apache.spark.sql.expressions.Window
    val segs = graft.log.BrokerOps.logSegments(spark, dir)
    val w = Window.partitionBy("topic", "part").orderBy("seg_id")
    val gaps = segs.withColumn("prev_end", lag("end_offset", 1).over(w))
      .filter(col("prev_end").isNotNull && col("base_offset") =!= col("prev_end"))
    assert(gaps.count() == 0)
    // a segment overshoots 16 KiB by at most one record
    val maxRec = LogOps.log(spark, dir)
      .agg(max(length(col("v")) + length(col("k")) + lit(16))).head().getInt(0)
    assert(segs.filter(col("seg_bytes") > 16384L + maxRec).count() == 0)
  }

  test("leader epochs tile offsets in order") {
    val e = graft.log.BrokerOps.leaderEpoch(spark, dir)
    assert(e.filter(col("epoch_start") =!= col("epoch") * 100L).count() == 0)
    assert(e.filter(col("epoch_end") > (col("epoch") + 1L) * 100L).count() == 0)
  }

  test("sticky assignor moves only the minimal set to the new member") {
    val a = coordinator.Groups.assignSticky(spark, dir)
    val moved = a.filter(col("moved") === 1L)
    // everything that moved went to the new member, nothing else did
    assert(moved.filter(col("member_new") =!= "m3").count() == 0)
    assert(a.filter(col("moved") === 0L && col("member_new") =!= col("member_old")).count() == 0)
    // post-rebalance balance: member sizes differ by at most 1
    val sizes = a.groupBy("member_new").count().agg(
      max("count").as("mx"), min("count").as("mn")).head()
    assert(sizes.getLong(0) - sizes.getLong(1) <= 1)
    // strictly fewer moves than the range assignor's reshuffle
    val rangeMoved = coordinator.Groups.rebalanceDiff(spark, dir)
      .agg(sum("moved")).head().getLong(0)
    assert(moved.count() <= rangeMoved)
  }

  test("producer gap accounting is consistent with the simulated losses") {
    val g = txn.Transactions.producerGaps(spark, dir)
      .agg(sum("n_missing").as("miss"), sum("n_delivered").as("del")).head()
    val total = LogOps.log(spark, dir).count()
    val dropped = total - g.getLong(1)
    assert(dropped > 0)                 // the md5 coin actually drops records
    assert(g.getLong(0) <= dropped)     // trailing losses are undetectable
    assert(g.getLong(0) > 0)            // but in-stream losses are detected
  }

  test("txn expiry and client quota rollups stay in range") {
    val e = txn.Transactions.txnExpire(spark, dir)
    assert(e.filter(col("n_timed_out") > col("n_instances")).count() == 0)
    assert(e.count() == 64)
    val q = graft.log.BrokerOps.clientQuota(spark, dir)
    val producers = LogOps.log(spark, dir)
      .select(pmod(col("k").cast("long"), lit(16L))).distinct().count()
    assert(q.count() == producers)
    assert(q.filter(col("n_throttled") > col("n_days")).count() == 0)
    assert(q.filter(col("n_throttled") === 0L && col("total_throttle_ms") > 0L).count() == 0)
  }

  test("session_window_agg preserves every event and nests in sessionize") {
    val sw = analytics.Analytics.sessionWindowAgg(spark, dir)
    val events = Tables.t(spark, dir, "events").count()
    assert(sw.agg(sum("n_events")).head().getLong(0) == events)
    // gap-exclusive windows can only split (never merge) the >-gap sessions
    assert(sw.count() >= analytics.Analytics.sessionize(spark, dir).count())
    assert(sw.filter(col("end_ms") - lit(1800000L) < col("start_ms")).count() == 0)
  }

  test("cube emits all four grouping sets consistently") {
    val c = analytics.Analytics.cubeTopicDow(spark, dir)
    val gids = c.select("gid").distinct().collect().map(_.getLong(0)).sorted
    assert(gids.sameElements(Array(0L, 1L, 2L, 3L)))
    val total = LogOps.log(spark, dir).count()
    assert(c.filter(col("gid") === 3L).head().getAs[Long]("n") == total)
  }

  test("gopher quality and repetition signals stay in range") {
    val g = llm.TextAnalysis.qualityGopher(spark, dir)
    assert(g.filter(col("ttr") > 1.0 || col("ttr") <= 0.0).count() == 0)
    assert(g.filter(col("top_frac") > 1.0).count() == 0)
    assert(g.filter(col("n_distinct") > col("n_words")).count() == 0)
    val r = llm.TextAnalysis.repetitionNgrams(spark, dir)
    assert(r.filter(col("dup_frac") < 0.0 || col("dup_frac") >= 1.0).count() == 0)
  }

  test("decontaminate flags only training docs") {
    val d = llm.Dedup.decontaminate(spark, dir)
    assert(d.filter(col("doc_id") % 50 === 0).count() == 0)
    assert(d.filter(col("n_unique_hits") > col("n_hits")).count() == 0)
    assert(d.count() > 0)
  }

  test("semdedup keeps the lowest id of every duplicate set") {
    val s = llm.Similarity.semDedup(spark, dir)
    assert(s.filter(col("keep_id") >= col("drop_id")).count() == 0)
    assert(s.filter(col("n_dups") < 1).count() == 0)
  }

  test("txn offset commits: pending iff stable NULL, aborts roll back") {
    val toc = txn.Transactions.txnOffsetCommits(spark, dir)
    assert(toc.filter(col("pending") === 1 && col("stable_offset").isNotNull)
      .count() == 0)
    assert(toc.filter(col("pending") === 0 && col("stable_offset").isNull)
      .count() == 0)
    assert(toc.filter(col("materialized") < col("base_committed")).count() == 0)
    // an aborted txn's commit must be rolled back: materialized == base
    assert(toc.filter(col("rolled_back") === 1 &&
      col("materialized") =!= col("base_committed")).count() == 0)
  }

  test("describe_producers: partition-local sequences and open-txn flags") {
    val dp = txn.Transactions.describeProducers(spark, dir)
    assert(dp.filter(col("last_seq") =!= col("n_records") - 1).count() == 0)
    assert(dp.filter(col("open_txn") === 0 && col("txn_start_offs").isNotNull)
      .count() == 0)
    assert(dp.filter(col("open_txn") === 1 && col("txn_start_offs").isNull)
      .count() == 0)
  }

  test("list_transactions filters completed commits; add_seq is dense") {
    val lt = txn.Transactions.listTransactions(spark, dir)
    assert(lt.filter(col("state") === "CompleteCommit").count() == 0)
    assert(lt.filter(col("duration_ms") < 0).count() == 0)
    val ap = txn.Transactions.addPartitionsToTxn(spark, dir)
      .groupBy("txn_id").agg(
        count(lit(1)).as("n"), max("add_seq").as("mx"), min("add_seq").as("mn"))
    assert(ap.filter(col("mx") =!= col("n") || col("mn") =!= 1L).count() == 0)
  }

  test("latency_hdr_sketch brackets the exact percentiles within 1/8") {
    val exact = graft.log.BrokerOps.requestLatency(spark, dir)
      .select(col("api"), col("p50_us"), col("p95_us"), col("p99_us"))
    val sk = graft.log.BrokerOps.latencyHdrSketch(spark, dir)
    val j = sk.join(exact, "api")
    assert(j.count() == 4)
    // the bucket lower bound never exceeds the exact quantile, and the
    // bucket's relative width is <= 1/8 (HdrHistogram's error contract)
    for ((lo, ex) <- Seq(("p50_lo", "p50_us"), ("p95_lo", "p95_us"),
        ("p99_lo", "p99_us"))) {
      assert(j.filter(col(lo) > col(ex)).count() == 0, s"$lo above exact")
      assert(j.filter(col(ex).cast("double") >
        col(lo).cast("double") * 1.125 + 1.0).count() == 0, s"$lo too coarse")
    }
    // summary stays sketch-sized and accounts for every request
    assert(sk.filter(col("n_buckets") > 200L).count() == 0)
    val n1 = sk.agg(sum("n_requests")).head().getLong(0)
    assert(n1 == graft.Tables.t(spark, dir, "events").count())
  }

  test("describe_transactions: 64 found + 16 not-found, consistent metadata") {
    val dt = txn.Transactions.describeTransactions(spark, dir)
    assert(dt.count() == 80)
    val found = dt.filter(col("error_code") === "NONE")
    assert(found.count() == 64)
    // Not-found rows carry no metadata; found rows carry all of it.
    assert(dt.filter(col("error_code") =!= "NONE" &&
      (col("state").isNotNull || col("producer_id").isNotNull ||
        col("partitions").isNotNull)).count() == 0)
    assert(found.filter(col("state").isNull || col("producer_id").isNull ||
      col("txn_timeout_ms") =!= 60000L || col("n_partitions") < 1).count() == 0)
    // The partition list agrees with its own count and with the
    // AddPartitionsToTxn registry for the same txn.
    assert(found.filter(size(split(col("partitions"), ","))
      =!= col("n_partitions")).count() == 0)
    val reg = txn.Transactions.addPartitionsToTxn(spark, dir)
      .groupBy("txn_id").agg(count(lit(1)).as("n_reg"))
    assert(found.join(reg, "txn_id")
      .filter(col("n_partitions") =!= col("n_reg")).count() == 0)
  }

  test("delete_groups / delete_topics outcomes are consistent") {
    val dg = coordinator.Groups.deleteGroups(spark, dir)
    assert(dg.filter(col("result") === "DELETED" &&
      (col("state_after") =!= "Dead" ||
        col("n_offsets_purged") =!= col("n_offsets"))).count() == 0)
    assert(dg.filter(col("result") =!= "DELETED" &&
      (col("n_offsets_purged") =!= 0L ||
        col("state_after") =!= col("state_before"))).count() == 0)
    // every group commits one offset per partition => purge count is exact
    val dt = admin.Admin.deleteTopics(spark, dir)
    assert(dt.filter(col("n_offsets_purged") =!=
      col("n_groups_affected") * col("n_partitions")).count() == 0)
  }

  test("tiered_read_path: fetch position inside its segment, source matches") {
    val rp = graft.log.BrokerOps.tieredReadPath(spark, dir)
    assert(rp.filter(col("committed") < col("base_offset") ||
      col("committed") >= col("end_offset")).count() == 0)
    assert(rp.filter((col("offload") === 1L) =!= (col("read_source") === "tiered"))
      .count() == 0)
    // exactly one segment per (group, topic, part)
    assert(rp.groupBy("group_id", "topic", "part").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("bpe_merges: well-formed merge table") {
    val m = llm.TextAnalysis.bpeMerges(spark, dir).collect()
    assert(m.length == 3)
    assert(m.map(_.getAs[Long]("round")).sorted.toSeq == Seq(1L, 2L, 3L))
    m.foreach { r =>
      assert(r.getAs[String]("merged") == r.getAs[String]("pair").replace(" ", ""))
      assert(r.getAs[Long]("n_pair") > 0L)
    }
  }

  test("bpe_encode: token accounting bounded by chars and words") {
    val enc = llm.TextAnalysis.bpeEncode(spark, dir)
    // every word is at least one token; merges only ever shrink
    assert(enc.filter(col("n_tokens") > col("n_chars") ||
      col("n_tokens") < col("n_words") ||
      col("saved") =!= col("n_chars") - col("n_tokens")).count() == 0)
    // the learned merges actually fire somewhere in the corpus
    assert(enc.agg(sum("saved")).head().getLong(0) > 0L)
    // docs with no alphanumeric content drop out; the rest are all here
    val nDocs = graft.Tables.t(spark, dir, "documents")
      .filter(col("text").rlike("[a-z0-9]")).count()
    assert(enc.count() == nDocs)
  }

  test("pack_shuffled lays docs contiguously in corpus_shuffle order") {
    import org.apache.spark.sql.expressions.Window
    val ps = llm.Curation.packShuffled(spark, dir)
    // positions agree with the canonical shuffle
    val cs = llm.Sampling.corpusShuffle(spark, dir)
      .select(col("doc_id"), col("shuffle_pos").as("cs_pos"))
    assert(ps.join(cs, "doc_id")
      .filter(col("shuffle_pos") =!= col("cs_pos")).count() == 0)
    // contiguous stream: each doc starts where the previous one ended
    val w = Window.orderBy("shuffle_pos")
    val gaps = ps
      .withColumn("prev_end", lag(col("start_off") + col("n_tok"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("start_off") =!= col("prev_end"))
    assert(gaps.count() == 0)
    // straddle flag consistent with the 512 cut
    assert(ps.filter(col("spans_boundary") =!=
      when(expr("(start_off + n_tok - 1) div 512") =!= expr("start_off div 512"), 1L)
        .otherwise(0L)).count() == 0)
  }

  test("corpus_shuffle emits a dense permutation with balanced shards") {
    val cs = llm.Sampling.corpusShuffle(spark, dir)
    val n = graft.Tables.t(spark, dir, "documents").count()
    val s = cs.agg(
      count(lit(1)).as("rows"),
      countDistinct("shuffle_pos").as("n_pos"),
      min("shuffle_pos").as("mn"),
      max("shuffle_pos").as("mx")).head()
    assert(s.getAs[Long]("rows") == n && s.getAs[Long]("n_pos") == n)
    assert(s.getAs[Long]("mn") == 0L && s.getAs[Long]("mx") == n - 1)
    // position mod 8 sharding is balanced to within one document
    val sh = cs.groupBy("shard").agg(count(lit(1)).as("c"))
      .agg(min("c").as("lo"), max("c").as("hi"), count(lit(1)).as("k")).head()
    assert(sh.getAs[Long]("k") == 8L)
    assert(sh.getAs[Long]("hi") - sh.getAs[Long]("lo") <= 1L)
  }

  test("ivf_cell_balance: shares and imbalance account for the whole corpus") {
    val cb = llm.Similarity.ivfCellBalance(spark, dir)
    assert(cb.filter(col("n_vecs") <= 0L).count() == 0)
    val s = cb.agg(
      count(lit(1)).as("n_cells"),
      sum("n_vecs").as("n_total"),
      sum("share_bp").as("shares"),
      sum("imbalance_x100").as("imb")).head()
    val nCells = s.getAs[Long]("n_cells")
    assert(nCells >= 1L && nCells <= 16L)
    // Floor-divided shares sum to at most 10000 and lose < 1bp per cell;
    // same accounting for the mean-100 imbalance factors.
    assert(s.getAs[Long]("shares") <= 10000L &&
      s.getAs[Long]("shares") > 10000L - nCells)
    assert(s.getAs[Long]("imb") <= 100L * nCells &&
      s.getAs[Long]("imb") > 100L * nCells - nCells)
    // Populations agree with the embeddings corpus size.
    assert(s.getAs[Long]("n_total") ==
      graft.Tables.t(spark, dir, "embeddings").count())
  }

  test("ann_ivfpq: dense top-3 per query, non-negative ADC distances") {
    val r = llm.Similarity.annIvfPq(spark, dir)
    assert(r.filter(col("dist") < 0.0).count() == 0)
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.filter(col("mx") =!= col("n") || col("mn") =!= 1L).count() == 0)
  }

  test("cluster profiles, source mix, and vocab overlap stay accounted") {
    // both cluster-size histograms partition their label frames, and a
    // component needs at least two members by construction
    Seq(
      (llm.Similarity.knnClusterProfile(spark, dir),
        llm.Similarity.knnClusters(spark, dir)),
      (llm.Dedup.dedupClusterProfile(spark, dir),
        llm.Dedup.dedupClusters(spark, dir))
    ).foreach { case (prof, labels) =>
      assert(prof.agg(sum(col("csize") * col("n_clusters"))).head.getLong(0)
        == labels.count())
      assert(prof.filter(col("csize") < 2L).count() == 0)
    }
    // seq_source_mix partitions the pack manifest
    val mix = llm.Curation.seqSourceMix(spark, dir).cache()
    val pk = llm.Curation.packShuffled(spark, dir)
    assert(mix.agg(sum("n_docs")).head.getLong(0) == pk.count())
    assert(mix.agg(sum("n_seqs")).head.getLong(0) ==
      pk.select("seq_id").distinct().count())
    assert(mix.filter(col("n_sources") < 1L).count() == 0)
    // vocab_overlap: all unordered pairs, bounded intersection, jaccard
    val ov = llm.TextAnalysis.vocabOverlap(spark, dir).cache()
    val nSrc = Tables.t(spark, dir, "documents")
      .select("source").distinct().count()
    assert(ov.count() == nSrc * (nSrc - 1) / 2)
    assert(ov.filter(col("n_shared") > least(col("sz1"), col("sz2")) ||
      col("jaccard") < 0.0 || col("jaccard") > 1.0).count() == 0)
  }

  test("filtered search stays in-label and can only lose cosine vs global") {
    val f = llm.Similarity.annFiltered(spark, dir).cache()
    // neighbors share the query's label, ranks dense 1..3
    val labels = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id").as("n_id"), col("label").cast("long").as("nl"))
    assert(f.join(labels, "n_id").filter(col("label") =!= col("nl"))
      .count() == 0)
    assert(f.groupBy("q_id").agg(count(lit(1)).as("k"), max("rank").as("mx"))
      .filter(col("k") > 3L || col("mx") =!= col("k")).count() == 0)
    // per query, the best in-label cosine is <= the global best: the
    // filter restricts the candidate set, it never improves it
    val g = llm.Similarity.annBruteforce(spark, dir)
      .groupBy("q_id").agg(max("cos").as("gbest"))
    assert(f.filter(col("rank") === 1L).join(g, "q_id")
      .filter(col("cos") > col("gbest") + lit(1e-12)).count() == 0)
    f.unpersist()
  }

  test("indexed filtered search is a subset path with a sane recall gate") {
    val exact = llm.Similarity.annFiltered(spark, dir)
    val idx = llm.Similarity.annFilteredIvf(spark, dir).cache()
    // the indexed candidate set is a subset of the filtered universe:
    // per query its best cosine can only be <= the exact filtered best
    val eb = exact.filter(col("rank") === 1L)
      .select(col("q_id"), col("cos").as("ebest"))
    assert(idx.filter(col("rank") === 1L).join(eb, "q_id")
      .filter(col("cos") > col("ebest") + lit(1e-12)).count() == 0)
    // the recall gate is consistent: n_matched <= n_exact, recall in
    // [0, 1], and one row per exact-side query
    val r = llm.Similarity.filteredRecall(spark, dir).cache()
    assert(r.count() == exact.select("q_id").distinct().count())
    assert(r.filter(col("n_matched") > col("n_exact") ||
      col("recall") < 0.0 || col("recall") > 1.0).count() == 0)
    idx.unpersist(); r.unpersist()
  }

  test("walk pairs: one walk per anchor, edges real, fully deterministic") {
    val g = llm.Similarity.knnGraph(spark, dir).select("q_id", "n_id").cache()
    val wp = llm.Similarity.walkPairs(spark, dir).cache()
    // every vector with out-edges emits exactly one step-1 and one
    // step-2 context
    val nAnchors = g.select("q_id").distinct().count()
    for (s <- Seq(1L, 2L))
      assert(wp.filter(col("step") === s).count() == nAnchors)
    // step-1 contexts are genuine out-neighbors of the anchor
    assert(wp.filter(col("step") === 1L).select(col("anchor").as("q_id"),
      col("ctx").as("n_id")).exceptAll(g).count() == 0)
    // step-2 contexts are out-neighbors of the step-1 context
    val s1 = wp.filter(col("step") === 1L)
      .select(col("anchor"), col("ctx").as("mid"))
    val s2 = wp.filter(col("step") === 2L).select("anchor", "ctx")
    assert(s2.join(s1, "anchor")
      .join(g.select(col("q_id").as("mid2"), col("n_id")),
        col("mid") === col("mid2") && col("ctx") === col("n_id"), "left_anti")
      .count() == 0)
    // the md5 coin makes the walk reproducible
    val again = llm.Similarity.walkPairs(spark, dir)
    assert(wp.exceptAll(again).count() == 0 && again.exceptAll(wp).count() == 0)
    g.unpersist(); wp.unpersist()
  }

  test("session conversion partitions sessionize; hll error inside bound") {
    val sc = analytics.Analytics.sessionConversion(spark, dir).cache()
    // the length rollup accounts every session exactly once
    val sess = analytics.Analytics.sessionize(spark, dir)
    assert(sc.agg(sum("n_sessions")).head.getLong(0) == sess.count())
    assert(sc.select(col("n_events"), col("n_sessions")).exceptAll(
      sess.groupBy("n_events").agg(count(lit(1)).as("n_sessions")))
      .count() == 0)
    assert(sc.filter(col("n_converted") > col("n_sessions") ||
      col("conv_bp") < 0L || col("conv_bp") > 10000L).count() == 0)
    sc.unpersist()
    // hll eval: exact side == direct recount; register table internally
    // consistent (occupied registers can never exceed the distinct
    // count; rho bounded by the 44-bit hash window)
    val h = analytics.Analytics.hllDistinctEval(spark, dir).cache()
    val ref = Tables.t(spark, dir, "events")
      .groupBy("event_type").agg(countDistinct("user_id").as("ref"))
    assert(h.join(ref, "event_type")
      .filter(col("exact_users") =!= col("ref")).count() == 0)
    assert(h.filter(col("n_zero_registers") < 0L ||
      col("n_zero_registers") > 4096L ||
      col("m_registers") - col("n_zero_registers") > col("exact_users") ||
      col("max_rho") > 45L).count() == 0)
    // linear counting from the zero-register count (the production read
    // below 2.5m) lands within 5% of exact (~1.1% std at m=4096)
    val lcBad = h.collect().count { r =>
      val exact = r.getAs[Long]("exact_users")
      val v = r.getAs[Long]("n_zero_registers")
      exact > 0 && {
        val lc = 4096.0 * math.log(4096.0 / v)
        math.abs(lc - exact) > 0.05 * exact
      }
    }
    assert(lcBad == 0)
    h.unpersist()
    // the engine-native HLL++ sketch (the mergeable 100 TB swap-in)
    // stays within its configured rsd: relative error within 5%
    // (rsd 0.02 gives ~2% typical, 5% is a hard generous ceiling)
    val sk = Tables.t(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        approx_count_distinct("user_id", 0.02).cast("long")
          .as("approx_users"))
      .filter(col("exact_users") > 0L)
      .withColumn("err_ppm",
        expr("(1000000 * abs(approx_users - exact_users)) div exact_users"))
    assert(sk.filter(col("err_ppm") > 50000L).count() == 0)
    // all-NULL degradation: an event_type whose user_ids are ALL NULL
    // has exact_users = 0 and must report err_ppm 0, not abort under
    // ANSI DIVIDE_BY_ZERO
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll0")
    tmp.toFile.deleteOnExit()
    Seq(("ghost", Option.empty[Long]), ("ghost", Option.empty[Long]),
      ("real", Option(7L)))
      .toDF("event_type", "user_id").coalesce(1)
      .write.parquet(s"$tmp/events.parquet")
    val h0 = analytics.Analytics.hllDistinctEval(spark, tmp.toString)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("exact_users"), r.getAs[Long]("err_ppm"))).toMap
    assert(h0("ghost") == ((0L, 0L)))
    assert(h0("real")._1 == 1L)
  }

  test("source_unique_grams: universe accounting closes exactly") {
    val s = llm.TextAnalysis.sourceUniqueGrams(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    assert(s.count() == docs.filter(length(col("text")) >= 8)
      .select("source").distinct().count())
    assert(s.filter(col("n_unique") > col("n_grams")).count() == 0)
    // unique masses are disjoint slices of the universe: their sum can
    // never exceed the distinct-gram universe, and each source's
    // coverage never exceeds it either
    val univ = docs.filter(length(col("text")) >= 8)
      .select(explode(expr("gram_hashes(text, 8, 0)")).as("h"))
      .distinct().count()
    assert(s.agg(sum("n_unique")).head.getLong(0) <= univ)
    assert(s.filter(col("n_grams") > univ).count() == 0)
    // grams in exactly one source are unique to it: sum(n_unique) ==
    // universe minus grams shared by >= 2 sources
    val shared = docs.filter(length(col("text")) >= 8)
      .select(col("source"),
        explode(expr("gram_hashes(text, 8, 0)")).as("h"))
      .distinct().groupBy("h")
      .agg(countDistinct("source").as("ns"))
      .filter(col("ns") >= 2L).count()
    assert(s.agg(sum("n_unique")).head.getLong(0) == univ - shared)
    s.unpersist()
  }

  test("benchmark_leakage mirrors decontaminate's hit mass exactly") {
    val bl = llm.Dedup.benchmarkLeakage(spark, dir).cache()
    // only benchmark docs appear, with positive evidence
    assert(bl.filter(col("bench_doc") % llm.Dedup.BenchSplitMod =!= 0L)
      .count() == 0)
    assert(bl.filter(col("n_train_docs") < 1L || col("n_hits") < 1L ||
      col("n_grams_leaked") < 1L || col("n_grams_leaked") > col("n_hits"))
      .count() == 0)
    // a (train doc, bench doc) gram hit is counted once on each side:
    // the leak view's total hit volume can only exceed decontaminate's
    // (one train gram can hit several bench docs), never undershoot it
    val trainHits = llm.Dedup.decontaminate(spark, dir)
      .agg(sum("n_hits")).head.getLong(0)
    assert(bl.agg(sum("n_hits")).head.getLong(0) >= trainHits)
    bl.unpersist()
  }

  test("repetition_profile fractions are coherent and match the 2-gram op") {
    val rp = llm.TextAnalysis.repetitionProfile(spark, dir).cache()
    assert(rp.count() > 0)
    for (n <- Seq(2, 3, 4)) {
      assert(rp.filter(col(s"dup_frac_$n") < 0.0 ||
        col(s"dup_frac_$n") >= 1.0 || col(s"top_frac_$n") <= 0.0 ||
        col(s"top_frac_$n") > 1.0).count() == 0)
      // a doc's top gram is itself a duplicate iff dup_frac > 0
      assert(rp.filter((col(s"dup_frac_$n") === 0.0) &&
        col(s"top_frac_$n") * col(s"n_grams_$n") > 1.0 + 1e-9)
        .count() == 0)
    }
    // the 3-gram column reproduces repetition_ngrams (a 3-gram op)
    // exactly where both apply
    val rn = llm.TextAnalysis.repetitionNgrams(spark, dir)
      .select(col("doc_id"), col("dup_frac").as("ref"))
    assert(rp.join(rn, "doc_id")
      .filter(abs(col("dup_frac_3") - col("ref")) > 1e-12).count() == 0)
    rp.unpersist()
  }

  test("collocations: lift consistent with counts, support cut respected") {
    val co = llm.TextAnalysis.collocations(spark, dir).cache()
    assert(co.count() > 0 && co.count() <= 100)
    assert(co.filter(col("n_ab") < 5L).count() == 0)
    // a bigram can occur at most min(n_a, n_b) times
    assert(co.filter(col("n_ab") > least(col("n_a"), col("n_b")))
      .count() == 0)
    // recompute lift independently from the row's own counts
    val nTotal = Tables.t(spark, dir, "documents")
      .select(explode(split(col("text"), " "))).count()
    assert(co.filter(col("lift_ppm") =!=
      expr(s"CAST((CAST(n_ab AS DECIMAL(38,0)) * 1000000 * ${nTotal}L)" +
        " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
      .count() == 0)
    // unigram counts in the result match a direct token count
    val uni = Tables.t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ref"))
    assert(co.join(uni, col("w1") === col("w"))
      .filter(col("n_a") =!= col("ref")).count() == 0)
    co.unpersist()
  }

  test("second-order transitions refine the first-order matrix exactly") {
    val t2 = analytics.Analytics.transitionMatrix2(spark, dir).cache()
    // prefix mass normalizes and ranks are dense
    assert(t2.groupBy("from1", "from2", "n_from").agg(sum("n").as("s"))
      .filter(col("s") =!= col("n_from")).count() == 0)
    assert(t2.groupBy("from1", "from2")
      .agg(count(lit(1)).as("k"), min("rnk").as("mn"), max("rnk").as("mx"))
      .filter(col("mn") =!= 1L || col("mx") =!= col("k")).count() == 0)
    // marginalizing the first prefix event recovers the first-order
    // counts over chains of length >= 3 — pin against a direct recount
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val ref = Tables.t(spark, dir, "events")
      .withColumn("from2", lag("event_type", 1).over(w))
      .withColumn("from1", lag("event_type", 2).over(w))
      .filter(col("from1").isNotNull)
      .groupBy(col("from2"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("ref_n"))
    val marg = t2.groupBy(col("from2"), col("to_type"))
      .agg(sum("n").as("m_n"))
    assert(marg.join(ref, Seq("from2", "to_type"), "full")
      .filter(col("m_n").isNull || col("ref_n").isNull ||
        col("m_n") =!= col("ref_n")).count() == 0)
    t2.unpersist()
  }

  test("transition matrix normalizes event_transitions; ltv curve conserves") {
    val tm = analytics.Analytics.transitionMatrix(spark, dir).cache()
    // counts reconcile with event_transitions row-for-row
    val tr = analytics.Analytics.eventTransitions(spark, dir)
    assert(tm.select("from_type", "to_type", "n").exceptAll(tr).count() == 0)
    assert(tm.count() == tr.count())
    // per-from mass: the n sum to n_from, ppm bounded, ranks dense from 1
    assert(tm.groupBy("from_type", "n_from").agg(sum("n").as("s"))
      .filter(col("s") =!= col("n_from")).count() == 0)
    assert(tm.filter(col("p_ppm") < 0L || col("p_ppm") > 1000000L)
      .count() == 0)
    assert(tm.groupBy("from_type")
      .agg(count(lit(1)).as("k"), min("rnk").as("mn"), max("rnk").as("mx"))
      .filter(col("mn") =!= 1L || col("mx") =!= col("k")).count() == 0)
    tm.unpersist()
    // user_ltv: cumulative value is monotone per cohort and the final
    // total conserves the corpus purchase mass exactly
    val ltv = analytics.Analytics.userLtv(spark, dir).cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort").orderBy("weeks_since")
    assert(ltv.withColumn("prev", lag("cum_value", 1).over(w))
      .filter(col("prev").isNotNull && col("cum_value") < col("prev"))
      .count() == 0)
    val total = Tables.t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(10,2)")).cast("double"))
      .head.getDouble(0)
    val fromCurve = ltv.agg(sum("wk_value")).head.getDouble(0)
    assert(math.abs(fromCurve - total) < 1e-6)
    ltv.unpersist()
  }

  test("rfm segments partition the purchaser universe with coherent scores") {
    val seg = analytics.Analytics.rfmSegments(spark, dir).cache()
    // the segment rollup accounts every purchasing user exactly once
    val nBuyers = Tables.t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(seg.agg(sum("n_users")).head.getLong(0) == nBuyers)
    // quartile scores stay in 1..4 and labels follow their definitions
    for (c <- Seq("r_q", "f_q", "m_q"))
      assert(seg.filter(col(c) < 1L || col(c) > 4L).count() == 0)
    assert(seg.filter(col("label") === "champion" &&
      (col("r_q") =!= 4L || col("f_q") =!= 4L || col("m_q") =!= 4L))
      .count() == 0)
    assert(seg.filter(col("label") === "lost" &&
      (col("r_q") =!= 1L || col("f_q") =!= 1L)).count() == 0)
    assert(seg.filter(col("label") === "at_risk" &&
      (col("r_q") =!= 1L || col("f_q") < 3L)).count() == 0)
    // total monetary mass is conserved (decimal-exact both sides)
    val total = Tables.t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(10,2)")).cast("double"))
      .head.getDouble(0)
    assert(math.abs(seg.agg(sum("total_value")).head.getDouble(0) - total)
      < 1e-6)
    seg.unpersist()
  }

  test("vocab coverage reconciles with vocab_stats; card reconciles its parts") {
    val docs = Tables.t(spark, dir, "documents").cache()
    val nSrc = docs.select("source").distinct().count()
    // vocab_coverage: per-source totals must equal vocab_stats exactly,
    // and OOV accounting can never exceed them
    val cov = llm.TextAnalysis.vocabCoverage(spark, dir).cache()
    assert(cov.count() == nSrc)
    val vs = llm.TextAnalysis.vocabStats(spark, dir)
      .select(col("source"), col("n_tokens").as("vt"), col("n_vocab").as("vv"))
    assert(cov.join(vs, "source")
      .filter(col("n_tokens") =!= col("vt") || col("n_types") =!= col("vv"))
      .count() == 0)
    assert(cov.filter(col("oov_tokens") > col("n_tokens") ||
      col("oov_types") > col("n_types") ||
      col("oov_rate") < 0.0 || col("oov_rate") > 1.0).count() == 0)
    // in-vocab type mass: at most CoverageK types per source are covered
    assert(cov.filter(col("n_types") - col("oov_types") > 500L).count() == 0)
    // corpus_card: one row per source, parts bounded by and summing to
    // independently computed totals
    val card = llm.TextAnalysis.corpusCard(spark, dir).cache()
    assert(card.count() == nSrc)
    assert(card.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(card.filter(col("top_lang_n") > col("n_docs") ||
      col("dup_docs") > col("n_docs") || col("keep_docs") > col("n_docs"))
      .count() == 0)
    for (c <- Seq("top_lang_bp", "dup_bp", "keep_bp"))
      assert(card.filter(col(c) < 0L || col(c) > 10000L).count() == 0)
    val dupTotal = docs.select(md5(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nh")).filter(col("nh") > 1L)
      .agg(coalesce(sum("nh"), lit(0L))).head.getLong(0)
    assert(card.agg(sum("dup_docs")).head.getLong(0) == dupTotal)
    val keepTotal = llm.TextAnalysis.qualityGopher(spark, dir)
      .agg(sum("keep")).head.getLong(0)
    assert(card.agg(sum("keep_docs")).head.getLong(0) == keepTotal)
    docs.unpersist(); cov.unpersist(); card.unpersist()
  }

  test("components loop equals union-find on adversarial graph shapes") {
    // The distributed min-label + pointer-jumping loop vs a driver-side
    // union-find, on the shapes that stress it: a long path (maximum
    // diameter — exercises the O(log D) jumping), a star, a ring, two
    // disjoint blobs, and a hash-seeded random graph.
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min-label root: path-compress to the smallest member
      verts.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(42)
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 32L).map(i => (i, i + 1)),                  // path, D=33
      (1L to 20L).map(i => (0L, i)),                        // star
      (0L until 17L).map(i => (i, (i + 1) % 17L)),          // ring
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L)),      // two blobs
      Seq.fill(40)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2).distinct)                // random
    import spark.implicits._
    shapes.foreach { edges =>
      val want = unionFind(edges)
      val got = llm.Dedup.components(
          edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"components mismatch on ${edges.take(5)}...")
    }
  }

  test("embedding_norm_stats: ordered quartiles that partition the corpus") {
    val st = llm.Similarity.embeddingNormStats(spark, dir).cache()
    val emb = graft.Tables.t(spark, dir, "embeddings")
    // one row per label; populations partition the corpus
    assert(st.count() == emb.select("label").distinct().count())
    assert(st.agg(sum("n_vecs")).head.getLong(0) == emb.count())
    // quartiles are ordered and sit inside [min, max]; norms positive
    assert(st.filter(col("min_nrm") <= lit(0.0) ||
      col("q1") < col("min_nrm") || col("median") < col("q1") ||
      col("q3") < col("median") || col("max_nrm") < col("q3"))
      .count() == 0)
    // dim is the corpus-wide embedding width on every row
    val dim = emb.select(size(col("embedding"))).head.getInt(0).toLong
    assert(st.filter(col("dim") =!= dim).count() == 0)
  }

  test("pca_top_component matches a driver-side exact eigensolve") {
    // the operator is a FIXED-POINT eigensolve of the 2^14-quantized
    // covariance (engine-portable integers, hash-exact vs the oracle);
    // the double-precision reference here pins that the quantization +
    // truncating rescales cost at most ~1e-4 of accuracy
    val r = llm.Pca.pcaTopComponent(spark, dir).orderBy("dim").collect()
    val d = 64
    assert(r.length == d)
    val wfp = r.map(_.getAs[Long]("component_fp").toDouble)
    val lamFp = r.head.getAs[Long]("eigenvalue_fp")
    val ppb = r.head.getAs[Long]("explained_ppb")
    val nVecs = r.head.getAs[Long]("n_vecs")
    // reference: exact covariance + long power iteration, all in the test
    val xs = Tables.t(spark, dir, "embeddings")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    assert(nVecs == xs.length)
    val n = xs.length.toDouble
    val mu = Array.tabulate(d)(i => xs.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      xs.map(x => x(i) * x(j)).sum / n - mu(i) * mu(j))
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    (1 to 500).foreach { _ =>
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(y.map(x => x * x).sum)
      v = y.map(_ / nrm)
    }
    val refLam = (0 until d).map(i =>
      (0 until d).map(j => cov(i)(j) * v(i) * v(j)).sum).sum
    val trace = (0 until d).map(i => cov(i)(i)).sum
    // direction agrees up to sign after normalizing the fixed point
    val nrmFp = math.sqrt(wfp.map(x => x * x).sum)
    val w = wfp.map(_ / nrmFp)
    val cos = (0 until d).map(i => w(i) * v(i)).sum
    assert(math.abs(cos) > 0.999, s"component cosine $cos")
    // explained ratio in ppb matches the double reference to ~1e-4
    assert(math.abs(ppb / 1e9 - refLam / trace) < 1e-4,
      s"ppb $ppb vs ${refLam / trace}")
    assert(ppb > 0L && ppb <= 1000000000L)
    // fixed-point scale contract: max|w| = 2^18 exactly
    assert(wfp.map(math.abs).max == 262144.0)
    // sign canonicalization: the largest-|w| entry is positive
    assert(wfp.maxBy(math.abs) > 0.0)
    // second component: reference = power iteration on the deflated
    // covariance (exact for symmetric matrices)
    val r2 = llm.Pca.pcaSecondComponent(spark, dir).orderBy("dim").collect()
    assert(r2.length == d)
    val w2fp = r2.map(_.getAs[Long]("component_fp").toDouble)
    val lam2Fp = r2.head.getAs[Long]("eigenvalue_fp")
    val ppb2 = r2.head.getAs[Long]("explained_ppb")
    val cum = r2.head.getAs[Long]("cum_explained_ppb")
    val cov2 = Array.tabulate(d, d)((i, j) =>
      cov(i)(j) - refLam * v(i) * v(j))
    var u = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    (1 to 500).foreach { _ =>
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => cov2(i)(j) * u(j)).sum)
      val nrm = math.sqrt(y.map(x => x * x).sum)
      u = y.map(_ / nrm)
    }
    val refLam2 = (0 until d).map(i =>
      (0 until d).map(j => cov(i)(j) * u(i) * u(j)).sum).sum
    val nrm2Fp = math.sqrt(w2fp.map(x => x * x).sum)
    val w2 = w2fp.map(_ / nrm2Fp)
    val cos2 = (0 until d).map(i => w2(i) * u(i)).sum
    assert(math.abs(cos2) > 0.999, s"second-component cosine $cos2")
    assert(math.abs(ppb2 / 1e9 - refLam2 / trace) < 1e-4,
      s"ppb2 $ppb2 vs ${refLam2 / trace}")
    // both eigenvalues are Rayleigh quotients in the SAME rescaled
    // covariance units, so the spectrum order is a direct compare
    assert(lam2Fp <= lamFp, "spectrum ordered")
    assert(math.abs(cum / 1e9 - (refLam + refLam2) / trace) < 2e-4)
    // orthogonal to the top component (to fixed-point resolution),
    // canonical scale and sign
    val dot12 = (0 until d).map(i => w(i) * w2(i)).sum
    assert(math.abs(dot12) < 1e-3, s"v1.v2 = $dot12")
    assert(w2fp.map(math.abs).max == 262144.0)
    assert(w2fp.maxBy(math.abs) > 0.0)
  }

  test("basket_pairs emits ordered repeating pairs only") {
    val bp = analytics.Analytics.basketPairs(spark, dir).cache()
    assert(bp.filter(col("p1") >= col("p2")).count() == 0)
    assert(bp.filter(col("n_orders") < 2L).count() == 0)
    // spot-check one pair against a direct order-intersection count
    val top = bp.orderBy(col("n_orders").desc, col("p1"), col("p2")).head()
    val li = graft.Tables.t(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
    val o1 = li.filter(col("l_partkey") === top.getLong(0))
      .select("l_orderkey")
    val o2 = li.filter(col("l_partkey") === top.getLong(1))
      .select("l_orderkey")
    assert(o1.intersect(o2).count() == top.getLong(2))
  }

  test("conversion_lag accounts converted users within the signup cohort") {
    val lag = analytics.Analytics.conversionLag(spark, dir).cache()
    val ev = graft.Tables.t(spark, dir, "events")
    val nSignups = ev.filter(col("event_type") === "signup")
      .select("user_id").distinct().count()
    val converted = lag.agg(sum("n_users")).head.getLong(0)
    // every counted user signed up; buckets are non-negative whole days
    assert(converted > 0 && converted <= nSignups)
    assert(lag.filter(col("latency_days") < 0L).count() == 0)
  }

  test("pca_projection_hist partitions the corpus into consistent buckets") {
    val h = llm.Pca.pcaProjectionHist(spark, dir).cache()
    val emb = graft.Tables.t(spark, dir, "embeddings")
    assert(h.agg(sum("n_vecs")).head.getLong(0) == emb.count())
    assert(h.select("label").distinct().count() ==
      emb.select("label").distinct().count())
    // every row's projection extremes sit inside its integer bucket
    // interval (fixed-point width 2^28 = one 1/16th of the 2^32
    // projection unit; bucket = floor(proj / width))
    val w16 = 268435456L
    assert(h.filter(col("min_proj") < col("bucket") * lit(w16) ||
      col("max_proj") >= (col("bucket") + lit(1L)) * lit(w16) ||
      col("max_proj") < col("min_proj")).count() == 0)
    // the 2-d grid accounts the corpus too, and its v1 marginal matches
    // the 1-d histogram's counts at the coarser bucket width (16 -> 8)
    val g = llm.Pca.pcaScatter2d(spark, dir).cache()
    assert(g.agg(sum("n_vecs")).head.getLong(0) == emb.count())
    val marg = g.groupBy("b1").agg(sum("n_vecs").as("n"))
    val coarse = h.withColumn("b1",
        expr("CAST(floor(bucket / 2.0) AS BIGINT)"))
      .groupBy("b1").agg(sum("n_vecs").as("n"))
    assert(marg.exceptAll(coarse).count() == 0 &&
      coarse.exceptAll(marg).count() == 0)
    g.unpersist(); h.unpersist()
  }

  test("semdedup sweep is monotone non-increasing in the threshold") {
    val sw = llm.Similarity.semDedupSweep(spark, dir)
      .orderBy("th_pct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // raising the cut can only shed pairs and dropped docs
    sw.sliding(2).foreach {
      case Array((_, p0, d0), (_, p1, d1)) =>
        assert(p1 <= p0 && d1 <= d0, s"sweep not monotone: $sw")
      case _ =>
    }
    // the 0.25 point must reproduce semdedup's drop set size
    assert(sw.head._1 == 25L &&
      sw.head._3 == llm.Similarity.semDedup(spark, dir).count())
  }

  test("ivf recall curve: nprobe=2 point dominates nprobe=1") {
    val c = llm.Similarity.ivfRecallCurve(spark, dir)
      .orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(c.length == 2 && c(0)._1 == 1L && c(1)._1 == 2L)
    assert(c(1)._2 >= c(0)._2, s"probing more cells lost matches: ${c.toSeq}")
  }

  test("decontaminate report accounts the train split per source") {
    val r = llm.Dedup.decontaminateReport(spark, dir).cache()
    val train = Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 50L =!= 0L)
    assert(r.agg(sum("n_train")).head.getLong(0) == train.count())
    assert(r.filter(col("n_flagged") > col("n_train") ||
      col("n_unique_hits") > col("n_hits") ||
      col("contamination_bp") > 10000L).count() == 0)
    // flagged totals must reconcile with the per-doc hit frame
    assert(r.agg(sum("n_flagged")).head.getLong(0) ==
      llm.Dedup.decontaminate(spark, dir).count())
  }

  test("epoch orders are complete permutations and differ across epochs") {
    val e = llm.Sampling.epochOrder(spark, dir).cache()
    val n = Tables.t(spark, dir, "documents").count()
    // each epoch is a bijection onto [0, n)
    val per = e.groupBy("epoch").agg(
      count(lit(1)).as("cnt"), countDistinct("pos").as("dp"),
      min("pos").as("mn"), max("pos").as("mx"))
    assert(per.filter(col("cnt") =!= n || col("dp") =!= n ||
      col("mn") =!= 0L || col("mx") =!= (n - 1)).count() == 0)
    // the salt works: epoch 0 and 1 are not the same permutation
    val moved = e.filter(col("epoch") === 0L).select(col("doc_id"), col("pos"))
      .join(e.filter(col("epoch") === 1L)
        .select(col("doc_id"), col("pos").as("pos1")), "doc_id")
      .filter(col("pos") =!= col("pos1")).count()
    assert(moved > 0, "epoch 1 replayed epoch 0's order")
  }

  test("seq_boundaries masks agree with the pack layout") {
    val b = llm.Curation.seqBoundaries(spark, dir).cache()
    val pk = llm.Curation.packShuffled(spark, dir)
    // every owned doc appears in exactly one sequence's boundary list
    assert(b.agg(sum("n_docs")).head.getLong(0) == pk.count())
    // the boundary list leads with the first offset, and a zero first
    // offset is exactly the no-carry-in case
    assert(b.filter(!col("boundaries")
      .startsWith(col("first_off").cast("string"))).count() == 0)
    assert(b.filter((col("first_off") === 0L) === (col("carry_in") === 1L))
      .count() == 0)
    // offsets are in-sequence: 0 <= first and every straddler is counted
    assert(b.filter(col("first_off") < 0L ||
      col("n_straddle_out") > col("n_docs")).count() == 0)
  }

  test("shard manifest accounts every doc, token, and sequence once") {
    val m = llm.Curation.shardManifest(spark, dir).cache()
    val pk = llm.Curation.packShuffled(spark, dir).cache()
    assert(m.agg(sum("n_docs")).head.getLong(0) ==
      Tables.t(spark, dir, "documents").count())
    assert(m.agg(sum("n_seqs")).head.getLong(0) ==
      pk.select("seq_id").distinct().count())
    assert(m.agg(sum("n_toks")).head.getLong(0) ==
      pk.agg(sum("n_tok")).head.getLong(0))
    // round-robin interleave: a shard's sequence-id range is congruent to
    // the shard index (seq_id mod NumShards IS the shard)
    assert(m.filter(pmod(col("min_seq"), lit(8L)) =!= col("shard") ||
      pmod(col("max_seq"), lit(8L)) =!= col("shard")).count() == 0)
  }

  test("refine re-ranking never loses recall vs the raw ADC ranking") {
    // The refine candidate set (ADC top-RefineR) is a superset of the ADC
    // top-3, and any global-top-3 member inside it outranks every other
    // candidate under exact cosine — so per-query refined recall is >= the
    // unrefined ivfpq recall, with no tolerance needed (exact integers).
    val ref = llm.Similarity.refineRecall(spark, dir)
      .select(col("q_id"), col("n_matched").as("m_ref"))
    val raw = llm.Similarity.ivfpqRecall(spark, dir)
      .select(col("q_id"), col("n_matched").as("m_raw"))
    assert(ref.join(raw, "q_id").filter(col("m_ref") < col("m_raw"))
      .count() == 0)
    // refined output is a dense top-3 with cosines in [-1, 1]
    val r = llm.Similarity.annRefine(spark, dir)
    assert(r.filter(abs(col("cos")) > 1.0 + 1e-9).count() == 0)
    val perQ = r.groupBy("q_id").agg(
      count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.filter(col("mx") =!= col("n") || col("mn") =!= 1L).count() == 0)
  }

  test("transitive schema compat is at most the non-transitive verdict") {
    val t = registry.SchemaRegistry.schemaCompatTransitive(spark, dir)
    assert(t.filter(col("backward_transitive") === 1L && col("backward") === 0L)
      .count() == 0)
    assert(t.filter(col("forward_transitive") === 1L && col("forward") === 0L)
      .count() == 0)
  }

  test("schema resolution plan aggregates to the subject verdicts") {
    val plan = registry.SchemaRegistry.schemaResolutionPlan(spark, dir).cache()
    try {
      // the subject-level backward/forward verdicts ARE the AND over the
      // plan's per-field blocks columns
      val agg = plan.groupBy("topic").agg(
        (lit(1L) - max("blocks_backward")).as("b"),
        (lit(1L) - max("blocks_forward")).as("f"))
      val modes = registry.SchemaRegistry.schemaCompatModes(spark, dir)
      assert(agg.join(modes, "topic")
        .filter(col("b") =!= col("backward") || col("f") =!= col("forward"))
        .count() == 0)
      // action lattice: READ/PROMOTE never block backward, TYPE_ERROR
      // always does, and real promotions exist on testdata
      assert(plan.filter(col("action").isin("READ", "PROMOTE") &&
        col("blocks_backward") === 1L).count() == 0)
      assert(plan.filter(col("action") === "TYPE_ERROR" &&
        col("blocks_backward") === 0L).count() == 0)
      assert(plan.filter(col("action") === "PROMOTE").count() > 0)
    } finally plan.unpersist()
  }

  test("type-aware compat distinguishes field-set-pass from type-fail") {
    import registry.SchemaRegistry
    // Per-topic verdicts: field-set-only backward (the pre-type-aware
    // check) vs the shipped type-aware one.
    val flags = SchemaRegistry.versionFlags(spark, dir)
    val fsBwd = flags.groupBy("topic").agg(
      min(when(col("has_v2") === 1L && col("has_v3") === 0L, 0L)
        .otherwise(1L)).as("fs_backward"))
    val tyBwd = SchemaRegistry.schemaCompatModes(spark, dir)
      .select("topic", "backward")
    val both = fsBwd.join(tyBwd, "topic").cache()
    try {
      // The type check only ever TIGHTENS the field-set verdict...
      assert(both.filter(col("backward") === 1L && col("fs_backward") === 0L)
        .count() == 0)
      // ...and on testdata at least one subject keeps every v2 field in v3
      // yet fails on an un-promotable type change (the Avro-rule signal the
      // field-set check is blind to).
      assert(both.filter(col("fs_backward") === 1L && col("backward") === 0L)
        .count() >= 1)
    } finally both.unpersist()
    // Promotion table spot-checks: long→double passes backward, string→long
    // and double→int break, string↔bytes passes both ways.
    val cases = spark.createDataFrame(Seq(
      ("long", "double", 1), ("string", "long", 0), ("double", "int", 0),
      ("string", "bytes", 1), ("bytes", "string", 1), ("int", "int", 1)))
      .toDF("w", "r", "expect")
    assert(cases.filter(
      SchemaRegistry.promotable(col("w"), col("r")).cast("int")
        =!= col("expect")).count() == 0)
  }

  test("isr_status and reassignment plan are placement-consistent") {
    val isr = graft.log.BrokerOps.isrStatus(spark, dir)
    assert(isr.filter(col("n_isr") < 1 || col("n_isr") > 3).count() == 0)
    assert(isr.filter(col("leader") < 0 || col("leader") > 3).count() == 0)
    // min-ISR violation implies under-replication
    assert(isr.filter(col("min_isr_violated") === 1 &&
      col("under_replicated") === 0).count() == 0)
    val rr = graft.log.BrokerOps.replicaReassignment(spark, dir)
    // the drained broker can never be a destination
    assert(rr.filter(col("dest_broker") < 0 || col("dest_broker") > 2).count() == 0)
    assert(rr.filter((col("drained_role") === "leader") =!=
      (col("needs_leader_election") === 1)).count() == 0)
  }

  test("multi-table LSH recall dominates the single table") {
    // Table 0 of the 4-table index IS the single-table index (same plane
    // namespace), so its candidate set is a superset and — because the
    // final ranking uses the true cosine — recall@3 is monotone in L.
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg("recall")).head.getDouble(0)
    assert(mean(llm.Similarity.lshMultiRecall(spark, dir)) >=
      mean(llm.Similarity.annRecall(spark, dir)) - 1e-9)
  }

  test("temperature mixing dampens: up-weight ratio decreases with size") {
    val m = llm.Sampling.mixTemperature(spark, dir)
    // The true tau < 1 invariant: temp_share / natural_share is
    // proportional to 1/sqrt(n), so it must be non-increasing in source
    // size. (The naive "crossover at the uniform share" claim is FALSE —
    // the crossover sits at (N / sum(sqrt(n)))^2, above uniform.)
    val rows = m.select("n_docs", "temp_share", "natural_share")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1) / r.getDouble(2)))
      .sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((na, ra), (nb, rb)) =>
        assert(na > nb || ra >= rb - 1e-9,
          s"ratio not non-increasing: n=$na ratio=$ra then n=$nb ratio=$rb")
      case _ => ()
    }
    // shares are distributions (within integer-quantization slack)
    val sums = m.agg(sum("natural_share"), sum("temp_share")).head
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-6)
  }

  test("pack_efficiency: tail waste bounded, spanning docs bounded") {
    val p = llm.Curation.packEfficiency(spark, dir)
    assert(p.filter(col("tail_waste") < 0 || col("tail_waste") >= 512).count() == 0)
    assert(p.filter(col("n_spanning") > col("n_docs")).count() == 0)
    assert(p.filter(col("n_seqs") * 512 < col("total_toks")).count() == 0)
  }

  test("embedding pair generators are sub-bucket capped") {
    // Pin the cap value: SURVEY §5 documents 40 as the stop-signal for the
    // within-block pair generators; changing it must be a deliberate edit.
    val cap = 40L
    assert(llm.Similarity.PairSubCap == cap)
    // Every dedup_embedding pair must share its label's vec_id-congruence
    // sub-bucket (nsub = ceil(block / cap)) — the bound that keeps pair
    // work O(n * cap) instead of O(block^2).
    val lbl = llm.Embeddings.withNorm(spark, dir).select("vec_id", "label")
    val nsub = lbl.groupBy("label")
      .agg(expr(s"(count(1) + ${cap - 1}) div $cap").as("nsub"))
    val bad = llm.Dedup.dedupEmbedding(spark, dir)
      .join(lbl.toDF("d1", "label"), "d1")
      .join(nsub, "label")
      .filter(pmod(col("d1"), col("nsub")) =!= pmod(col("d2"), col("nsub")))
    assert(bad.count() == 0)
  }

  test("q21 waiting suppliers: top-10 window with deterministic ranks") {
    val w = analytics.Analytics.q21(spark, dir)
    assert(w.count() <= 10)
    assert(w.select("rnk").distinct().count() == w.count())
    assert(w.filter(col("numwait") < 1).count() == 0)
  }

  test("broker routing moves exactly the failed broker's partitions") {
    val r = graft.log.BrokerOps.brokerRouting(spark, dir)
    assert(r.filter(col("moved") === 1 && col("new_broker") === col("broker"))
      .count() == 0)
    assert(r.filter(col("moved") === 0 && col("new_broker") =!= col("broker"))
      .count() == 0)
    // exactly one broker id disappears after failover
    val before = r.select("broker").distinct().count()
    val after = r.select("new_broker").distinct().count()
    assert(before >= after)
    assert(r.filter(col("new_broker") > 3 || col("new_broker") < 0).count() == 0)
  }

  test("cursor cache: every partition pays exactly one seek") {
    val c = coordinator.Groups.cursorCache(spark, dir)
    assert(c.filter(col("n_seeks") =!= col("n_parts")).count() == 0)
    assert(c.filter(col("n_hits") + col("n_seeks") =!= col("n_fetches"))
      .count() == 0)
    assert(c.filter(col("hit_ratio") < 0.0 || col("hit_ratio") >= 1.0)
      .count() == 0)
  }

  test("substring dup pairs share at least 3 of 8 fingerprints") {
    val p = llm.TextAnalysis.substringDupPairs(spark, dir)
    assert(p.filter(col("n_shared") < 3 || col("n_shared") > 8).count() == 0)
    assert(p.filter(col("d1") >= col("d2")).count() == 0)
  }

  test("ivf nprobe=2 neighbors are never worse than nprobe=1") {
    val p1 = llm.Similarity.annIvf(spark, dir)
      .select(col("q_id"), col("rank"), col("cos").as("cos1"))
    val p2 = llm.Similarity.annIvfNprobe2(spark, dir)
      .select(col("q_id"), col("rank"), col("cos").as("cos2"))
    // probing a superset of cells can only improve the rank-r neighbor
    assert(p1.join(p2, Seq("q_id", "rank"))
      .filter(col("cos2") < col("cos1")).count() == 0)
  }

  test("dedup threshold sweep is monotone in the threshold") {
    val s = llm.Dedup.dedupThresholdSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    s.sliding(2).foreach { case Array((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1)
    }
  }

  test("watermark policy drops are monotone in the delay") {
    val w = graft.log.LogOps.watermarkPolicy(spark, dir)
    assert(w.filter(col("dropped_5m") < col("dropped_15m")).count() == 0)
    assert(w.filter(col("dropped_15m") < col("dropped_1h")).count() == 0)
    assert(w.filter(col("dropped_5m") > col("n_events")).count() == 0)
  }

  test("cdc view: one insert per key, inserts carry no previous value") {
    val c = graft.log.LogOps.cdcView(spark, dir)
    val inserts = c.filter(col("op") === "I")
    assert(inserts.count() ==
      c.select("topic", "part", "k").distinct().count())
    assert(inserts.filter(col("prev_v").isNotNull).count() == 0)
    assert(c.filter(col("op") === "U" && col("prev_v").isNull).count() == 0)
  }

  test("incident blast: every incident window contains at least itself") {
    val b = analytics.Analytics.incidentBlast(spark, dir)
    assert(b.filter(col("n_events") < 1).count() == 0)
    val nIncidents = Tables.t(spark, dir, "events")
      .filter(col("event_type") === "error").count()
    assert(b.count() == nIncidents)
  }

  test("gram likelihood score is the mean df of a doc's tokens") {
    val g = llm.TextAnalysis.gramLikelihood(spark, dir)
    // df of any token is at least 1 and at most the doc count
    val nDocs = Tables.t(spark, dir, "documents").count()
    assert(g.filter(col("score") < 1.0 || col("score") > nDocs).count() == 0)
    assert(g.filter(col("sum_df") < col("n_tokens")).count() == 0)
  }

  test("boilerplate strip: chunk and token accounting are conserved") {
    val bp = llm.Curation.boilerplateChunks(spark, dir)
    assert(bp.filter(col("n_occ") < col("n_docs")).count() == 0)
    val s = llm.Curation.stripBoilerplate(spark, dir)
    // every document appears, and dropped chunks never exceed the total
    assert(s.count() == Tables.t(spark, dir, "documents").count())
    assert(s.filter(col("n_bp") > col("n_chunks")).count() == 0)
    // a doc with no boilerplate keeps every token: kept_toks == ws tokens
    val full = s.filter(col("n_bp") === 0).join(
      Tables.t(spark, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt")),
      "doc_id")
    assert(full.filter(col("kept_toks") =!= col("nt")).count() == 0)
  }

  test("seq_pack tiles each source contiguously from offset 0") {
    val p = llm.Curation.seqPack(spark, dir).cache()
    // offsets are a prefix-sum tiling: next start = prev start + n_tok
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val bad = p.withColumn("nxt", lead("start_off", 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("start_off") + col("n_tok"))
    assert(bad.count() == 0)
    assert(p.groupBy("source").agg(min("start_off").as("m"))
      .filter(col("m") =!= 0L).count() == 0)
    // spans_boundary is exact: flagged iff the doc crosses a 512 cut
    val wrong = p.filter(
      (expr("(start_off + n_tok - 1) div 512") =!= col("seq_id")).cast("int")
        =!= col("spans_boundary").cast("int"))
    assert(wrong.count() == 0)
    p.unpersist()
  }

  test("schema compat lattice: transitive modes only ever tighten") {
    // BACKWARD_TRANSITIVE checks v3 against MORE versions than BACKWARD,
    // so it can only flip 1 -> 0, never 0 -> 1 (same for FORWARD); FULL_*
    // is exactly the conjunction. subject_config's admission verdict
    // inherits these, so a mode upgrade can never admit a schema the
    // weaker mode rejected.
    val m = graft.registry.SchemaRegistry.schemaCompatTransitive(spark, dir)
    assert(m.filter(col("backward_transitive") > col("backward"))
      .count() == 0)
    assert(m.filter(col("forward_transitive") > col("forward"))
      .count() == 0)
    assert(m.filter(col("full_transitive") =!=
      col("backward_transitive") * col("forward_transitive")).count() == 0)
  }

  test("schema ids are dense and conserve the (subject, version) slots") {
    val ids = graft.registry.SchemaRegistry.schemaIds(spark, dir).cache()
    val v = graft.registry.SchemaRegistry.schemaVersions(spark, dir)
    // one row per (subject, version) slot, n_uses conserved per id
    assert(ids.count() == v.count())
    val perId = ids.groupBy("schema_id")
      .agg(countDistinct("fingerprint").as("nf"), count(lit(1)).as("n"),
        max("n_uses").as("declared"))
    assert(perId.filter(col("nf") =!= 1L).count() == 0,
      "one fingerprint per id")
    assert(perId.filter(col("n") =!= col("declared")).count() == 0,
      "n_uses must equal the slots sharing the id")
    // ids are dense 1..N over distinct fingerprints
    val n = perId.count()
    assert(ids.agg(min("schema_id"), max("schema_id")).collect()(0)
      .toSeq == Seq(1L, n))
    ids.unpersist()
  }

  test("dsir weights separate the target source from the raw corpus") {
    val w = llm.Sampling.dsirWeights(spark, dir)
      .join(Tables.t(spark, dir, "documents").select("doc_id", "source"),
        "doc_id")
      .groupBy(when(col("source") === "src0", "target").otherwise("raw")
        .as("side"))
      .agg(avg("dsir_score").as("mean_score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // The importance discriminant must rank the target slice above the
    // raw rest on average — the property that makes resampling select
    // target-like data at all.
    assert(w("target") > w("raw"),
      s"target mean ${w("target")} not above raw mean ${w("raw")}")
  }

  test("acl decisions partition requests and respect grant precedence") {
    val a = admin.Admin.aclCheck(spark, dir).cache()
    // every event is accounted exactly once
    val total = a.agg(sum("n_requests").cast("long")).head.getLong(0)
    assert(total == Tables.t(spark, dir, "events").count())
    // DENY iff no grant level fired; ALLOW always names its level
    assert(a.filter(col("decision") === "DENY" && col("via") =!= "-")
      .count() == 0)
    assert(a.filter(col("decision") === "ALLOW" && col("via") === "-")
      .count() == 0)
    // precedence: a SUPER row's role is super/admin EVERYWHERE it appears
    // with the same ns — no row of the same (ns, role) may resolve lower
    // via a namespace grant decision only when super didn't fire
    val superRoles = a.filter(col("via") === "SUPER")
      .select("ns", "role").distinct()
    assert(a.join(superRoles, Seq("ns", "role"))
      .filter(col("via") =!= "SUPER").count() == 0)
    // Derive the EXPECTED decision for every (topic, ns, role, action)
    // from the md5 coin functions directly (driver-side MessageDigest on
    // the metadata-sized result) — corpus- and cardinality-independent,
    // unlike asserting all four outcomes occur at one pinned SF.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def coin(s: String): Char = md5hex(s).charAt(0)
    a.select("topic", "ns", "role", "action", "via").collect().foreach { r =>
      val Seq(topic, ns, role, action, via) =
        (0 to 4).map(r.getString)
      assert(ns == "ns" + (java.lang.Long.parseLong(
        coin(s"ns#$topic").toString, 16) % 2), s"ns derivation for $topic")
      val isSuper = "01".contains(coin(s"super#$role"))
      val isAdmin = "01".contains(coin(s"admin#$ns#$role"))
      val nsGrant = "0123".contains(coin(s"nsgrant#$ns#$role#$action"))
      val tGrant = "012".contains(coin(s"tgrant#$topic#$role#$action"))
      val expected =
        if (isSuper || isAdmin) "SUPER"
        else if (nsGrant) "NAMESPACE"
        else if (tGrant) "TOPIC"
        else "-"
      assert(via == expected, s"($topic, $ns, $role, $action)")
    }
    a.unpersist()
  }

  test("alter_configs validates against each key's range and applies only OK proposals") {
    val a = admin.Admin.alterConfigs(spark, dir).cache()
    assert(a.count() > 0)
    // an accepted proposal becomes effective; a rejected one never does
    assert(a.filter(col("outcome") === "OK" &&
      col("new_effective") =!= col("proposed_value")).count() == 0)
    assert(a.filter(col("outcome") === "INVALID_CONFIG" &&
      col("new_effective") =!= col("old_effective")).count() == 0)
    // the cutoff shift exists exactly for accepted retention.ms changes
    assert(a.filter(col("cutoff_shift_ms").isNotNull &&
      (col("config_key") =!= "retention.ms" || col("outcome") =!= "OK"))
      .count() == 0)
    // numeric range rules hold for every accepted numeric proposal
    assert(a.filter(col("config_key") === "retention.ms" &&
      col("outcome") === "OK" && col("proposed_value").cast("long") <= 0L)
      .count() == 0)
    assert(a.filter(col("config_key") === "segment.bytes" &&
      col("outcome") === "OK" && col("proposed_value").cast("long") < 14L)
      .count() == 0)
    // rejected cleanup.policy values are never one of the three spellings
    assert(a.filter(col("config_key") === "cleanup.policy" &&
      col("outcome") === "INVALID_CONFIG" &&
      col("proposed_value").isin("delete", "compact", "compact,delete"))
      .count() == 0)
    a.unpersist()
  }

  test("api_versions negotiates least(client, broker) and accounts every request") {
    val a = admin.Admin.apiVersions(spark, dir).cache()
    assert(a.count() > 0)
    // every event is accounted exactly once across (client, api) cells
    assert(a.agg(sum("n_requests").cast("long")).head.getLong(0) ==
      Tables.t(spark, dir, "events").count())
    // the draw respects its modulus and the negotiation algebra holds
    assert(a.filter(col("client_max") < 0 ||
      col("client_max") > col("broker_max") + 3).count() == 0)
    assert(a.filter(col("outcome") === "UNSUPPORTED_VERSION" &&
      col("client_max") >= col("broker_min")).count() == 0)
    assert(a.filter(col("outcome") === "OK" &&
      col("used_version") =!= least(col("client_max"), col("broker_max")))
      .count() == 0)
    assert(a.filter(col("used_version").isNull =!=
      (col("outcome") === "UNSUPPORTED_VERSION")).count() == 0)
    // a used version is always inside the advertised range
    assert(a.filter(col("outcome") === "OK" &&
      (col("used_version") < col("broker_min") ||
        col("used_version") > col("broker_max"))).count() == 0)
    // the range table itself: LIST_OFFSETS min is 0 (the librdkafka
    // override the reference hard-codes), and every row joined a real api
    assert(a.filter(col("api_name") === "LIST_OFFSETS" &&
      col("broker_min") =!= 0L).count() == 0)
    assert(a.select("api_name").distinct().count() ==
      admin.Admin.apiRanges.size)
    a.unpersist()
  }

  test("sasl_flow's state machine gates authenticate on the handshake") {
    val s = admin.Admin.saslFlow(spark, dir).cache()
    assert(s.count() > 0)
    assert(s.agg(sum("n_requests").cast("long")).head.getLong(0) ==
      Tables.t(spark, dir, "events").count())
    // handshake rejects exactly the mechanisms outside the allowed set
    assert(s.filter((col("handshake_outcome") === "NONE") =!=
      col("mechanism").isin("PLAIN", "OAUTHBEARER")).count() == 0)
    // authenticate runs iff the handshake succeeded
    assert(s.filter(col("auth_outcome").isNull =!=
      (col("handshake_outcome") =!= "NONE")).count() == 0)
    // COMPLETE iff authenticate returned NONE; principal iff COMPLETE
    assert(s.filter((col("final_state") === "COMPLETE") =!=
      (col("auth_outcome") === "NONE")).count() == 0)
    assert(s.filter(col("principal").isNotNull =!=
      (col("final_state") === "COMPLETE")).count() == 0)
    // the principal is acl_check's role universe: conn<i> -> role<i%8>
    assert(s.filter(col("principal").isNotNull &&
      col("principal") =!= concat(lit("role"),
        pmod(regexp_extract(col("conn"), "conn(\\d+)", 1).cast("long"),
          lit(8L)))).count() == 0)
    s.unpersist()
  }

  test("cluster_sample keeps sparse cells whole and thins dense cells") {
    val s = llm.Similarity.clusterSample(spark, dir).cache()
    assert(s.count() > 0)
    // a cell at or under the target is never thinned: every member's
    // coin * n_cell < target * 1e6 by construction
    val target = llm.Similarity.SampleTarget
    val perCell = s.groupBy("cell", "n_cell").agg(count(lit(1)).as("kept"))
    assert(perCell.filter(col("n_cell") <= target &&
      col("kept") =!= col("n_cell")).count() == 0)
    // no cell keeps more than its population, and the coin bound holds
    assert(perCell.filter(col("kept") > col("n_cell")).count() == 0)
    assert(s.filter(col("coin") * col("n_cell") >= target * 1000000L)
      .count() == 0)
    s.unpersist()
  }

  test("curation pipeline manifest is contiguous and drops exactly the losers") {
    val m = llm.Curation.curationPipeline(spark, dir).cache()
    val n = m.count()
    assert(n > 0)
    // shuffle positions are dense 0..n-1
    assert(m.agg(min("shuffle_pos"), max("shuffle_pos"),
      countDistinct("shuffle_pos")).head.toSeq == Seq(0L, n - 1, n))
    // start offsets are the exclusive running token sum in shuffle order —
    // the packed stream has no gaps and no overlaps
    val w = org.apache.spark.sql.expressions.Window.orderBy("shuffle_pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    assert(m.withColumn("expected", coalesce(sum("n_tok").over(w), lit(0L)))
      .filter(col("start_off") =!= col("expected")).count() == 0)
    // membership == corpus_filter keepers minus dedup-cluster losers
    val keep = llm.TextAnalysis.corpusFilter(spark, dir)
      .filter(col("keep") === 1L).select("doc_id")
    val losers = llm.Dedup.dedupClusters(spark, dir)
      .filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
    val expected = keep.except(losers)
    assert(m.select("doc_id").except(expected).count() == 0)
    assert(expected.except(m.select("doc_id")).count() == 0)
    m.unpersist()
  }

  test("knn graph is rank-dense, self-free, and degree-consistent") {
    val g = llm.Similarity.knnGraph(spark, dir).cache()
    assert(g.count() > 0)
    assert(g.filter(col("q_id") === col("n_id")).count() == 0)
    // ranks are 1..k(q) with no gaps and k(q) <= 3
    val perQ = g.groupBy("q_id")
      .agg(count(lit(1)).as("k"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.filter(col("k") > 3L || col("mx") =!= col("k") ||
      col("mn") =!= 1L).count() == 0)
    // cosine is a valid similarity and ranks are ordered by it
    assert(g.filter(col("cos") > 1.0000001 || col("cos") < -1.0000001)
      .count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("rank")
    assert(g.withColumn("prev", lag("cos", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("cos"))
      .count() == 0)
    // the in-degree histogram accounts every edge exactly once
    val edges = g.count()
    val byDeg = llm.Similarity.knnDegree(spark, dir)
      .agg(sum(col("in_deg") * col("n_vecs")).cast("long")).head.getLong(0)
    assert(byDeg == edges)
    g.unpersist()
  }

  test("knn clusters label every edge endpoint consistently") {
    val labels = llm.Similarity.knnClusters(spark, dir).cache()
    // cluster_id is the component minimum: never above the member, and
    // itself a member of its own cluster
    assert(labels.filter(col("cluster_id") > col("vec_id")).count() == 0)
    val roots = labels.select(col("cluster_id").as("vec_id")).distinct()
    assert(roots.join(labels, "vec_id")
      .filter(col("cluster_id") =!= col("vec_id")).count() == 0)
    // both endpoints of every thresholded edge share a label
    val e = llm.Similarity.knnGraph(spark, dir)
      .filter(col("cos") >= 0.25).select("q_id", "n_id")
    val l1 = labels.withColumnRenamed("vec_id", "q_id")
      .withColumnRenamed("cluster_id", "c1")
    val l2 = labels.withColumnRenamed("vec_id", "n_id")
      .withColumnRenamed("cluster_id", "c2")
    assert(e.join(l1, "q_id").join(l2, "n_id")
      .filter(col("c1") =!= col("c2")).count() == 0)
    labels.unpersist()
  }

  test("snn graph covers every knn edge; counts match an independent path") {
    val g = llm.Similarity.knnGraph(spark, dir)
    val und = g.select(least(col("q_id"), col("n_id")).as("a"),
      greatest(col("q_id"), col("n_id")).as("b")).distinct().cache()
    val s = llm.Similarity.snnGraph(spark, dir).cache()
    // totality: exactly the undirected knn edge universe, nothing else
    assert(s.count() == und.count())
    assert(s.select("a", "b").exceptAll(und).count() == 0)
    // shared counts bounded by the k = 3 cap; similarity a valid ratio,
    // zero exactly when the intersection is empty
    assert(s.filter(col("n_shared") < 0L || col("n_shared") > 3L).count() == 0)
    assert(s.filter(col("snn_sim") < 0.0 || col("snn_sim") > 1.0).count() == 0)
    assert(s.filter((col("n_shared") === 0L) =!= (col("snn_sim") === 0.0))
      .count() == 0)
    // independent recomputation of the shared count via array_intersect
    // (different builtin, unsorted adjacency) must agree edge-for-edge
    val adj = g.groupBy("q_id").agg(collect_set("n_id").as("nb"))
    val chk = s.join(adj.select(col("q_id").as("a"), col("nb").as("xa")), "a")
      .join(adj.select(col("q_id").as("b"), col("nb").as("xb")), "b")
      .withColumn("ref", size(array_intersect(col("xa"), col("xb"))).cast("long"))
    assert(chk.filter(col("n_shared") =!= col("ref")).count() == 0)
    und.unpersist(); s.unpersist()
  }

  test("snn clusters bind exactly the mutual shared-neighbor edges") {
    val labels = llm.Similarity.snnClusters(spark, dir).cache()
    assert(labels.count() > 0)
    // cluster_id is the component minimum and roots label themselves
    assert(labels.filter(col("cluster_id") > col("vec_id")).count() == 0)
    val roots = labels.select(col("cluster_id").as("vec_id")).distinct()
    assert(roots.join(labels, "vec_id")
      .filter(col("cluster_id") =!= col("vec_id")).count() == 0)
    // the JP edge set: mutual knn pairs with >= 1 shared neighbor
    val g = llm.Similarity.knnGraph(spark, dir)
    val jp = g.groupBy(least(col("q_id"), col("n_id")).as("a"),
        greatest(col("q_id"), col("n_id")).as("b"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") === 2L)
      .join(llm.Similarity.snnGraph(spark, dir)
        .filter(col("n_shared") >= 1L).select("a", "b"), Seq("a", "b"))
      .cache()
    // both endpoints of every JP edge carry the same label, and the
    // labeled universe is exactly the JP edge endpoints
    val l1 = labels.select(col("vec_id").as("a"), col("cluster_id").as("c1"))
    val l2 = labels.select(col("vec_id").as("b"), col("cluster_id").as("c2"))
    val j = jp.join(l1, "a").join(l2, "b")
    assert(j.count() == jp.count())
    assert(j.filter(col("c1") =!= col("c2")).count() == 0)
    val ends = jp.select(col("a").as("vec_id"))
      .union(jp.select(col("b").as("vec_id"))).distinct()
    assert(labels.select("vec_id").exceptAll(ends).count() == 0)
    assert(ends.exceptAll(labels.select("vec_id")).count() == 0)
    jp.unpersist(); labels.unpersist()
  }

  test("pii scrub finds exactly the injected PII universe") {
    val p = llm.Curation.piiScrub(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id")).cache()
    val n = docs.count()
    def injected(m: Long) = docs.filter(pmod(col("doc_id"), lit(m)) === 0L).count()
    val agg = p.agg(
      sum("n_docs").cast("long"), sum("n_emails").cast("long"),
      sum("n_phones").cast("long"), sum("n_ips").cast("long"),
      sum("chars_redacted").cast("long"), sum("docs_with_pii").cast("long"))
      .head
    assert(agg.getLong(0) == n)
    // each injected token matches its class regex exactly once, and the
    // base corpus (lowercase word salad) contributes zero hits
    assert(agg.getLong(1) == injected(7L))
    assert(agg.getLong(2) == injected(11L))
    assert(agg.getLong(3) == injected(13L))
    assert(agg.getLong(4) > 0L)
    // docs_with_pii counts the union of the three residue classes
    val union = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L ||
      pmod(col("doc_id"), lit(11L)) === 0L ||
      pmod(col("doc_id"), lit(13L)) === 0L).count()
    assert(agg.getLong(5) == union)
    docs.unpersist(); p.unpersist()
  }

  test("lexical diversity indices stay in their algebraic ranges") {
    val d = llm.TextAnalysis.lexicalDiversity(spark, dir).cache()
    // 1 <= n_types <= n_tokens; sum_sq >= n_tokens (each tf >= 1) and
    // sum_sq <= n_tokens^2 (all mass on one type).
    assert(d.filter(col("n_types") < 1L || col("n_types") > col("n_tokens"))
      .count() == 0)
    assert(d.filter(col("sum_sq") < col("n_tokens") ||
      col("sum_sq") > col("n_tokens") * col("n_tokens")).count() == 0)
    // ttr in (0, 1]; simpson in [0, 1); all-distinct docs have ttr == 1
    // and simpson == 1 - 1/n exactly.
    assert(d.filter(col("ttr") <= 0.0 || col("ttr") > 1.0).count() == 0)
    assert(d.filter(col("simpson") < 0.0 || col("simpson") >= 1.0)
      .count() == 0)
    val allDistinct = d.filter(col("n_types") === col("n_tokens"))
    assert(allDistinct.filter(col("ttr") =!= 1.0).count() == 0)
    d.unpersist()
  }

  test("doc_chunk covers every char of every doc, windows aligned") {
    val docs = Tables.t(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val chunks = graft.llm.Chunking.docChunk(spark, dir).cache()
    // every doc chunked; first window starts at 1; last window ends at
    // len; consecutive windows stride exactly 150
    val perDoc = chunks.groupBy("doc_id").agg(
      min("c_start").as("first_start"),
      max(col("c_start") + col("c_len") - 1L).as("last_end"),
      count(lit(1)).as("n_chunks"),
      max("chunk_id").as("max_k"))
    val joined = perDoc.join(docs, "doc_id").cache()
    assert(joined.count() == docs.count())
    assert(joined.filter(col("first_start") =!= 1L).count() == 0)
    assert(joined.filter(col("last_end") =!= col("len")).count() == 0)
    assert(joined.filter(col("n_chunks") =!= col("max_k") + 1L).count() == 0)
    // no window exceeds Win chars, and every short window is exactly an
    // end-truncated one (c_len = len - c_start + 1) — with Win > Stride
    // the final up-to-50 chars can shorten more than one trailing window
    assert(chunks.filter(col("c_len") > graft.llm.Chunking.Win).count() == 0)
    val badShort = chunks.join(docs, "doc_id")
      .filter(col("c_len") < graft.llm.Chunking.Win &&
        col("c_len") =!= col("len") - col("c_start") + 1L)
    assert(badShort.count() == 0)
    joined.unpersist(); chunks.unpersist()
  }

  test("dedup_delta orients every match delta -> base across the coin") {
    import graft.functions.Parity.md5Long
    val d = graft.llm.Dedup.dedupDelta(spark, dir).cache()
    // every delta_id is in the 10% coin split, every first_base outside
    assert(d.filter(
      md5Long(col("delta_id").cast("string")) % 10L =!= 0L).count() == 0)
    assert(d.filter(
      md5Long(col("first_base").cast("string")) % 10L === 0L).count() == 0)
    // evidence is internally consistent
    assert(d.filter(col("n_matches") < 1L).count() == 0)
    assert(d.filter(col("best_jac") < 0.5 || col("best_jac") > 1.0)
      .count() == 0)
    d.unpersist()
  }

  test("curriculum_order is a difficulty-sorted permutation in 4 phases") {
    val co = graft.llm.Sampling.curriculumOrder(spark, dir).cache()
    val n = Tables.t(spark, dir, "documents").count()
    assert(co.count() == n)
    // pos is a bijection onto 0..n-1
    assert(co.select("pos").distinct().count() == n)
    val mm = co.agg(min("pos"), max("pos")).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == n - 1)
    // order is monotone in difficulty: a harder doc never precedes an
    // easier one
    val w = org.apache.spark.sql.expressions.Window.orderBy("pos")
    assert(co.withColumn("prev_cq", lag("cq", 1).over(w))
      .filter(col("prev_cq") > col("cq")).count() == 0)
    // phases split 0..3 and are monotone in pos by construction
    assert(co.filter(col("phase") < 0L || col("phase") > 3L).count() == 0)
    co.unpersist()
  }

  test("ngram_novelty: first doc fully novel, novel mass == distinct grams") {
    val nv = llm.TextAnalysis.ngramNovelty(spark, dir).cache()
    // bounds: 0 <= n_novel <= n_grams, novelty in [0, 1]
    assert(nv.filter(col("n_novel") < 0L || col("n_novel") > col("n_grams"))
      .count() == 0)
    assert(nv.filter(col("novelty") < 0.0 || col("novelty") > 1.0)
      .count() == 0)
    // the smallest doc_id sees an empty prior corpus: novelty == 1
    val first = nv.orderBy("doc_id").select("novelty").head().getDouble(0)
    assert(first == 1.0)
    // every gram's first occurrence is credited exactly once: the novel
    // mass across docs equals the corpus-wide distinct gram-hash count
    val distinctGrams = Tables.t(spark, dir, "documents")
      .filter(length(col("text")) >= 8)
      .select(explode(expr("gram_hashes(text, 8, 0)")).as("h"))
      .distinct().count()
    assert(nv.agg(sum("n_novel")).head().getLong(0) == distinctGrams)
    nv.unpersist()
  }

  test("bigram_likelihood: bigram count matches tokens-1, score >= 1") {
    val bl = llm.TextAnalysis.bigramLikelihood(spark, dir).cache()
    // each doc's bigram mass is exactly n_ws - 1 (adjacent pairs)
    val tc = llm.TextAnalysis.tokenCount(spark, dir)
      .filter(col("n_ws") >= 2L)
    assert(bl.count() == tc.count())
    assert(bl.join(tc, "doc_id")
      .filter(col("n_bigrams") =!= col("n_ws") - 1L).count() == 0)
    // df >= 1 for every bigram a doc contains, so sum_df >= n_bigrams
    assert(bl.filter(col("sum_df") < col("n_bigrams")).count() == 0)
    assert(bl.filter(col("score") < 1.0).count() == 0)
    bl.unpersist()
  }

  test("context_overflow: kept + dropped == total, overflow bounded") {
    val covf = llm.Curation.contextOverflow(spark, dir).cache()
    assert(covf.filter(
      col("tok_kept") + col("tok_dropped") =!= col("tok_total")).count() == 0)
    assert(covf.filter(col("n_overflow") > col("n_docs")).count() == 0)
    // a source overflows iff it dropped tokens
    assert(covf.filter((col("n_overflow") > 0L) =!= (col("tok_dropped") > 0L))
      .count() == 0)
    // doc accounting covers the whole table
    val nDocs = Tables.t(spark, dir, "documents").count()
    assert(covf.agg(sum("n_docs")).head().getLong(0) == nDocs)
    covf.unpersist()
  }

  test("knn_pagerank: dangling floor exact, in-edges strictly raise rank") {
    val pr = llm.Similarity.knnPagerank(spark, dir).cache()
    val nVecs = Tables.t(spark, dir, "embeddings").count()
    assert(pr.count() == nVecs)
    // rank never drops below the dangling floor 0.15 (in millionths)
    assert(pr.filter(col("pr") < 150000L).count() == 0)
    // a vector in nobody's top-k sits EXACTLY at the floor; any in-edge
    // contributes at least 85 * (150000 div 3) div 100 > 0 above it
    val targets = llm.Similarity.knnGraph(spark, dir)
      .select(col("n_id").as("vec_id")).distinct()
    val joined = pr.join(targets.withColumn("has_in", lit(1L)),
      Seq("vec_id"), "left").cache()
    assert(joined.filter(col("has_in").isNull && col("pr") =!= 150000L)
      .count() == 0)
    assert(joined.filter(col("has_in").isNotNull && col("pr") <= 150000L)
      .count() == 0)
    joined.unpersist(); pr.unpersist()
  }

  test("split_leakage: only test docs, each with a real train near-dup") {
    import graft.functions.Parity.md5Long
    val lk = llm.Sampling.splitLeakage(spark, dir).cache()
    // every leaked doc is on the test side of the coin
    assert(lk.filter(
      md5Long(col("doc_id").cast("string")) % 10L < 9L).count() == 0)
    assert(lk.filter(col("n_train_dups") < 1L).count() == 0)
    // recompute the leak set from the cluster frame directly
    val cl = graft.llm.Dedup.dedupClusters(spark, dir)
      .withColumn("isTrain",
        md5Long(col("doc_id").cast("string")) % 10L < 9L)
    val expect = cl.filter(!col("isTrain")).as("t")
      .join(cl.filter(col("isTrain")).as("tr"),
        col("t.cluster_id") === col("tr.cluster_id"))
      .select(col("t.doc_id")).distinct().count()
    assert(lk.count() == expect)
    lk.unpersist()
  }

  test("embedding_outliers: full coverage, Markov-bounded outlier share") {
    val eo = llm.Similarity.embeddingOutliers(spark, dir).cache()
    val nVecs = Tables.t(spark, dir, "embeddings").count()
    assert(eo.count() == nVecs)
    assert(eo.filter(col("dist_sq") < 0L).count() == 0)
    assert(eo.filter(!col("outlier").isin(0L, 1L)).count() == 0)
    // dist > 2x mean can hold for at most half a label's population
    // (Markov): 2 * n_outliers <= n per label
    val perLabel = eo.groupBy("label").agg(
      count(lit(1)).as("n"), sum("outlier").as("n_out"))
    assert(perLabel.filter(col("n_out") * 2L > col("n")).count() == 0)
    eo.unpersist()
  }

  test("random_projection: 4 axes per vector, sign-flip preserves parity") {
    val rp = llm.Similarity.randomProjection(spark, dir).cache()
    val nVecs = Tables.t(spark, dir, "embeddings").count()
    assert(rp.count() == nVecs * 4)
    assert(rp.select("axis").distinct().count() == 4)
    // ±1 signs never change a sum's parity: proj ≡ Σ floor(x·1024) (mod 2)
    val qsum = Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(
        """aggregate(transform(embedding,
          |  x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0D) AS BIGINT)),
          |  0L, (a, x) -> a + x)""".stripMargin).as("qs"))
    assert(rp.join(qsum, "vec_id")
      .filter(pmod(col("proj"), lit(2L)) =!= pmod(col("qs"), lit(2L)))
      .count() == 0)
    rp.unpersist()
  }

  test("token_budget_plan: allocations exhaust the budget, epochs consistent") {
    val plan = llm.Sampling.tokenBudgetPlan(spark, dir).cache()
    val row = plan.agg(
      sum("alloc_tokens").cast("long"), count(lit(1)).cast("long")).head()
    val (alloc, nSrc) = (row.getLong(0), row.getLong(1))
    // floor division loses < 1 token per source, never over-allocates
    assert(alloc <= 1000000L && alloc > 1000000L - nSrc)
    // epochs_bp is exactly the basis-point quotient of alloc over mass
    assert(plan.filter(
      col("epochs_bp") =!= expr("(10000 * alloc_tokens) div n_tok"))
      .count() == 0)
    plan.unpersist()
  }

  test("cluster_canonical: keeper maximal, char accounting exact") {
    val canon = llm.Dedup.clusterCanonical(spark, dir).cache()
    val lab = llm.Dedup.dedupClusters(spark, dir)
      .join(Tables.t(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id")
    val agg = lab.groupBy("cluster_id").agg(
      count(lit(1)).cast("long").as("true_size"),
      max("n_chars").as("max_chars"),
      sum("n_chars").cast("long").as("true_chars"))
    val j = canon.join(agg, "cluster_id").cache()
    assert(canon.count() > 0 && j.count() == canon.count())
    assert(j.filter(col("csize") =!= col("true_size")).count() == 0)
    assert(j.filter(col("chars_total") =!= col("true_chars")).count() == 0)
    // the keeper is a longest member; removal frees everything else
    val keepChars = canon.select(col("keep_doc_id").as("doc_id"),
      col("cluster_id"), col("chars_total"), col("chars_removed"))
      .join(Tables.t(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id")
    assert(keepChars.join(agg, "cluster_id")
      .filter(col("n_chars") =!= col("max_chars")).count() == 0)
    assert(keepChars
      .filter(col("chars_removed") =!= col("chars_total") - col("n_chars"))
      .count() == 0)
    assert(canon.filter(col("csize") < 2).count() == 0)
    j.unpersist(); canon.unpersist()
  }

  test("interarrival_quartiles: ordered quartiles, counts match recount") {
    val iq = analytics.Analytics.interarrivalQuartiles(spark, dir).cache()
    assert(iq.count() > 0)
    assert(iq.filter(col("q1_ms") > col("median_ms") ||
      col("median_ms") > col("q3_ms") ||
      col("q3_ms") > col("max_ms")).count() == 0)
    assert(iq.filter(col("q1_ms") < 0L || col("n_gaps") <= 0L).count() == 0)
    // gaps per type = events of that type minus one per (user, type) group
    val direct = Tables.t(spark, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum(col("n") - lit(1L)).cast("long").as("n_gaps_direct"))
    assert(iq.join(direct, "event_type")
      .filter(col("n_gaps") =!= col("n_gaps_direct")).count() == 0)
    iq.unpersist()
  }

  test("dedup_survivors: drop accounting ties out against the canon frame") {
    val sv = llm.Dedup.dedupSurvivors(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    // per-source totals are the raw corpus, untouched by dedup
    val tot = docs.groupBy("source").agg(
      count(lit(1)).as("d_docs"), sum("n_chars").cast("long").as("d_chars"))
    assert(sv.join(tot, "source")
      .filter(col("n_docs") =!= col("d_docs") ||
        col("chars_total") =!= col("d_chars")).count() == 0)
    // global drops = cluster members minus one keeper per cluster, and
    // dropped char mass = the canon frame's chars_removed, summed
    val canon = llm.Dedup.clusterCanonical(spark, dir)
    val exp = canon.agg(
      sum(col("csize") - lit(1L)).cast("long"),
      sum("chars_removed").cast("long")).head()
    val got = sv.agg(
      sum("n_dropped").cast("long"), sum("chars_dropped").cast("long")).head()
    assert(got.getLong(0) == exp.getLong(0) &&
      got.getLong(1) == exp.getLong(1))
    assert(sv.filter(col("kept_bp") < 0L || col("kept_bp") > 10000L)
      .count() == 0)
    assert(sv.filter(
      col("kept_bp") =!= expr("(10000 * (n_docs - n_dropped)) div n_docs"))
      .count() == 0)
    sv.unpersist()
  }

  test("supplier_share_hhi: concentration bounds and revenue tie-out") {
    val hh = analytics.Analytics.supplierShareHhi(spark, dir).cache()
    assert(hh.count() > 0)
    // HHI lives in [10^8/n (even), 10^8 (monopoly)]; floor loss only
    // pushes it DOWN, so the upper bound is exact
    assert(hh.filter(col("hhi") > 100000000L ||
      col("top_share_bp") > 10000L || col("n_suppliers") <= 0L)
      .count() == 0)
    // even split is the floor: n * (10000/n)^2 <= hhi + floor loss,
    // so hhi * n >= (10000 - n)^2 conservatively
    assert(hh.filter(col("hhi") * col("n_suppliers") <
      (lit(10000L) - col("n_suppliers")) * (lit(10000L) - col("n_suppliers")))
      .count() == 0)
    // a nation's quantized revenue ties out against a direct recount
    val direct = Tables.t(spark, dir, "lineitem")
      .join(Tables.t(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((graft.functions.Parity.money(col("l_extendedprice")) *
        (graft.functions.Parity.one -
          graft.functions.Parity.rate(col("l_discount"))) *
        lit(10000)).cast("long")).cast("long").as("rev_direct"))
    assert(hh.join(direct, "n_name")
      .filter(col("rev_total_q") =!= col("rev_direct")).count() == 0)
    hh.unpersist()
  }

  test("vocab_coverage_curve: monotone in k, exact against the counts") {
    val cv = llm.TextAnalysis.vocabCoverageCurve(spark, dir).cache()
    assert(cv.count() == 3)
    val rows = cv.orderBy("k").collectAsList()
    assert(rows.get(0).getAs[Long]("covered")
      <= rows.get(1).getAs[Long]("covered"))
    assert(rows.get(1).getAs[Long]("covered")
      <= rows.get(2).getAs[Long]("covered"))
    assert(cv.filter(col("covered") > col("n_total") ||
      col("coverage_bp") > 10000L).count() == 0)
    // covered(16) == direct sum of the 16 most frequent tokens' counts
    val counts = Tables.t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cn"))
    val top16 = counts.orderBy(col("cn").desc, col("tok")).limit(16)
      .agg(sum("cn").cast("long")).head().getLong(0)
    assert(rows.get(2).getAs[Long]("covered") == top16)
    cv.unpersist()
  }

  test("contamination_spans: same docs as decontaminate, coverage bounded") {
    val cs = llm.Dedup.contaminationSpans(spark, dir).cache()
    assert(cs.count() > 0)
    val dd = llm.Dedup.decontaminate(spark, dir).select("doc_id")
    assert(cs.select("doc_id").except(dd).count() == 0)
    assert(dd.except(cs.select("doc_id")).count() == 0)
    // union coverage: >= one span, <= the doc, <= the hit extent,
    // <= 5 tokens per hit
    assert(cs.filter(col("cover_toks") < 5L ||
      col("cover_toks") > col("n_toks") ||
      col("cover_toks") > col("last_tok") - col("first_tok") ||
      col("cover_toks") > col("n_hit_grams") * 5L).count() == 0)
    assert(cs.filter(
      col("cover_bp") =!= expr("(10000 * cover_toks) div n_toks"))
      .count() == 0)
    cs.unpersist()
  }

  test("length_gini: bounds hold and a uniform source scores zero") {
    val lg = llm.TextAnalysis.lengthGini(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    assert(lg.count() == docs.select("source").distinct().count())
    assert(lg.filter(col("gini_bp") < 0L || col("gini_bp") >= 10000L)
      .count() == 0)
    assert(lg.join(docs.groupBy("source")
      .agg(count(lit(1)).as("nd"), sum("n_chars").cast("long").as("tc")),
      "source")
      .filter(col("n_docs") =!= col("nd") ||
        col("total_chars") =!= col("tc")).count() == 0)
    // exactness check on a synthetic frame: all-equal lengths -> 0,
    // one doc owning all mass -> (n-1)/n of 10000 (floored)
    import spark.implicits._
    val uni = Seq.fill(10)(100L).zipWithIndex
      .map { case (c, i) => (i.toLong, "u", c) }
      .toDF("doc_id", "source", "n_chars")
    val skewed = ((0L, "s", 9991L) +: Seq.tabulate(9)(i =>
      (i + 1L, "s", 1L))).toDF("doc_id", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_gini")
    tmp.toFile.deleteOnExit()
    uni.union(skewed).coalesce(1)
      .write.parquet(s"$tmp/documents.parquet")
    val g2 = llm.TextAnalysis.lengthGini(spark, tmp.toString)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("gini_bp")).toMap
    assert(g2("u") == 0L)
    assert(g2("s") > 8900L) // one doc owns 99.9% of the mass
    // zero-mass degradation: a source of solely zero-length docs must
    // report gini 0, not abort the stage with ANSI DIVIDE_BY_ZERO
    val empty = Seq.tabulate(5)(i => (i.toLong, "z", 0L))
      .toDF("doc_id", "source", "n_chars")
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_gini0")
    tmp2.toFile.deleteOnExit()
    uni.union(empty).coalesce(1)
      .write.parquet(s"$tmp2/documents.parquet")
    val g3 = llm.TextAnalysis.lengthGini(spark, tmp2.toString)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("gini_bp")).toMap
    assert(g3("z") == 0L && g3("u") == 0L)
    lg.unpersist()
  }

  test("brand_discount_depth: items partition the joined fact rows") {
    val bd = analytics.Analytics.brandDiscountDepth(spark, dir).cache()
    val nJoin = Tables.t(spark, dir, "lineitem")
      .join(Tables.t(spark, dir, "part"),
        col("l_partkey") === col("p_partkey")).count()
    assert(bd.agg(sum("n_items").cast("long")).head().getLong(0) == nJoin)
    // TPC-H discounts live in [0, 10%]
    assert(bd.filter(col("mean_disc_bp") < 0L ||
      col("mean_disc_bp") > 1000L).count() == 0)
    assert(bd.filter(col("net_revenue") <= 0.0).count() == 0)
    bd.unpersist()
  }

  test("orders_seasonality: months partition orders, YoY links align") {
    val se = analytics.Analytics.ordersSeasonality(spark, dir).cache()
    val nOrders = Tables.t(spark, dir, "orders").count()
    assert(se.agg(sum("n_orders").cast("long")).head().getLong(0)
      == nOrders)
    // every month with a same-month-prior-year sibling carries its
    // count as prev_n
    val link = se.select((col("ym") + 100L).as("ym"),
      col("n_orders").as("expect_prev"))
    assert(se.join(link, "ym")
      .filter(col("prev_n") =!= col("expect_prev")).count() == 0)
    assert(se.filter(col("yoy_bp") < 0L).count() == 0)
    assert(se.filter(col("revenue") <= 0.0).count() == 0)
    se.unpersist()
  }

  test("embedding_label_margin: covers the population, bounds hold") {
    val lm = llm.Similarity.embeddingLabelMargin(spark, dir).cache()
    val nv = llm.Embeddings.withNorm(spark, dir)
      .filter(col("nrm") > 0.0).count()
    assert(lm.agg(sum("n_vecs").cast("long")).head().getLong(0) == nv)
    // margins are differences of cosines: |margin| <= 2 (2e9 quantized)
    assert(lm.filter(abs(col("mean_margin_q")) > 2000000000L ||
      col("n_negative") > col("n_vecs") ||
      col("neg_bp") > 10000L).count() == 0)
    // one row per label, and the audit finds real signal: the
    // synthetic labels overlap, so confusable vectors exist (this is
    // the measurement the operator exists for — on testdata the
    // global mean margin is in fact slightly NEGATIVE)
    assert(lm.count() == llm.Embeddings.withNorm(spark, dir)
      .filter(col("nrm") > 0.0).select("label").distinct().count())
    assert(lm.agg(sum("n_negative").cast("long")).head().getLong(0) > 0L)
    lm.unpersist()
  }

  test("customer_churn: lifecycle states partition the buyer universe") {
    val ch = analytics.Analytics.customerChurn(spark, dir).cache()
    val nBuyers = Tables.t(spark, dir, "orders")
      .select("o_custkey").distinct().count()
    val tot = ch.agg(sum("n_buyers").cast("long"),
      sum(col("n_churned") + col("n_new") + col("n_retained"))
        .cast("long")).head()
    assert(tot.getLong(0) == nBuyers)
    // churned + new + retained partition the buyers exactly (every
    // buyer has at least one order, so (0,0) is impossible)
    assert(tot.getLong(1) == nBuyers)
    assert(ch.filter(col("churn_bp") < 0L || col("churn_bp") > 10000L)
      .count() == 0)
    ch.unpersist()
  }

  test("schema_field_stability: version spans and flags are consistent") {
    val st = registry.SchemaRegistry.schemaFieldStability(spark, dir).cache()
    assert(st.count() > 0)
    assert(st.filter(col("n_versions") < 1L || col("n_versions") > 3L ||
      col("first_version") > col("last_version")).count() == 0)
    // a field spanning k versions has at most k-1 consecutive changes
    assert(st.filter(col("type_changes") > col("n_versions") - 1L)
      .count() == 0)
    assert(st.filter(col("stable") === 1L)
      .filter(col("type_changes") =!= 0L ||
        col("reintroductions") =!= 0L).count() == 0)
    // with 3 versions a reintroduction needs v1 and v3 without v2
    assert(st.filter(col("reintroductions") > 1L).count() == 0)
    st.unpersist()
  }

  test("ivf_scan_cost_curve: monotone cost, full coverage at every nprobe") {
    val cc = llm.Similarity.ivfScanCostCurve(spark, dir).cache()
    assert(cc.count() == 3)
    val rows = cc.orderBy("nprobe").collectAsList()
    // more probes can only scan more
    assert(rows.get(0).getAs[Long]("cand_total")
      <= rows.get(1).getAs[Long]("cand_total"))
    assert(rows.get(1).getAs[Long]("cand_total")
      <= rows.get(2).getAs[Long]("cand_total"))
    // every nprobe point covers all 8 queries and scans a positive,
    // sub-total share
    assert(cc.filter(col("n_queries") =!= 8L).count() == 0)
    assert(cc.filter(col("cand_total") <= 0L ||
      col("scan_share_bp") <= 0L || col("scan_share_bp") > 10000L)
      .count() == 0)
    cc.unpersist()
  }

  test("pack_len_sweep: monotone in ctx, 512 row matches pack_efficiency") {
    val sw = llm.Curation.packLenSweep(spark, dir).cache()
    assert(sw.count() == 3)
    val rows = sw.orderBy("ctx").collectAsList()
    // doubling ctx can only reduce sequence count and spanning docs
    assert(rows.get(0).getAs[Long]("n_seqs")
      >= rows.get(1).getAs[Long]("n_seqs"))
    assert(rows.get(1).getAs[Long]("n_seqs")
      >= rows.get(2).getAs[Long]("n_seqs"))
    assert(rows.get(0).getAs[Long]("n_spanning")
      >= rows.get(1).getAs[Long]("n_spanning"))
    // the ctx=512 point is exactly the pack_efficiency rollup
    val pe = llm.Curation.packEfficiency(spark, dir)
      .agg(sum("n_seqs").cast("long"), sum("n_spanning").cast("long"),
        sum("tail_waste").cast("long")).head()
    val r512 = rows.get(1)
    assert(r512.getAs[Long]("ctx") == 512L)
    assert(r512.getAs[Long]("n_seqs") == pe.getLong(0))
    assert(r512.getAs[Long]("n_spanning") == pe.getLong(1))
    assert(r512.getAs[Long]("tail_waste") == pe.getLong(2))
    sw.unpersist()
  }

  test("basket_lift: pairs match basket_pairs, lift arithmetic exact") {
    val bl = analytics.Analytics.basketLift(spark, dir).cache()
    val bp = analytics.Analytics.basketPairs(spark, dir)
    assert(bl.count() == bp.count())
    assert(bl.select("p1", "p2").except(bp.select("p1", "p2"))
      .count() == 0)
    // co-occurrence can never exceed either part's own order count
    assert(bl.filter(col("n_both") > col("n_p1") ||
      col("n_both") > col("n_p2")).count() == 0)
    // exact lift recount with the order total rejoined
    val nAll = Tables.t(spark, dir, "lineitem")
      .select("l_orderkey").distinct().count()
    assert(bl.filter(col("lift_q") =!=
      expr(s"(1000000 * n_both * ${nAll}L) div (n_p1 * n_p2)"))
      .count() == 0)
    assert(bl.filter(col("lift_q") <= 0L).count() == 0)
    bl.unpersist()
  }

  test("quality_by_dup: populations tie out with the label frame") {
    val qd = llm.Dedup.qualityByDup(spark, dir).cache()
    val nDocs = Tables.t(spark, dir, "documents").count()
    val nDup = llm.Dedup.dedupClusters(spark, dir).count()
    assert(qd.agg(sum("n_docs").cast("long")).head().getLong(0) == nDocs)
    assert(qd.filter(col("is_dup") === 1L)
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long")).head()
      .getLong(0) == nDup)
    assert(qd.filter(col("mean_qs") <= 0L || col("mean_chars") <= 0L)
      .count() == 0)
    // mean_qs is a floor mean of per-doc qs, so it is bounded by the
    // global extremes
    val q = llm.TextAnalysis.gramLikelihood(spark, dir)
      .withColumn("qs", expr("(1000000 * sum_df) div n_tokens"))
    val mm = q.agg(min("qs"), max("qs")).head()
    assert(qd.filter(col("mean_qs") < mm.getLong(0) ||
      col("mean_qs") > mm.getLong(1)).count() == 0)
    qd.unpersist()
  }

  test("dedup_policy_compare: per-policy kept mass ties out") {
    val pc = llm.Dedup.dedupPolicyCompare(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "n_chars")
    val first = llm.Dedup.dedupClusters(spark, dir)
      .groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
      .join(docs, "doc_id")
      .agg(sum("n_chars").cast("long")).head().getLong(0)
    val best = llm.Dedup.clusterCanonical(spark, dir)
      .select(col("keep_doc_id").as("doc_id")).join(docs, "doc_id")
      .agg(sum("n_chars").cast("long")).head().getLong(0)
    assert(pc.agg(sum("chars_keep_first").cast("long")).head()
      .getLong(0) == first)
    assert(pc.agg(sum("chars_keep_best").cast("long")).head()
      .getLong(0) == best)
    assert(best >= first) // keep-best maximizes total kept chars
    assert(pc.filter(col("kf_bp") > 10000L || col("kb_bp") > 10000L ||
      col("chars_keep_first") > col("chars_members") ||
      col("chars_keep_best") > col("chars_members")).count() == 0)
    pc.unpersist()
  }

  test("fulfillment_lag_quartiles: ordered quartiles over the fact join") {
    val fq = analytics.Analytics.fulfillmentLagQuartiles(spark, dir).cache()
    assert(fq.count() == Tables.t(spark, dir, "orders")
      .select("o_orderpriority").distinct().count())
    assert(fq.filter(col("q1_days") > col("median_days") ||
      col("median_days") > col("q3_days") ||
      col("q3_days") > col("max_days")).count() == 0)
    val nJoin = Tables.t(spark, dir, "lineitem").select("l_orderkey")
      .join(Tables.t(spark, dir, "orders").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(fq.agg(sum("n_items").cast("long")).head().getLong(0) == nJoin)
    fq.unpersist()
  }

  test("order_backlog_curve: non-negative backlog, endpoints tie out") {
    val bc = analytics.Analytics.orderBacklogCurve(spark, dir).cache()
    assert(bc.count() > 0)
    // an order can only complete at/after its placement bucket
    assert(bc.filter(col("backlog") < 0L).count() == 0)
    assert(bc.filter(
      col("backlog") =!= col("cum_placed") - col("cum_completed"))
      .count() == 0)
    val last = bc.orderBy(col("d30").desc).limit(1).head()
    val nOrders = Tables.t(spark, dir, "orders").count()
    val nWithItems = Tables.t(spark, dir, "lineitem")
      .select("l_orderkey").distinct().count()
    assert(last.getAs[Long]("cum_placed") == nOrders)
    assert(last.getAs[Long]("cum_completed") == nWithItems)
    bc.unpersist()
  }

  test("knn_mutuality: per-rank totals match an independent recount") {
    val km = llm.Similarity.knnMutuality(spark, dir).cache()
    val edges = llm.Similarity.knnGraph(spark, dir)
      .select("q_id", "n_id").cache()
    assert(km.agg(sum("n_edges").cast("long")).head().getLong(0)
      == edges.count())
    assert(km.filter(col("n_mutual") > col("n_edges") ||
      col("n_mutual") < 0L).count() == 0)
    val nMutual = edges.as("a").join(edges.as("b"),
      col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id"))
      .count()
    assert(km.agg(sum("n_mutual").cast("long")).head().getLong(0)
      == nMutual)
    assert(km.filter(
      col("mutual_bp") =!= expr("(10000 * n_mutual) div n_edges"))
      .count() == 0)
    edges.unpersist(); km.unpersist()
  }

  test("doc_length_outliers: outlier count matches a direct recount") {
    val ol = llm.TextAnalysis.docLengthOutliers(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    assert(ol.count() == docs.select("source").distinct().count())
    assert(ol.filter(col("mad_chars") < 0L || col("n_outliers") < 0L ||
      col("outlier_bp") > 10000L).count() == 0)
    val direct = docs.join(
      ol.select("source", "med_chars", "mad_chars"), "source")
      .filter(abs(col("n_chars") - col("med_chars")) >
        col("mad_chars") * 5L)
      .groupBy("source").agg(count(lit(1)).as("n_direct"))
    assert(ol.join(direct, Seq("source"), "left")
      .filter(col("n_outliers") =!= coalesce(col("n_direct"), lit(0L)))
      .count() == 0)
    ol.unpersist()
  }

  test("lang_mix: mixed verdicts match a direct per-doc recount") {
    val lm = llm.TextAnalysis.langMix(spark, dir).cache()
    val tot = lm.agg(sum("n_docs").cast("long")).head().getLong(0)
    assert(tot == Tables.t(spark, dir, "documents").count())
    // a doc counts as mixed iff its runner-up marker mass is >= 1/3 of
    // the winner's — recount with an independent spelling (sort desc)
    val direct = Tables.t(spark, dir, "documents")
      .withColumn("hs", expr(
        """array_sort(transform(array(
          |  size(filter(split(coalesce(text, ''), ' '),
          |    x -> x in ('the', 'a', 'of'))),
          |  size(filter(split(coalesce(text, ''), ' '),
          |    x -> x in ('data', 'table', 'row'))),
          |  size(filter(split(coalesce(text, ''), ' '),
          |    x -> x in ('query', 'join', 'merge')))), h -> -h))"""
          .stripMargin))
      .withColumn("best", -col("hs").getItem(0))
      .withColumn("second", -col("hs").getItem(1))
      .groupBy("source")
      .agg(sum(when(col("second") > 0 && col("second") * 3 >= col("best"),
        1L).otherwise(0L)).cast("long").as("m_direct"))
    assert(lm.join(direct, "source")
      .filter(col("n_mixed") =!= col("m_direct")).count() == 0)
    assert(lm.filter(
      col("mixed_bp") =!= expr("(10000 * n_mixed) div n_docs"))
      .count() == 0)
    lm.unpersist()
  }

  test("sq8_distortion: covers the searchable population, sane bounds") {
    val sd = llm.Similarity.sq8Distortion(spark, dir).cache()
    val nv = llm.Embeddings.withNorm(spark, dir)
      .filter(col("nrm") > 0.0).count()
    assert(sd.agg(sum("n_vecs").cast("long")).head().getLong(0) == nv)
    assert(sd.filter(col("mean_e2q") > col("max_e2q") ||
      col("mean_e2q") < 0L).count() == 0)
    assert(sd.filter(col("mean_e2q") =!= expr("sum_e2q div n_vecs"))
      .count() == 0)
    // int8 with a per-vector symmetric scale keeps relative squared
    // error far below 100% (1e9 in the quantized basis)
    assert(sd.filter(col("max_e2q") >= 1000000000L).count() == 0)
    sd.unpersist()
  }

  test("pq_distortion: 8 subspaces, each covering every searchable vector") {
    val pd = llm.Similarity.pqDistortion(spark, dir).cache()
    assert(pd.count() == 8)
    assert(pd.filter(col("mean_d2q") > col("max_d2q") ||
      col("mean_d2q") < 0L).count() == 0)
    assert(pd.filter(col("mean_d2q") =!= expr("sum_d2q div n_vecs"))
      .count() == 0)
    // every subspace scores exactly the cosine-searchable population
    val nv = llm.Embeddings.withNorm(spark, dir)
      .filter(col("nrm") > 0.0).count()
    assert(pd.filter(col("n_vecs") =!= lit(nv)).count() == 0)
    pd.unpersist()
  }

  test("sentence_stats: rollup consistent with a direct per-doc recount") {
    val st = llm.TextAnalysis.sentenceStats(spark, dir).cache()
    val direct = Tables.t(spark, dir, "documents")
      .select(col("source"), expr(
        """CAST(size(filter(split(coalesce(text, ''), '[.!?]+'),
          |  x -> length(trim(x)) > 0)) AS BIGINT)""".stripMargin).as("n_s"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_s").as("n_sent"))
    assert(st.join(direct, "source")
      .filter(st("n_sent") =!= direct("n_sent") ||
        st("n_docs") =!= direct("n_docs")).count() == 0)
    // healthy prose: every source has sentences, mean length is sane
    assert(st.filter(col("n_sent") === 0L).count() == 0)
    assert(st.filter(col("chars_per_sent") <= 0L).count() == 0)
    st.unpersist()
  }

  test("knn_triangles: handshake identity and coefficient bounds") {
    val tr = llm.Similarity.knnTriangles(spark, dir).cache()
    val und = llm.Similarity.knnGraph(spark, dir)
      .select(least(col("q_id"), col("n_id")).as("a"),
        greatest(col("q_id"), col("n_id")).as("b")).distinct().cache()
    // one row per vector touched by an undirected edge
    val nodes = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v"))).distinct()
    assert(tr.count() == nodes.count())
    // independent global triangle count: the ordered triple join
    // (a < b < c) enumerates each triangle exactly once, and the
    // per-node counts sum to 3 per triangle
    val tri3 = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    assert(tr.agg(sum("n_tri")).head.getLong(0) == 3L * tri3)
    assert(tr.filter(col("clust_bp") < 0L || col("clust_bp") > 10000L)
      .count() == 0)
    tr.unpersist(); und.unpersist()
  }

  test("embedding_dim_stats: grid ordering, accounting, clip ceiling") {
    val ds = llm.Similarity.embeddingDimStats(spark, dir).cache()
    assert(ds.count() == 64)
    val nv = Tables.t(spark, dir, "embeddings").count()
    assert(ds.filter(col("n") =!= nv).count() == 0)
    assert(ds.filter(col("mn_q") > col("p01_q") ||
      col("p01_q") > col("p99_q") || col("p99_q") > col("mx_q"))
      .count() == 0)
    // by construction at most ~1% of mass clips on each side
    assert(ds.filter(col("clip_bp") > 200L).count() == 0)
    ds.unpersist()
  }

  test("event_paths: users partition, paths bounded at three steps") {
    val ep = analytics.Analytics.eventPaths(spark, dir).cache()
    val nUsers = Tables.t(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(ep.agg(sum("n_users")).head.getLong(0) == nUsers)
    assert(ep.filter(col("share_bp") < 0L || col("share_bp") > 10000L)
      .count() == 0)
    assert(ep.filter(size(split(col("path"), ">")) > 3).count() == 0)
    ep.unpersist()
  }

  test("conversion_window_curve: monotone, closes on the lag histogram") {
    val cw = analytics.Analytics.conversionWindowCurve(spark, dir).cache()
    assert(cw.count() == 6)
    val rows = cw.orderBy("win_days").collect()
    val conv = rows.map(_.getAs[Long]("n_converted"))
    assert(conv.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    val lag30 = analytics.Analytics.conversionLag(spark, dir)
      .filter(col("latency_days") <= 30L)
      .agg(coalesce(sum("n_users"), lit(0L))).head.getLong(0)
    assert(conv.last == lag30)
    assert(cw.filter(col("conv_bp") < 0L || col("conv_bp") > 10000L)
      .count() == 0)
    cw.unpersist()
  }

  test("minhash_band_stats: per-band doc mass equals the signature frame") {
    val bs = llm.Dedup.minhashBandStats(spark, dir).cache()
    assert(bs.count() == 6)
    val nSig = Tables.t(spark, dir, "documents")
      .filter(length(col("text")) >= 5).count()
    assert(bs.filter(col("n_docs") =!= nSig).count() == 0)
    assert(bs.filter(col("n_singletons") > col("n_buckets") ||
      col("max_bucket") < 1L || col("n_over_cap") < 0L).count() == 0)
    bs.unpersist()
  }

  test("knn_label_agreement: per-rank edges close over the knn graph") {
    val la = llm.Similarity.knnLabelAgreement(spark, dir).cache()
    val ranks = llm.Similarity.knnGraph(spark, dir)
      .groupBy("rank").agg(count(lit(1)).as("n"))
    assert(la.join(ranks, "rank")
      .filter(col("n_edges") =!= col("n")).count() == 0)
    assert(la.filter(col("agree_bp") < 0L || col("agree_bp") > 10000L ||
      col("n_same") > col("n_edges")).count() == 0)
    la.unpersist()
  }

  test("dup_accumulation_curve: prefixes nest, full row matches the corpus") {
    val dc = llm.Dedup.dupAccumulationCurve(spark, dir).cache()
    assert(dc.count() == 4)
    val rows = dc.orderBy("prefix_eighths").collect()
    // nested prefixes: doc and unique mass both monotone
    assert(rows.map(_.getAs[Long]("n_docs")).sliding(2)
      .forall(p => p.length < 2 || p(0) <= p(1)))
    assert(rows.map(_.getAs[Long]("n_unique")).sliding(2)
      .forall(p => p.length < 2 || p(0) <= p(1)))
    // the full-corpus point ties out against direct counts
    val docs = Tables.t(spark, dir, "documents")
    assert(rows.last.getAs[Long]("n_docs") == docs.count())
    assert(rows.last.getAs[Long]("n_unique") ==
      docs.select(md5(coalesce(col("text"), lit("")))).distinct().count())
    assert(dc.filter(col("n_unique") > col("n_docs") ||
      col("dup_bp") < 0L || col("dup_bp") > 10000L).count() == 0)
    dc.unpersist()
  }

  test("bounce_rate: first sessions partition users, bounces tie to sessionize") {
    val br = analytics.Analytics.bounceRate(spark, dir).cache()
    val nUsers = Tables.t(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(br.agg(sum("n_users")).head.getLong(0) == nUsers)
    // bounced total == sessionize's first sessions with exactly 1 event
    val want = analytics.Analytics.sessionize(spark, dir)
      .filter(col("sid") === 1L && col("n_events") === 1L).count()
    assert(br.agg(sum("n_bounced")).head.getLong(0) == want)
    assert(br.filter(col("bounce_bp") < 0L || col("bounce_bp") > 10000L)
      .count() == 0)
    br.unpersist()
  }

  test("quality_length_matrix: buckets in grid, rows close, mass conserved") {
    val m = llm.TextAnalysis.qualityLengthMatrix(spark, dir).cache()
    assert(m.filter(col("q_bucket") < 0L || col("q_bucket") > 9L ||
      col("len_bucket") < 0L || col("len_bucket") > 9L).count() == 0)
    val scored = llm.TextAnalysis.gramLikelihood(spark, dir).count()
    assert(m.agg(sum("n_docs")).head.getLong(0) == scored)
    // per-row shares close to 10000 within floor rounding (<= 10 cells)
    val rows = m.groupBy("len_bucket").agg(sum("row_share_bp").as("s"))
    assert(rows.filter(col("s") > 10000L || col("s") < 9990L).count() == 0)
    m.unpersist()
  }

  test("dedup_cluster_gini: closes on the profile, bounded in range") {
    val g = llm.Dedup.dedupClusterGini(spark, dir).head()
    val prof = llm.Dedup.dedupClusterProfile(spark, dir)
      .agg(sum("n_clusters").cast("long"),
        sum(col("csize") * col("n_clusters")).cast("long")).head()
    assert(g.getAs[Long]("n_clusters") == prof.getLong(0))
    assert(g.getAs[Long]("n_members") == prof.getLong(1))
    val bp = g.getAs[Long]("gini_bp")
    assert(bp >= 0L && bp < 10000L)
  }

  test("embedding_coverage: accounting closes over both tables") {
    val ec = llm.Multimodal.embeddingCoverage(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    val vecs = Tables.t(spark, dir, "embeddings")
    assert(ec.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // every vector is either matched to a doc or counted as orphan
    val matched = ec.agg(sum("n_with_vec")).head.getLong(0)
    val orphans = ec.agg(sum("n_orphan_vecs")).head.getLong(0)
    assert(matched + orphans == vecs.count())
    assert(ec.filter(col("coverage_bp") < 0L || col("coverage_bp") > 10000L
      || col("n_with_vec") > col("n_docs")).count() == 0)
    ec.unpersist()
  }

  test("likelihood_quartiles: ordered picks bracket the scored population") {
    val lq = llm.TextAnalysis.likelihoodQuartiles(spark, dir).cache()
    val scored = llm.TextAnalysis.gramLikelihood(spark, dir)
      .join(Tables.t(spark, dir, "documents").select("doc_id", "source"),
        "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n"))
    assert(lq.join(scored, "source")
      .filter(col("n_docs") =!= col("n")).count() == 0)
    assert(lq.filter(col("q1_qs") > col("median_qs") ||
      col("median_qs") > col("q3_qs")).count() == 0)
    lq.unpersist()
  }

  test("source_lang_matrix: cells partition, deviations balance in sign") {
    val sm = llm.TextAnalysis.sourceLangMatrix(spark, dir).cache()
    val docs = Tables.t(spark, dir, "documents")
    assert(sm.agg(sum("n_docs")).head.getLong(0) == docs.count())
    // a contingency table's observed-minus-expected sums to ~0 per row
    // (floor quantization leaves at most |langs| of slack)
    val nLang = sm.select("lang").distinct().count()
    val rowBal = sm.groupBy("source")
      .agg(sum(col("n_docs") - col("n_expected")).as("bal"))
    assert(rowBal.filter(col("bal") < 0L || col("bal") > nLang)
      .count() == 0)
    // dev sign matches the observed-vs-expected comparison
    assert(sm.filter(
      (col("n_docs") > col("n_expected") && col("dev_ppm") < 0L) ||
        (col("n_docs") < col("n_expected") - 1L && col("dev_ppm") > 0L))
      .count() == 0)
    sm.unpersist()
  }

  test("vocab_growth_curve: prefixes nest, full row matches global counts") {
    val vg = llm.TextAnalysis.vocabGrowthCurve(spark, dir).cache()
    assert(vg.count() == 4)
    val rows = vg.orderBy("prefix_eighths").collect()
    for (f <- Seq("n_docs", "n_tokens", "n_types"))
      assert(rows.map(_.getAs[Long](f)).sliding(2)
        .forall(p => p.length < 2 || p(0) <= p(1)), s"$f not monotone")
    val docs = Tables.t(spark, dir, "documents")
    assert(rows.last.getAs[Long]("n_docs") == docs.count())
    assert(rows.last.getAs[Long]("n_types") ==
      docs.select(explode(split(coalesce(col("text"), lit("")), " "))
        .as("tok")).distinct().count())
    vg.unpersist()
  }

  test("simhash_hamming_profile: the <=2 cut's mass matches dedup_simhash") {
    val hp = llm.Dedup.simhashHammingProfile(spark, dir).cache()
    assert(hp.filter(col("hamming") < 0L || col("hamming") > 48L)
      .count() == 0)
    val nearMass = hp.filter(col("hamming") <= 2L)
      .agg(coalesce(sum("n_pairs"), lit(0L))).head.getLong(0)
    assert(nearMass == llm.Dedup.dedupSimhash(spark, dir).count())
    hp.unpersist()
  }

  test("pq_code_balance: populations close over the encoded frame") {
    val cb = llm.Similarity.pqCodeBalance(spark, dir).cache()
    assert(cb.count() == 8)
    assert(cb.filter(col("n_codes_used") < 1L || col("n_codes_used") > 16L)
      .count() == 0)
    val nv = llm.Embeddings.directional(spark, dir).count()
    assert(cb.filter(col("n_vecs") =!= nv).count() == 0)
    assert(cb.filter(col("min_load") > col("max_load")).count() == 0)
    cb.unpersist()
  }

  test("ivf_centroid_margin: full ordered pair set, cosine in range") {
    val cm = llm.Similarity.ivfCentroidMargin(spark, dir).cache()
    val k = llm.Clustering.kmeansFit(spark, dir)
      .select("cid").distinct().count()
    assert(cm.count() == k * (k - 1) / 2)
    assert(cm.filter(col("cos") > 1.0001 || col("cos") < -1.0001)
      .count() == 0)
    cm.unpersist()
  }

  test("supplier_fulfillment / discount_qty_curve: items partition the fact") {
    val nLi = Tables.t(spark, dir, "lineitem").count()
    val sf = analytics.Analytics.supplierFulfillment(spark, dir).cache()
    assert(sf.agg(sum("n_items")).head.getLong(0) == nLi)
    assert(sf.filter(col("on_time_bp") < 0L || col("on_time_bp") > 10000L)
      .count() == 0)
    sf.unpersist()
    val dq = analytics.Analytics.discountQtyCurve(spark, dir).cache()
    assert(dq.agg(sum("n_items")).head.getLong(0) == nLi)
    assert(dq.filter(col("disc_pct") < 0L || col("disc_pct") > 10L)
      .count() == 0)
    assert(dq.filter(col("avg_qty") <= 0.0).count() == 0)
    dq.unpersist()
  }

  test("customer_repeat_rate: active customers close over the order base") {
    val rr = analytics.Analytics.customerRepeatRate(spark, dir).cache()
    val nActive = Tables.t(spark, dir, "orders")
      .select("o_custkey").distinct().count()
    assert(rr.agg(sum("n_active")).head.getLong(0) == nActive)
    assert(rr.filter(col("n_repeat") > col("n_active") ||
      col("repeat_bp") < 0L || col("repeat_bp") > 10000L ||
      col("orders_per_cust_pct") < 100L).count() == 0)
    rr.unpersist()
  }

  test("order_priority_drift: months partition, shares close, drift ties out") {
    val pd = analytics.Analytics.orderPriorityDrift(spark, dir).cache()
    val nOrders = Tables.t(spark, dir, "orders").count()
    assert(pd.agg(sum("n_orders")).head.getLong(0) == nOrders)
    // per-month shares close to 10000 within floor rounding
    val nPrio = pd.select("priority").distinct().count()
    val monthly = pd.groupBy("ym").agg(sum("share_bp").as("s"))
    assert(monthly.filter(col("s") > 10000L ||
      col("s") < 10000L - nPrio).count() == 0)
    assert(pd.filter(col("drift_bp") =!= col("share_bp") - col("global_bp"))
      .count() == 0)
    pd.unpersist()
  }

  test("token_len_profile: token mass equals the whitespace tokenizer") {
    val tp = llm.TextAnalysis.tokenLenProfile(spark, dir).cache()
    val nToks = Tables.t(spark, dir, "documents")
      .select(size(split(coalesce(col("text"), lit("")), " "))
        .cast("long").as("n")).agg(sum("n")).head.getLong(0)
    assert(tp.agg(sum("n_toks")).head.getLong(0) == nToks)
    assert(tp.filter(col("tok_len") < 0L || col("n_toks") < 1L)
      .count() == 0)
    tp.unpersist()
  }

  test("char_class_profile: shares close within floor rounding") {
    val cp = llm.TextAnalysis.charClassProfile(spark, dir).cache()
    val nSrc = Tables.t(spark, dir, "documents")
      .select("source").distinct().count()
    assert(cp.count() == nSrc)
    val s = col("alpha_bp") + col("digit_bp") + col("space_bp") +
      col("other_bp")
    assert(cp.filter(s > 10000L || s < 9996L).count() == 0)
    cp.unpersist()
  }

  test("kop_event_queue: sequential-queue invariants hold in closed form") {
    val q = admin.Admin.kopEventQueue(spark, dir).cache()
    // queue discipline: nothing starts before it arrives, every event
    // runs for exactly its cost, queued latency is never negative
    assert(q.filter(col("start_ms") < col("arrival_ms") ||
      col("finish_ms") - col("start_ms") =!= col("cost_ms") ||
      col("queued_ms") < 0L).count() == 0)
    // single-threaded: no two executions overlap — the k-th finish (in
    // arrival order) never exceeds the (k+1)-th start
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("arrival_ms", "event_class", "event_key")
    val seq = q.withColumn("prev_finish", lag("finish_ms", 1).over(w))
    assert(seq.filter(col("prev_finish").isNotNull &&
      col("start_ms") < col("prev_finish")).count() == 0)
    // work conservation: total busy time == total cost
    assert(q.agg(sum(col("finish_ms") - col("start_ms"))).head.getLong(0)
      == q.agg(sum("cost_ms")).head.getLong(0))
    q.unpersist()
  }

  test("end_txn_validation: decision table complete and idempotent-safe") {
    val v = txn.Transactions.endTxnValidation(spark, dir).cache()
    // every txn answers BOTH verbs
    assert(v.groupBy("txn_id").count().filter(col("count") =!= 2L)
      .count() == 0)
    // a NONE outcome always carries a next_state; errors never do
    assert(v.filter(col("outcome") === "NONE" && col("next_state").isNull)
      .count() == 0)
    assert(v.filter(col("outcome") =!= "NONE" &&
      col("next_state").isNotNull).count() == 0)
    // Complete* retries are idempotent (NONE, state unchanged) only on
    // the matching verb
    assert(v.filter(col("state") === "CompleteCommit" &&
      col("requested_result") === "COMMIT" && col("epoch_ok") &&
      col("outcome") =!= "NONE").count() == 0)
    assert(v.filter(col("state") === "CompleteCommit" &&
      col("requested_result") === "ABORT" &&
      col("outcome") === "NONE").count() == 0)
    // fenced epochs short-circuit everything
    assert(v.filter(!col("epoch_ok") && col("outcome") =!= "PRODUCER_FENCED")
      .count() == 0)
    v.unpersist()
  }

  test("minhash_perm_curve: full prefix ladder over one shared pair set") {
    val c = llm.Dedup.minhashPermCurve(spark, dir).cache()
    import spark.implicits._
    assert(c.select("n_perms").as[Long].collect().toSet
      == Set(4L, 8L, 12L, 16L, 20L, 24L))
    // every prefix length scores the SAME candidate pairs
    assert(c.select("n_pairs").distinct().count() == 1)
    assert(c.filter(col("mean_abs_err_ppm") < 0L ||
      col("mean_abs_err_ppm") > col("max_abs_err_ppm")).count() == 0)
    // the full 24-perm row agrees with minhash_estimate's pair count
    val est = llm.Dedup.minhashEstimate(spark, dir).count()
    assert(c.filter(col("n_perms") === 24L).head.getAs[Long]("n_pairs")
      == est)
    c.unpersist()
  }

  test("snapshot_buffer_replay: applied boundary consistent with capture") {
    val r = txn.Transactions.snapshotBufferReplay(spark, dir).cache()
    val snap = txn.Transactions.producerStateSnapshot(spark, dir)
      .select(col("topic"), col("part"), col("snap_off"),
        col("n_producers_snap"))
    // the buffer view's latest boundary IS producer_state_snapshot's
    assert(r.join(snap, Seq("topic", "part"))
      .filter(col("latest_snap_off") =!= col("snap_off")).count() == 0)
    r.collect().foreach { row =>
      val (logEnd, nSnaps, applied, tail) = (
        row.getAs[Long]("log_end"), row.getAs[Long]("n_snapshots_written"),
        row.getAs[Long]("applied_snap_off"), row.getAs[Long]("replay_tail"))
      assert(tail == logEnd - applied)
      assert(row.getAs[Long]("n_stale_skipped") == math.max(nSnaps - 1, 0L))
      row.getAs[String]("recovery") match {
        case "SNAPSHOT_REPLAY" =>
          assert(applied == row.getAs[Long]("latest_snap_off") && applied > 0)
        case "UUID_MISMATCH" =>
          // re-created topic: snapshot ignored, nothing restored
          assert(applied == 0 && nSnaps > 0 &&
            row.getAs[Long]("restored_producers") == 0L)
        case "NO_SNAPSHOT" => assert(applied == 0 && nSnaps == 0)
        case other => fail(s"unknown recovery $other")
      }
    }
    r.unpersist()
  }

  test("txn_marker_retries: attempt and drain accounting closes") {
    val m = txn.Transactions.txnMarkerRetries(spark, dir).collect()
    assert(m.nonEmpty && m.forall(r => r.getAs[Long]("broker") >= 0 &&
      r.getAs[Long]("broker") < 4))
    m.foreach { r =>
      assert(r.getAs[Long]("n_send_attempts") ==
        r.getAs[Long]("n_marker_entries") + r.getAs[Long]("n_requeues"))
      assert(r.getAs[Long]("max_drain_ms") ==
        r.getAs[Long]("max_rounds") * 100L)
      // the fixed-delay ledger: every entry pays >= one 100ms drain tick
      assert(r.getAs[Long]("sum_drain_ms") ==
        r.getAs[Long]("n_send_attempts") * 100L)
      assert(r.getAs[Long]("n_failed_first_send") <=
        r.getAs[Long]("n_requeues"))
    }
  }

  test("cursor_expiration: verdict follows the idle window exactly") {
    val c = coordinator.Groups.cursorExpiration(spark, dir).cache()
    assert(c.count() ==
      coordinator.Groups.cursorCache(spark, dir)
        .agg(sum("n_parts")).head.getLong(0))
    c.collect().foreach { r =>
      val idle = r.getAs[Long]("idle_ms")
      assert(idle >= 0, "an access cannot be in the future")
      val expired = r.getAs[Long]("expired")
      assert(expired == (if (idle > 604800000L) 1L else 0L))
      assert(r.getAs[String]("action") ==
        (if (expired == 1L) "DELETED" else "RETAINED"))
      assert(r.getAs[Long]("backlog_released") ==
        (if (expired == 1L)
          r.getAs[Long]("log_end") - r.getAs[Long]("committed")
        else 0L))
    }
    c.unpersist()
  }

  test("purgatory_watchers: occupancy closes and purge ticks are api-wide") {
    val p = graft.log.BrokerOps.purgatoryWatchers(spark, dir).cache()
    assert(p.filter(col("n_registered") =!=
      col("n_completed") + col("n_expired")).count() == 0)
    // Fetch keys expire at most their FINAL parked poll
    assert(p.filter(col("api") === "Fetch" && col("n_expired") > 1L)
      .count() == 0)
    // api-level accounting: one row-set per api, consistent with the sum
    val apis = p.groupBy("api").agg(
      sum("n_registered").as("s"),
      max("api_total_watchers").as("t"),
      countDistinct("api_total_watchers").as("d")).collect()
    assert(apis.map(_.getAs[String]("api")).toSet == Set("Fetch", "Produce"))
    apis.foreach { r =>
      assert(r.getAs[Long]("d") == 1L)
      assert(r.getAs[Long]("s") == r.getAs[Long]("t"))
    }
    assert(p.filter(col("n_purge_passes") =!=
      expr("api_total_watchers div 1000")).count() == 0)
    p.unpersist()
  }

  test("idle_connections: session accounting closes per client") {
    val nConns = Tables.t(spark, dir, "events")
      .select(pmod(col("user_id"), lit(32L))).distinct().count()
    val c = admin.Admin.idleConnections(spark, dir).cache()
    assert(c.count() == nConns)
    c.collect().foreach { r =>
      val closes = r.getAs[Long]("n_idle_closes")
      assert(closes >= 0 && closes < r.getAs[Long]("n_instants"))
      assert(r.getAs[String]("verdict") ==
        (if (closes == 0) "STABLE" else "IDLE_CYCLED"))
      // a close only happens on an over-window gap
      if (closes > 0)
        assert(r.getAs[Long]("max_gap_ms") > admin.Admin.IdleWindowMs)
      assert(r.getAs[Long]("max_session_requests") <=
        r.getAs[Long]("n_requests"))
      assert(r.getAs[Long]("n_requests") >= r.getAs[Long]("n_instants"))
    }
    c.unpersist()
  }

  test("publish_buffer_throttle: ledger bounds and hysteresis invariants") {
    val nConns = Tables.t(spark, dir, "events")
      .select(pmod(col("user_id"), lit(32L))).distinct().count()
    val p = admin.Admin.publishBufferThrottle(spark, dir).cache()
    assert(p.count() == nConns)
    val totalSends = Tables.t(spark, dir, "events").count()
    assert(p.agg(sum("n_sends")).head.getLong(0) == totalSends)
    p.collect().foreach { r =>
      assert(r.getAs[Long]("peak_pending") >= 0)
      // pausing requires the peak to have reached the pause threshold
      if (r.getAs[Long]("n_pause_episodes") == 0) {
        assert(r.getAs[Long]("peak_pending") < 262144L)
        assert(r.getAs[Long]("n_sends_while_paused") == 0L)
        assert(r.getAs[String]("final_state") == "OPEN")
      } else assert(r.getAs[Long]("peak_pending") >= 262144L)
    }
    p.unpersist()
  }

  test("publish_rate_throttle: per-second ledger closes over the stream") {
    val t = admin.Admin.publishRateThrottle(spark, dir).cache()
    val nTopics = Tables.t(spark, dir, "events")
      .select("event_type").distinct().count()
    assert(t.count() == nTopics)
    // same psize# byte draw as publish_buffer_throttle: the two throttle
    // views must account the identical byte stream
    val bufBytes = admin.Admin.publishBufferThrottle(spark, dir)
      .agg(sum("total_bytes")).head.getLong(0)
    assert(t.agg(sum("total_bytes")).head.getLong(0) == bufBytes)
    assert(t.agg(sum("n_msgs")).head.getLong(0) ==
      Tables.t(spark, dir, "events").count())
    t.collect().foreach { r =>
      assert(Set(2048L, 4096L, 6144L, 8192L)(r.getAs[Long]("byte_rate")))
      assert(Set(2L, 4L, 6L, 8L)(r.getAs[Long]("msg_rate")))
      assert(r.getAs[Long]("n_exceeded_secs") <= r.getAs[Long]("n_seconds"))
      assert(r.getAs[Long]("n_buffer_holds") <=
        r.getAs[Long]("n_exceeded_secs"))
      assert(r.getAs[Long]("peak_sec_bytes") <= r.getAs[Long]("total_bytes"))
      assert(r.getAs[String]("verdict") ==
        (if (r.getAs[Long]("n_exceeded_secs") > 0) "THROTTLED"
         else "WITHIN_RATE"))
      // a paused second implies an exceeded second and vice versa is NOT
      // required (msgs can exceed without a full extra second of debt)
      if (r.getAs[Long]("pause_secs") > 0)
        assert(r.getAs[Long]("n_exceeded_secs") > 0)
    }
    t.unpersist()
  }

  test("offsets_for_publish_time: publish lookup bounds the event lookup") {
    val p = LogOps.offsetsForPublishTime(spark, dir).cache()
    val et = LogOps.offsetsForTimes(spark, dir)
      .select(col("topic"), col("part"), col("offs").as("oft_offs"))
    // the event-time column IS offsets_for_times' answer
    assert(p.join(et, Seq("topic", "part"))
      .filter(col("offs_event_time") =!= col("oft_offs")).count() == 0)
    p.collect().foreach { r =>
      val evo = Option(r.getAs[java.lang.Long]("offs_event_time"))
      val pbo = Option(r.getAs[java.lang.Long]("offs_publish_time"))
      // publish crossers are a SUPERSET of event crossers (pub >= event
      // ts), so the publish answer exists whenever the event one does
      // and can only be an earlier-or-equal offset
      evo.foreach { e =>
        assert(pbo.isDefined && pbo.get <= e)
      }
      Option(r.getAs[java.lang.Long]("first_pub_ms"))
        .foreach(m => assert(m >= LogOps.TimesTargetMs))
      assert(r.getAs[Long]("differs") ==
        (if (evo.map(Long2long) != pbo.map(Long2long)) 1L else 0L))
    }
    p.unpersist()
  }

  test("nonpartitioned_topics: round trip and the repartition skip") {
    val n = admin.Admin.nonpartitionedTopics(spark, dir).cache()
    val rows = n.collect()
    // the md5 coin splits the topic universe both ways at this data
    assert(rows.exists(_.getAs[Boolean]("is_partitioned")))
    assert(rows.exists(!_.getAs[Boolean]("is_partitioned")))
    assert(rows.map(_.getAs[Long]("n_records")).sum ==
      Tables.t(spark, dir, "events").count())
    rows.foreach { r =>
      // KopTopic round trip: the Kafka name always comes back
      assert(r.getAs[String]("kafka_name") == r.getAs[String]("topic"))
      if (r.getAs[Boolean]("is_partitioned")) {
        assert(r.getAs[String]("pulsar_name").endsWith(
          s"-partition-${r.getAs[Long]("part")}"))
      } else {
        assert(r.getAs[Long]("part") == 0L)
        assert(r.getAs[Long]("n_partitions") == 1L)
        assert(!r.getAs[String]("pulsar_name").contains("-partition-"))
        // the repartition_map consumer skips non-partitioned topics
        assert(r.getAs[Long]("n_repartition_moved") == 0L)
      }
    }
    n.unpersist()
  }

  test("bundle_unload_invalidation: composes broker_routing's ownership") {
    val b = graft.log.BrokerOps.bundleUnloadInvalidation(spark, dir).cache()
    // broker_routing's md5 hash IS the bundle key: per event, the pair
    // population equals the routing view's per-broker partition count
    val routing = graft.log.BrokerOps.brokerRouting(spark, dir)
      .groupBy("broker").agg(count(lit(1)).as("broker_pairs"))
      .collect().map(r => r.getAs[Long]("broker") ->
        r.getAs[Long]("broker_pairs")).toMap
    b.collect().foreach { r =>
      assert(r.getAs[Long]("n_pairs") == routing(r.getAs[Long]("bundle")))
      assert(r.getAs[Long]("n_invalidated") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("n_relookups") <= r.getAs[Long]("n_pairs"))
      // every pair is either already cached or produces later (or both)
      assert(r.getAs[Long]("n_invalidated") +
        r.getAs[Long]("n_relookups") >= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("relookup_cost_ms") ==
        50L * r.getAs[Long]("n_relookups"))
      assert(r.getAs[Long]("n_group_moves") <= 4L)
      assert(r.getAs[Long]("n_txn_moves") <= 8L)
    }
    // one row per active hour whose bundle owns at least one pair
    assert(b.select("unload_event").distinct().count() == b.count())
    b.unpersist()
  }

  test("inner_topic_protection: only metadata-ns internals are fenced") {
    val v = admin.Admin.innerTopicProtection(spark, dir).cache()
    val rows = v.collect()
    assert(rows.map(_.getAs[Long]("n_attempts")).sum ==
      Tables.t(spark, dir, "events").count())
    rows.foreach { r =>
      val internal = r.getAs[Long]("internal") == 1L
      val ns = r.getAs[String]("ns")
      val topic = r.getAs[String]("topic")
      assert(internal == (ns == "__kafka" &&
        Set("__consumer_offsets", "__transaction_state")(topic)))
      val expect =
        if (internal && r.getAs[String]("origin") == "CLIENT")
          "INVALID_TOPIC"
        else if (topic == "__change_events") "INVALID_TOPIC"
        else "ALLOWED"
      assert(r.getAs[String]("verdict") == expect)
      // coordinator writes exist only on the metadata-namespace internals
      if (r.getAs[String]("origin") == "COORDINATOR") assert(internal)
      assert(r.getAs[Long]("n_rejected") ==
        (if (expect == "INVALID_TOPIC") r.getAs[Long]("n_attempts")
        else 0L))
    }
    v.unpersist()
  }

  test("bloom dedup: verdicts partition the corpus, no false negatives") {
    val nDocs = Tables.t(spark, dir, "documents").count()
    val b = llm.Dedup.queries("dedup_bloom")(spark, dir).cache()
    assert(b.agg(sum("n_docs")).head.getLong(0) == nDocs)
    assert(b.select("verdict").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("TRUE_DUP", "FALSE_POS", "UNIQUE")))
    b.unpersist()
    val c = llm.Dedup.queries("bloom_fp_curve")(spark, dir).cache()
    assert(c.count() == 5)
    c.collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") == nDocs)
      // identical texts share all k bits, so every exact dup is flagged —
      // the filter has no false negatives and the FP count closes exactly
      assert(r.getAs[Long]("n_false_pos") ==
        r.getAs[Long]("n_flagged") - r.getAs[Long]("n_exact_dup"))
      assert(r.getAs[Long]("fp_ppm") ==
        1000000L * r.getAs[Long]("n_false_pos") /
          (r.getAs[Long]("n_docs") - r.getAs[Long]("n_exact_dup")))
    }
    c.unpersist()
  }

  test("bloom_delta_filter: union-filter screen closes over arrivals") {
    import graft.functions.Parity.md5Long
    val docs = Tables.t(spark, dir, "documents")
    val nArr = docs
      .filter(md5Long(col("doc_id").cast("string")) % 10L === 0L).count()
    val f = llm.Dedup.queries("bloom_delta_filter")(spark, dir).cache()
    assert(f.count() == 4)
    f.collect().foreach { r =>
      assert(r.getAs[Long]("n_arrivals") == nArr)
      // the union filter has no false negatives: every truly-seen
      // arrival is flagged, so the FP count closes exactly
      assert(r.getAs[Long]("n_false_pos") ==
        r.getAs[Long]("n_flagged") - r.getAs[Long]("n_true_seen"))
      // the filter content is bounded by m
      assert(r.getAs[Long]("n_set_bits") <= r.getAs[Int]("m_bits").toLong)
      assert(r.getAs[Long]("fill_bp") ==
        10000L * r.getAs[Long]("n_set_bits") / r.getAs[Int]("m_bits"))
    }
    // monotone content: a TRUE invariant here (not a probabilistic one)
    // because the filter sizes are nested moduli (m | 4m, all powers of
    // two): bit_m(x) = bit_4m(x) mod m, so the mod-m bit set is the image
    // of the mod-4m bit set under a function — an image can never be
    // larger than its preimage. The same nesting is what lets
    // bloomVerdicts/bloomDeltaFilter derive every m's filter from one
    // M=262144-grain aggregation (Dedup.BloomM).
    val byM = f.collect().sortBy(_.getAs[Int]("m_bits"))
      .map(_.getAs[Long]("n_set_bits"))
    assert(byM.zip(byM.tail).forall { case (a, b) => a <= b })
    f.unpersist()
  }

  test("bloom_calibration: theory column closes over the delta frame") {
    val c = llm.Dedup.queries("bloom_calibration")(spark, dir).cache()
    val d = llm.Dedup.queries("bloom_delta_filter")(spark, dir)
      .select("m_bits", "fill_bp", "fp_ppm").collect()
      .map(r => r.getAs[Int]("m_bits") ->
        (r.getAs[Long]("fill_bp"), r.getAs[Long]("fp_ppm"))).toMap
    assert(c.count() == 4)
    c.collect().foreach { r =>
      val (fill, measured) = d(r.getAs[Int]("m_bits"))
      assert(r.getAs[Long]("fill_bp") == fill)
      assert(r.getAs[Long]("measured_fp_ppm") == measured)
      val expect = fill * fill * fill * fill / 10000000000L
      assert(r.getAs[Long]("expected_fp_ppm") == expect)
      assert(r.getAs[Long]("abs_err_ppm") == math.abs(measured - expect))
    }
    c.unpersist()
  }

  test("prefix_dup_profile: shares bounded, buckets consistent") {
    val p = llm.TextAnalysis.prefixDupProfile(spark, dir).cache()
    assert(p.filter(col("shared_bp") < 0L || col("shared_bp") > 10000L ||
      col("n_shared_prefix") > col("n_docs") ||
      col("max_bucket") < 1L).count() == 0)
    // doc accounting closes over the >=32-char corpus
    val n = Tables.t(spark, dir, "documents")
      .filter(length(col("text")) >= 32).count()
    assert(p.agg(sum("n_docs")).head.getLong(0) == n)
    p.unpersist()
  }

  test("customer_spend_deciles ranks a null total last, like NTILE") {
    // A copy of sf0.001's orders with every order of one customer priced
    // null, so that customer's total is null.
    val d = java.nio.file.Files.createTempDirectory("graft_deciles_null")
    d.toFile.deleteOnExit()
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val victim = orders.agg(min("o_custkey")).head().get(0)
    orders.withColumn("o_totalprice",
        when(col("o_custkey") === lit(victim), lit(null))
          .otherwise(col("o_totalprice")))
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    val got = analytics.Analytics.customerSpendDeciles(spark, d.toString)
    val totals = spark.read.parquet(s"$d/orders.parquet")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(10,2)")).cast("double")
        .as("total"))
    assert(totals.filter(col("total").isNull).count() == 1)
    val want = totals
      .withColumn("decile", ntile(10).over(org.apache.spark.sql.expressions
        .Window.orderBy(col("total").asc_nulls_last, col("o_custkey")))
        .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        min("total").as("min_total"), max("total").as("max_total"),
        sum(col("total").cast("decimal(18,2)")).cast("double").as("sum_total"))
    val cols = Seq("decile", "n_customers", "min_total", "max_total", "sum_total")
    assert(got.select(cols.map(col): _*).collect().toSet ==
      want.select(cols.map(col): _*).collect().toSet)
    assert(got.agg(sum("n_customers")).head().getLong(0) == totals.count())
  }
}
