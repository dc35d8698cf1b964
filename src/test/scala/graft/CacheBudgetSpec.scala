package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session-lifetime frame-cache budget ([[FrameCache]]'s global
  * LRU): under pressure the LEAST-recently-used frames are evicted and
  * correctly rebuilt, the protect window keeps a running query's own
  * frames alive, and release() frees localCheckpoint blocks without
  * touching a shared parent's. The round-13 fix this pins: 300+ queries
  * in one session used to accumulate persisted frames without bound.
  */
class CacheBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  test("evicted frames rebuild with identical results") {
    // Prime several cached families, then slam the budget to 1 byte —
    // every subsequent access runs under eviction pressure; results must
    // be unchanged. Suites run sequentially in the forked test JVM, so
    // the temporary budget cannot race another suite's in-flight build.
    val before = analytics.Analytics.queries("basket_pairs")(spark, dir)
      .collect().toSet
    val knn = llm.Similarity.queries("knn_degree")(spark, dir).count()
    val bpe = llm.TextAnalysis.queries("bpe_encode")(spark, dir).count()
    FrameCache.withBudget(1L) {
      // Touch many other cached families to roll the LRU window well past
      // the basket entries (the protect window is 8 accesses). Under the
      // 1-byte budget every unpinned, out-of-window entry is evicted.
      Seq("dedup_minhash_lsh", "anomaly_mad", "kmeans_clusters",
        "decontaminate", "semdedup", "pq_recall", "snn_clusters",
        "dedup_clusters", "minhash_estimate", "knn_clusters")
        .foreach(n => SparkEntry.queries(n)(spark, dir).count())
    }
    val after = analytics.Analytics.queries("basket_pairs")(spark, dir)
      .collect().toSet
    assert(after == before, "rebuilt basket frame diverged")
    assert(llm.Similarity.queries("knn_degree")(spark, dir).count() == knn)
    assert(llm.TextAnalysis.queries("bpe_encode")(spark, dir).count() == bpe)
  }

  test("boundary enforcement evicts even window-protected leftovers") {
    // The per-access enforcement spares the ~8 most recent entries (the
    // unscoped-access fallback guard); at a QUERY BOUNDARY those are the
    // previous query's leftovers and must be evictable — the 1000x-decade
    // failure this pins: a cached embeddings frame surviving into the
    // next query's build starved its execution pool.
    SparkEntry.queries("knn_degree")(spark, dir).count() // prime caches
    def footprint: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val primed = FrameCache.residentKeys(spark)
    assert(primed.nonEmpty, "nothing cached to evict")
    val before = footprint
    assert(before > 0L, "primed frames hold no storage")
    FrameCache.withBudget(1L)(FrameCache.enforceBudgetNow(spark))
    // Deterministic verdict: enumerate the GRAFT-OWNED entries (the
    // global LRU tracks every session-lifetime frame) and assert those
    // are gone — a global byte threshold would hinge on whatever blocks
    // other suites happen to leave in the shared storage pool.
    val leftover = FrameCache.residentKeys(spark)
    assert(leftover.isEmpty,
      s"boundary enforcement left graft frames resident: $leftover")
    // and their blocks were actually released (blocking unpersist), so
    // the pool shrank by the frames' share — residue is untouched, so
    // a strict decrease is deterministic too.
    assert(footprint < before,
      s"graft frames evicted but their blocks were not released " +
        s"($before -> $footprint bytes)")
    // and the evicted frames still rebuild correctly
    assert(SparkEntry.queries("knn_degree")(spark, dir).count() > 0)
  }

  test("storage footprint stays bounded across repeated family cycling") {
    // Cycle cache-heavy families twice; the persisted byte total must not
    // grow monotonically with every access (the r12 failure mode). This
    // pins the invariant the budget enforces at its default: the SAME
    // working set re-accessed must not double the footprint.
    def footprint: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val fams = Seq("basket_pairs", "knn_degree", "dedup_minhash_lsh",
      "anomaly_mad", "decontaminate")
    fams.foreach(n => SparkEntry.queries(n)(spark, dir).count())
    val f1 = footprint
    fams.foreach(n => SparkEntry.queries(n)(spark, dir).count())
    val f2 = footprint
    assert(f2 <= f1 * 3 / 2 + (16 << 20),
      s"footprint grew from $f1 to $f2 across a repeated working set")
  }

  test("budget eviction reaches an abandoned session's slots") {
    // The budget measures the whole SparkContext's storage, so a session
    // nobody uses any more must not keep its slots while the live session
    // is forced to evict its own.
    val other = spark.newSession()
    SparkEntry.queries("anomaly_mad")(other, dir).collect()
    assert(FrameCache.residentKeys(other).size == 2,
      s"expected the dev and mc slots: ${FrameCache.residentKeys(other)}")
    FrameCache.withBudget(1L) {
      SparkEntry.queries("basket_pairs")(spark, dir).collect()
    }
    assert(FrameCache.residentKeys(other).isEmpty,
      s"the other session kept its slots: ${FrameCache.residentKeys(other)}")
    // the running query's own (pinned) frames were built and kept
    assert(FrameCache.residentKeys(spark).exists(_.startsWith("Analytics.basket")),
      s"main session slots: ${FrameCache.residentKeys(spark)}")
  }

  /** A private, writable copy of the sf0.001 tables. */
  private def copyOfSf0001(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_cache_copy")
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach { f =>
      java.nio.file.Files.copy(f, d.resolve(f.getFileName))
    }
    d
  }

  private def deleteTree(d: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))

  test("events rewritten in place: one slot per label, old blocks released") {
    val d = copyOfSf0001()
    try {
      val copy = d.toString
      def slots(label: String) =
        FrameCache.residentKeys(spark).filter(_.startsWith(s"$label $copy@"))
      SparkEntry.queries("anomaly_mad")(spark, copy).collect()
      // The checkpointed RDDs behind the two cached frames.
      val primed = Seq(analytics.Analytics.anomalyDev(spark, copy),
        analytics.Analytics.anomalyMinuteCounts(spark, copy)).map { df =>
        df.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          case p => fail(s"cached frame is not a checkpoint: ${p.nodeName}")
        }
      }.toSet
      assert(primed.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
      val oldKeys = slots("Analytics.dev") ++ slots("Analytics.mc")
      assert(oldKeys.size == 2, s"expected the dev and mc slots: $oldKeys")
      // Rewrite events.parquet in place: drop a tenth of the events.
      val events = d.resolve("events.parquet")
      val staged = d.resolve("events_new.parquet")
      spark.read.parquet(events.toString).filter(col("event_id") % 10 =!= 3)
        .coalesce(1).write.parquet(staged.toString)
      java.nio.file.Files.delete(events)
      java.nio.file.Files.move(staged, events)
      val after = SparkEntry.queries("anomaly_mad")(spark, copy).collect().toSet
      for (label <- Seq("Analytics.dev", "Analytics.mc")) {
        val now = slots(label)
        assert(now.size == 1, s"$label holds ${now.size} slots: $now")
        assert(!oldKeys.contains(now.head), s"$label still serves the old data")
      }
      val stillPersisted = primed & spark.sparkContext.getPersistentRDDs.keySet
      assert(stillPersisted.isEmpty,
        s"stale frames' RDDs still persisted: $stillPersisted")
      val fresh = SparkEntry.queries("anomaly_mad")(spark.newSession(), copy)
        .collect().toSet
      assert(after == fresh)
    } finally deleteTree(d)
  }

  test("two families over the same (dir, table) hold separate slots") {
    // Both k-means and PCA fit over (dir, embeddings); each must keep
    // its own frame.
    val km = llm.Clustering.fittedCentroids(spark, dir)
    val pca = llm.Pca.pcaTopComponent(spark, dir)
    assert(!(km eq pca))
    assert(km.columns.toSeq != pca.columns.toSeq)
    assert(llm.Clustering.fittedCentroids(spark, dir) eq km)
    assert(llm.Pca.pcaTopComponent(spark, dir) eq pca)
    val labels = FrameCache.residentKeys(spark)
      .filter(_.endsWith(s" $dir@${Tables.fingerprint(spark, dir, "embeddings")}"))
      .map(_.takeWhile(_ != ' '))
    assert(labels.contains("Clustering.fit") && labels.contains("Pca.fit"),
      s"resident embeddings slots: $labels")
  }
}
