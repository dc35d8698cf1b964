package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  private[graft] def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (analytics.Analytics.queries, analytics.Analytics.oracles),
      (log.LogOps.queries, log.LogOps.oracles),
      (log.BrokerOps.queries, log.BrokerOps.oracles),
      (sources.GlogOps.queries, sources.GlogOps.oracles),
      (log.BatchCodec.queries, log.BatchCodec.oracles),
      (coordinator.Groups.queries, coordinator.Groups.oracles),
      (coordinator.GroupMetadataCodec.queries,
        coordinator.GroupMetadataCodec.oracles),
      (txn.Transactions.queries, txn.Transactions.oracles),
      (registry.SchemaRegistry.queries, registry.SchemaRegistry.oracles),
      (admin.Admin.queries, admin.Admin.oracles),
      (llm.Dedup.queries, llm.Dedup.oracles),
      (llm.TextAnalysis.queries, llm.TextAnalysis.oracles),
      (llm.Similarity.queries, llm.Similarity.oracles),
      (llm.AnnIndex.queries, llm.AnnIndex.oracles),
      (llm.BpeStore.queries, llm.BpeStore.oracles),
      (llm.Sampling.queries, llm.Sampling.oracles),
      (llm.Curation.queries, llm.Curation.oracles),
      (llm.Chunking.queries, llm.Chunking.oracles),
      (llm.Clustering.queries, llm.Clustering.oracles),
      (llm.Pca.queries, llm.Pca.oracles),
      (llm.Multimodal.queries, llm.Multimodal.oracles),
      (streaming.Streams.queries, streaming.Streams.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Deliberately timestamp-free so it runs under a stock session (without
    * GraftSession's parquet-timestamp configs); the full Q1 with its
    * pushdown-friendly timestamp predicate runs under Verify/Bench.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(functions.Parity.dec10x2)).cast("double")
          .as("sum_qty"))
  }

  /** Queries whose execution carries object-aggregation state over
    * fact-cardinality keys OUTSIDE a cached build (per-user path collects,
    * per-fingerprint bucket lists, per-vertex adjacency sets) — the one
    * class that needs the 16x-cores shuffle fan-out at the 1000x decade
    * (per-task hash state grows with data; see GraftSession.withWideState).
    * Everything else plans at cores: measured at sf0.1/local[32], the
    * session-wide 16x default cost 112 of 327 queries >50 ms each and
    * bought nothing outside this class.
    */
  private val wideStateQueries: Set[String] =
    Set("event_paths", "substring_dup_pairs", "snn_graph", "knn_triangles")

  /** One entry per implemented operator from SURVEY.md §2. Each closure
    * pins the session's shuffle fan-out for the query it builds (wide for
    * [[wideStateQueries]], cores otherwise) — the conf is read at
    * EXECUTION planning, and build→execute is sequential per query in
    * Verify/Bench/the driver, so setting it at build time scopes it to
    * exactly this query's run.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _).map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        val base = s.conf.get("spark.sql.shuffle.partitions").toInt
        s.conf.set(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          (if (wideStateQueries(name)) base * 16 else base).toString)
        // Evict over-budget leftovers from the PREVIOUS query before this
        // one plans: queries that touch no frame cache never trigger the
        // per-access enforcement, and at the 1000x decade a predecessor's
        // resident frame can starve this query's execution pool.
        FrameCache.enforceBudgetNow(s)
        // Pin every frame-cache slot this build touches against budget
        // eviction until the next query's build starts.
        FrameCache.pinScope { fn(s, d) }
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
