package graft

import graft.llm.{BpeStore, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted BPE store: the apply-only path must reproduce
  * bpe_encode exactly from the stored vocabulary, and its plan must not
  * contain the trainer/vocab-encode chain.
  */
class BpeStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  test("persisted-vocab apply == bpe_encode (bit-identical)") {
    val a = TextAnalysis.bpeEncode(spark, dir)
    val b = BpeStore.encodeApply(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(b.count() > 0)
  }

  test("store layout: marker + merges + vocab round-trip") {
    val root = BpeStore.ensure(spark, dir)
    assert(new java.io.File(root, Tables.StoreMarker).exists())
    val merges = spark.read.parquet(new java.io.File(root, "merges").toString)
    assert(merges.count() == 3)
    val stats = BpeStore.vocabPersist(spark, dir).collect()
    assert(stats.length == 3)
    val vocabWords = spark.read
      .parquet(new java.io.File(root, "vocab").toString).count()
    assert(stats.head.getAs[Long]("n_vocab_words") == vocabWords)
  }

  test("apply plan reads the stored vocab, not the trainer chain") {
    BpeStore.ensure(spark, dir)
    val plan = BpeStore.encodeApply(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bpe_store"),
      s"apply must scan the persisted vocab:\n$plan")
    // the char-level symbol split exists only in trainer/vocab-encode
    assert(!plan.contains("regexp_extract_all"),
      s"vocab re-encode leaked into the apply plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"stored vocab no longer broadcasts into the corpus scan:\n$plan")
  }

  test("stale fingerprint sweeps; partial store rebuilds") {
    val root = BpeStore.ensure(spark, dir)
    val marker = new java.io.File(root, Tables.StoreMarker)
    val stale = new java.io.File(root.getParentFile, "deadbeef-stale")
    stale.mkdirs()
    BpeStore.vocabPersist(spark, dir)
    assert(!stale.exists(), "stale fingerprint dir must be swept on build")
    assert(StoreSpecs.markers(root.getParentFile) == 1,
      "a forced persist must leave exactly one marker")
    // a fingerprint dir holding junk but no marker (an interrupted build)
    // is cleared and rebuilt, never served
    java.nio.file.Files.delete(marker.toPath)
    val junk = new java.io.File(root, "junk")
    junk.createNewFile()
    assert(BpeStore.ensure(spark, dir) == root)
    assert(!junk.exists(), "an unmarked store root must be cleared")
    assert(marker.exists())
    val a = TextAnalysis.bpeEncode(spark, dir)
    val b = BpeStore.encodeApply(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}

/** Shared checks of the persisted-store specs. */
object StoreSpecs {
  /** Completion markers anywhere under `dir`. */
  def markers(dir: java.io.File): Long = {
    val s = java.nio.file.Files.walk(dir.toPath)
    try s.filter(_.getFileName.toString == Tables.StoreMarker).count()
    finally s.close()
  }
}
