package graft

import graft.llm.{AnnIndex, Similarity}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF/PQ index: the probe-only path must reproduce
  * ann_ivfpq exactly from the stored artifacts, the probe plan must not
  * contain the training/encode chain, and the codes layout must be
  * cell-partitioned (the 100 TB pruning contract).
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  test("persisted-index probe == ann_ivfpq (bit-identical)") {
    val a = Similarity.annIvfPq(spark, dir)
    val b = AnnIndex.annIvfPqProbe(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(b.count() > 0)
  }

  test("index layout: marker + cell-partitioned codes directories") {
    val root = AnnIndex.ensure(spark, dir)
    assert(new java.io.File(root, Tables.StoreMarker).exists())
    val cellDirs = new java.io.File(root, "codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "codes/ must be partitioned by cell")
    // every coarse cell that the stats report has its own partition dir
    val statCells = AnnIndex.indexPersist(spark, dir)
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(cellDirs.map(_.getName.stripPrefix("cell=").toLong).toSet
      == statCells)
  }

  test("probe plan reads the persisted index, not the training chain") {
    AnnIndex.ensure(spark, dir)
    val plan = AnnIndex.annIvfPqProbe(spark, dir)
      .queryExecution.executedPlan.toString
    // the probe's only data-sized scan is the persisted codes parquet;
    // an ObjectHashAggregate over collect_list (the Lloyd mean step) or
    // a scan of a localCheckpoint RDD would mean training leaked in
    assert(plan.contains("graft_ann_index"),
      s"probe must scan the persisted index:\n$plan")
    assert(!plan.contains("collect_list"),
      s"training (Lloyd mean) leaked into the probe plan:\n$plan")
    // one broadcast ADC table into the pruned code scan; the cell
    // equi-join rides the partition column
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    // the probed-cell set is a STATIC partition filter on the code scan
    // (unconditional pruning — the scan lists only those cell dirs)
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe code scan lost its static cell partition filter:\n$plan")
  }

  test("stale fingerprint sweeps; fresh data rebuilds") {
    val root = AnnIndex.ensure(spark, dir)
    val marker = new java.io.File(root, Tables.StoreMarker)
    // plant a stale sibling fingerprint dir; a rebuild must sweep it
    val stale = new java.io.File(root.getParentFile, "deadbeef-stale")
    stale.mkdirs()
    AnnIndex.indexPersist(spark, dir)
    assert(!stale.exists(), "stale fingerprint dir must be swept on build")
    assert(marker.exists())
    assert(StoreSpecs.markers(root.getParentFile) == 1,
      "a forced persist must leave exactly one marker")
    // a fingerprint dir holding junk but no marker (an interrupted build)
    // is cleared and rebuilt, never served
    java.nio.file.Files.delete(marker.toPath)
    val junk = new java.io.File(root, "junk")
    junk.createNewFile()
    assert(AnnIndex.ensure(spark, dir) == root)
    assert(!junk.exists(), "an unmarked index root must be cleared")
    assert(marker.exists())
    assert(AnnIndex.annIvfPqProbe(spark, dir).count() > 0)
  }
}
