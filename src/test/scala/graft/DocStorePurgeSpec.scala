package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** Threshold REORG PURGE (r17c): deletion vectors fold into data files
  * only where the masked ratio crossed the threshold. Pins:
  *
  *  - only files at/above the ratio are rewritten; light files keep
  *    their DV binding and the logical view is unchanged throughout;
  *  - ratio 0.0 purges every masked file (== materializeDvs), a ratio
  *    above every density purges none;
  *  - purge on a DV-less table is a no-op returning (0, 0);
  *  - the rewrite retires the heavy files in one commit (file count
  *    delta pinned) and survivors-only contents are exact.
  */
class DocStorePurgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** 40 rows in two single-tuple files: k=0 (ids 0-19), k=1 (ids
    * 20-39) — identity partitioning on k gives file-accurate density
    * control.
    */
  private def writeBase(dir: String): Unit = {
    import spark.implicits._
    (0L until 40L).map(i => (i, i / 20, i * 3))
      .toDF("doc_id", "k", "n")
      .coalesce(1)
      .write.format("docstore").mode("overwrite")
      .option("partitionCols", "k")
      .save(dir)
  }

  private def dvCount(dir: String): Int = {
    val v = DocStore.latestVersion(dir).get
    DocStore.readSnapshot(dir, v).dvs.size
  }

  test("only files at/above the ratio are purged; the logical view " +
    "never changes") {
    import spark.implicits._
    val dir = tmp("gds_purge_sel")
    writeBase(dir)
    // k=0 file: 10/20 masked (50%); k=1 file: 1/20 masked (5%)
    DocStoreOps.deleteVectors(spark,
      dir, ((0L until 20L by 2L) :+ 21L).toDF("doc_id"), "doc_id")
    val before = spark.read.format("docstore").load(dir)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(before.length == 29)
    assert(dvCount(dir) == 2)
    val filesBefore = DocStore.readSnapshot(dir,
      DocStore.latestVersion(dir).get).files.size
    val (masked, purged) = DocStoreOps.purgeDvs(spark, dir, 0.3)
    assert((masked, purged) == (2, 1), "one heavy file of two masked")
    assert(dvCount(dir) == 1, "the light file keeps its DV")
    val v = DocStore.latestVersion(dir).get
    assert(DocStore.readSnapshot(dir, v).files.size == filesBefore,
      "one heavy file retired, one survivors-only file added")
    val after = spark.read.format("docstore").load(dir)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(after == before, "purge is physically visible, logically inert")
    // the remaining DV binds to the k=1 file
    val parts = DocStore.readSnapshot(dir, v).parts
    val dvFiles = DocStore.readSnapshot(dir, v).dvs.keys.toSeq
    assert(dvFiles.forall(n =>
      parts.get(n).exists(_.contains(("k", Some("1")))) ))
  }

  test("ratio 0.0 purges every masked file; ratio above every density " +
    "purges none; DV-less table is a no-op") {
    import spark.implicits._
    val dir = tmp("gds_purge_edges")
    writeBase(dir)
    assert(DocStoreOps.purgeDvs(spark, dir, 0.5) == (0, 0), "no DVs yet")
    DocStoreOps.deleteVectors(spark,
      dir, Seq(1L, 21L).toDF("doc_id"), "doc_id")
    assert(dvCount(dir) == 2)
    assert(DocStoreOps.purgeDvs(spark, dir, 0.9) == (2, 0),
      "5% density files survive a 90% threshold")
    assert(dvCount(dir) == 2)
    assert(DocStoreOps.purgeDvs(spark, dir, 0.0) == (2, 2),
      "ratio 0 folds everything (the materializeDvs behavior)")
    assert(dvCount(dir) == 0)
    assert(spark.read.format("docstore").load(dir).count() == 38L)
    intercept[IllegalArgumentException](
      DocStoreOps.purgeDvs(spark, dir, 1.5))
  }
}
