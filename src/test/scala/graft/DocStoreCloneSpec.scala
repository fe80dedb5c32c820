package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** Shallow clone (r17c — the Delta SHALLOW CLONE shape): one metadata
  * commit forks a table with zero data copies; external references are
  * absolute paths the shared reader path resolves transparently. Pins:
  *
  *  - the clone directory holds ONLY a manifest after cloning, and the
  *    clone reads byte-equal to the source snapshot (DV masks
  *    included);
  *  - divergence is one-way: appends to the clone land local files;
  *    a merge rewriting a referenced source file materializes locally
  *    and the SOURCE directory's file set is untouched;
  *  - vacuum on the clone never touches external files;
  *  - cloning onto an existing table is refused loudly.
  */
class DocStoreCloneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def listing(dir: String): Set[String] = {
    val fs = new Path(dir).getFileSystem(new Configuration())
    fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
  }

  private def writeSrc(dir: String): Unit = {
    import spark.implicits._
    (0L until 30L).map(i => (i, i * 3)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir)
    (30L until 40L).map(i => (i, i * 3)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("append").save(dir)
  }

  test("clone = one manifest, zero data files; reads equal the source " +
    "including DV masks") {
    import spark.implicits._
    val src = tmp("gds_clone_src"); val dst = tmp("gds_clone_dst")
    writeSrc(src)
    DocStoreOps.deleteVectors(spark, src, Seq(5L).toDF("doc_id"), "doc_id")
    assert(DocStoreOps.shallowClone(src, dst) == 1L)
    assert(listing(dst).forall(n => !n.endsWith(".gds") && !n.contains(".dv")),
      s"clone dir must hold metadata only: ${listing(dst)}")
    val srcRows = spark.read.format("docstore").load(src)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val dstRows = spark.read.format("docstore").load(dst)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(dstRows == srcRows)
    assert(dstRows.size == 39, "the DV mask crossed the clone")
    assert(DocStore.history(dst).map(_.operation) == Seq("clone"))
  }

  test("divergence is one-way: clone appends stay local, a merge " +
    "rewriting a referenced file never writes the source") {
    import spark.implicits._
    val src = tmp("gds_clone_src2"); val dst = tmp("gds_clone_dst2")
    writeSrc(src)
    val srcListing = listing(src)
    DocStoreOps.shallowClone(src, dst)
    Seq((100L, 7L)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("append").save(dst)
    // merge touches doc_id 0-9 — inside the first referenced file
    DocStoreOps.merge(spark, dst,
      Seq((5L, 999L)).toDF("doc_id", "n"), "doc_id")
    assert(listing(src) == srcListing, "source directory untouched")
    val dstMap = spark.read.format("docstore").load(dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dstMap(5L) == 999L && dstMap(100L) == 7L && dstMap(35L) == 105L)
    assert(dstMap.size == 41)
    val srcMap = spark.read.format("docstore").load(src)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(srcMap(5L) == 15L && !srcMap.contains(100L), "source unchanged")
    // the rewritten reference is gone: every remaining external ref
    // resolves outside dst, every local file inside
    val files = DocStore.readSnapshot(dst, DocStore.latestVersion(dst).get).files
    assert(files.exists(f => !f._1.startsWith(dst)), "still some refs")
    assert(files.exists(f => f._1.startsWith(dst)), "local divergence files")
  }

  test("vacuum on the clone never touches external files; cloning " +
    "onto an existing table is refused") {
    import spark.implicits._
    val src = tmp("gds_clone_src3"); val dst = tmp("gds_clone_dst3")
    writeSrc(src)
    val srcListing = listing(src)
    DocStoreOps.shallowClone(src, dst)
    Seq((100L, 7L)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("append").save(dst)
    DocStore.vacuum(dst, retainLast = 1)
    assert(listing(src) == srcListing)
    assert(spark.read.format("docstore").load(dst).count() == 41L)
    intercept[IllegalArgumentException](DocStoreOps.shallowClone(src, dst))
  }
}
