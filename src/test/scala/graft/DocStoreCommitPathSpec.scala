package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreBranch, DocStoreOps, DocStoreStreamingWrite}

/** Every docstore commit states its whole next table state and goes
  * through one commit path. Pins:
  *
  *  - a checkpoint equals the chain it summarises: after every commit
  *    kind (including the ones that land on a checkpoint version), each
  *    version read with checkpoints equals the fold of the manifests
  *    alone, and vacuum's floor checkpoint equals it too;
  *  - every commit that adds files proves them against the active
  *    CHECK constraints — restore, branch publish and a stream epoch
  *    included, not only batch writes.
  */
class DocStoreCommitPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** File paths reduced to names, so two directories compare. */
  private def norm(s: DocStore.Snapshot): DocStore.Snapshot =
    s.copy(files = s.files.map { case (f, len) => (new Path(f).getName, len) })

  /** A copy of `dir` without its checkpoints: reads there fold the
    * manifest chain alone.
    */
  private def chainOnly(dir: String): String = {
    val out = tmp("gds_chain")
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(_.getFileName.toString.contains(DocStore.CheckpointPrefix))
      .foreach(p => Files.copy(p, Paths.get(out, p.getFileName.toString)))
    out
  }

  private def epochRows(sw: DocStoreStreamingWrite, epochId: Long,
      rows: Seq[Seq[Any]]): Array[WriterCommitMessage] = {
    val w = sw.createStreamingWriterFactory(
      new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
      .createWriter(0, 0L, epochId)
    rows.foreach { r =>
      w.write(new GenericInternalRow(r.map {
        case s: String => UTF8String.fromString(s)
        case x => x
      }.toArray))
    }
    Array(w.commit())
  }

  test("a checkpoint equals the chain it summarises after every commit " +
    "kind, at v8 and v16 and at vacuum's floor") {
    import spark.implicits._
    val dir = tmp("gds_ckpt_oracle")
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, k % 4, k, s"s$k")).toDF("k", "grp", "v", "s")
    rows(0L until 400L).repartition(2)
      .write.format("docstore").mode("overwrite")
      .option("partitionCols", "grp").option("bloomCols", "k")
      .save(dir) // v1: partitioned
    rows(400L until 420L).coalesce(1)
      .write.format("docstore").mode("append").save(dir) // v2: append
    DocStoreOps.merge(spark, dir, rows(Seq(10L, 1000L)), "k") // v3
    DocStoreOps.delete(spark, dir, Seq(20L, 21L).toDF("k"), "k") // v4
    DocStoreOps.renameColumn(dir, "s", "t") // v5
    DocStoreOps.addCheck(dir, "v", 0L, 100000L) // v6
    val sw = new DocStoreStreamingWrite(dir,
      StructType.fromDDL("k BIGINT, grp BIGINT, v BIGINT, t STRING"), "q1")
    sw.commit(0L, epochRows(sw, 0L, Seq(Seq(2000L, 0L, 2000L, "e")))) // v7
    DocStoreOps.deleteVectors(spark, dir, Seq(30L, 31L).toDF("k"), "k") // v8
    DocStoreOps.dropCheck(dir, "v") // v9
    DocStoreBranch.create(dir, "b")
    Seq((3000L, 1L, 3000L, "b")).toDF("k", "grp", "v", "t").coalesce(1)
      .write.format("docstore").mode("append").option("branch", "b")
      .save(dir)
    DocStoreBranch.publish(dir, "b") // v10
    DocStoreOps.restore(dir, 9L) // v11
    DocStoreOps.dropColumn(dir, "t") // v12
    def narrow(ks: Seq[Long]) = ks.map(k => (k, k % 4, k)).toDF("k", "grp", "v")
    narrow(500L until 510L).coalesce(1).write.format("docstore")
      .mode("append").option("partitionCols", "grp").save(dir) // v13
    DocStoreOps.merge(spark, dir, narrow(Seq(501L)), "k") // v14
    narrow(Seq(600L)).write.format("docstore").mode("append").save(dir) // v15
    DocStoreOps.deleteVectors(spark, dir, Seq(40L).toDF("k"), "k") // v16
    narrow(Seq(700L)).write.format("docstore").mode("append").save(dir) // v17
    assert(DocStore.latestVersion(dir).contains(17L))
    val fs = new Path(dir).getFileSystem(DocStore.hconf)
    assert(fs.exists(new Path(dir, DocStore.CheckpointPrefix + "00000008")) &&
      fs.exists(new Path(dir, DocStore.CheckpointPrefix + "00000016")))
    val chain = chainOnly(dir)
    val expected = (1L to 17L).map(v => v -> norm(DocStore.readSnapshot(chain, v))).toMap
    (1L to 17L).foreach { v =>
      assert(norm(DocStore.readSnapshot(dir, v)) == expected(v),
        s"v$v read through its checkpoint differs from the chain")
    }
    assert(expected(8L).parts.nonEmpty && expected(16L).parts.nonEmpty,
      "the DV deletes keep every file's partition tuple")
    // vacuum anchors its floor (v13, once the branch root is gone)
    // with a checkpoint of its own
    DocStoreBranch.drop(dir, "b")
    DocStore.vacuum(dir, retainLast = 5)
    assert(fs.exists(new Path(dir, DocStore.CheckpointPrefix + "00000013")))
    (13L to 17L).foreach { v =>
      assert(norm(DocStore.readSnapshot(dir, v)) == expected(v),
        s"v$v after vacuum differs from the chain")
    }
  }

  private def checked(name: String): String = {
    import spark.implicits._
    val dir = tmp(name)
    Seq((1L, 50L), (2L, 100L)).toDF("k", "v").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir) // v1
    dir
  }

  private def maxV(dir: String): Long =
    spark.read.format("docstore").load(dir).agg(max("v")).head().getLong(0)

  private def violation(body: => Any): Unit = {
    val ex = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null &&
        e.getMessage.contains("CHECK constraint violation")), ex.toString)
  }

  test("restore proves the files it re-adds against today's CHECK " +
    "constraints") {
    import spark.implicits._
    val dir = tmp("gds_check_restore")
    Seq((1L, 50L), (2L, 450L)).toDF("k", "v").coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir) // v1
    DocStoreOps.delete(spark, dir, Seq(2L).toDF("k"), "k") // v2
    DocStoreOps.addCheck(dir, "v", 0L, 100L) // v3
    violation(DocStoreOps.restore(dir, 1L))
    assert(DocStore.latestVersion(dir).contains(3L), "nothing committed")
    assert(maxV(dir) == 50L)
  }

  test("branch publish proves the branch's files against main's CHECK " +
    "constraints") {
    import spark.implicits._
    val dir = checked("gds_check_publish")
    DocStoreBranch.create(dir, "audit")
    Seq((3L, 450L)).toDF("k", "v").coalesce(1).write.format("docstore")
      .mode("append").option("branch", "audit").save(dir)
    DocStoreOps.addCheck(dir, "v", 0L, 100L) // main v2
    violation(DocStoreBranch.publish(dir, "audit"))
    assert(DocStore.latestVersion(dir).contains(2L), "nothing published")
    assert(maxV(dir) == 100L)
  }

  test("a stream epoch proves its files against the CHECK constraints " +
    "and leaves nothing behind when refused") {
    val dir = checked("gds_check_stream")
    DocStoreOps.addCheck(dir, "v", 0L, 100L) // v2
    val files = DocStore.listDataFiles(dir).map(_._1).toSet
    val sw = new DocStoreStreamingWrite(dir,
      new StructType().add("k", LongType).add("v", LongType), "q")
    violation(sw.commit(0L, epochRows(sw, 0L, Seq(Seq(3L, 450L)))))
    assert(DocStore.latestVersion(dir).contains(2L), "nothing committed")
    assert(DocStore.listDataFiles(dir).map(_._1).toSet == files,
      "the refused epoch's files are gone")
    sw.commit(1L, epochRows(sw, 1L, Seq(Seq(4L, 70L))))
    assert(maxV(dir) == 100L &&
      spark.read.format("docstore").load(dir).count() == 3L)
  }
}
