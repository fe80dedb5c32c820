package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** Deletion vectors (merge-on-read DELETE) + the metadata-only
  * aggregate pushdown — the physics the q_docstore_dv / q_docstore_count
  * oracles cannot observe:
  *
  *  - a DV delete writes ZERO data files (same (name, length) set,
  *    only `#dv` manifest headers + sidecars);
  *  - a second delete over the same files MERGES vectors (one binding
  *    per file, count = union);
  *  - a pinned pre-delete read still sees every row;
  *  - materializeDvs rewrites ONLY masked files and drops every `#dv`;
  *  - vacuum reclaims superseded sidecars and keeps live ones;
  *  - the STREAM treats a DV commit as non-append (loud), and
  *    re-emits the re-masked file under ignoreChanges;
  *  - COUNT/MIN/MAX push into the scan as header-only partials
  *    (PushedAggregates in the plan, blocksRead flat), COUNT stays
  *    pushable under a live mask, MIN/MAX correctly refuse.
  */
class DocStoreDvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def land(dir: String, n: Long): Unit =
    spark.range(n).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)

  private def keysDf(ks: Seq[Long]): DataFrame = {
    val s2 = spark
    import s2.implicits._
    ks.toDF("k")
  }

  private def manifestSet(dir: String): Set[(String, Long)] =
    DocStore.readSnapshot(dir, DocStore.latestVersion(dir).get).files
      .map { case (f, len) => (new Path(f).getName, len) }.toSet

  test("DV delete writes zero data files; masked read; pinned read intact") {
    val dir = tmp("gds_dv")
    land(dir, 400)
    val v1 = DocStore.latestVersion(dir).get
    val before = manifestSet(dir)
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(3L, 77L, 250L, 399L)), "k")
    val v2 = DocStore.latestVersion(dir).get
    assert(v2 == v1 + 1)
    assert(manifestSet(dir) == before,
      "a DV delete must not add, remove, or rewrite any data file")
    assert(DocStore.readSnapshot(dir, v2).dvs.nonEmpty, "no #dv bindings committed")
    val got = spark.read.format("docstore").load(dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 400L).toSet -- Set(3L, 77L, 250L, 399L))
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    assert(pinned.count() == 400L, "pre-delete snapshot must be intact")
  }

  test("second delete merges vectors; materialize rewrites only masked " +
    "files; vacuum reclaims superseded sidecars") {
    val dir = tmp("gds_dv2")
    land(dir, 400)
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(10L, 20L)), "k")
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(20L, 30L)), "k")
    val v = DocStore.latestVersion(dir).get
    val dvMap = DocStore.readSnapshot(dir, v).dvs
    // 10/20/30 land in the first of four range files: ONE binding
    assert(dvMap.size == 1, s"expected one binding, got $dvMap")
    val merged = DocStore.readDv(new Path(dir, dvMap.values.head).toString)
    assert(merged.length == 3, "second delete must merge, not replace")
    val maskedRows = spark.read.format("docstore").load(dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(maskedRows == (0L until 400L).toSet -- Set(10L, 20L, 30L))

    val untouched = manifestSet(dir).filterNot { case (n, _) =>
      dvMap.contains(n)
    }
    DocStoreOps.materializeDvs(spark, dir)
    val vAfter = DocStore.latestVersion(dir).get
    assert(DocStore.readSnapshot(dir, vAfter).dvs.isEmpty,
      "materialize must drop every #dv binding")
    val after = manifestSet(dir)
    assert(untouched.subsetOf(after),
      "materialize must not rewrite unmasked files")
    assert(!after.exists { case (n, _) => dvMap.contains(n) },
      "the masked file must be replaced")
    val matRows = spark.read.format("docstore").load(dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(matRows == maskedRows, "materialized read must equal masked read")

    DocStore.vacuum(dir)
    val fs = new Path(dir).getFileSystem(
      new org.apache.hadoop.conf.Configuration())
    val dvFiles = fs.listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.contains(".gds.dv"))
    assert(dvFiles.isEmpty, s"vacuum must reclaim dead sidecars: $dvFiles")
    assert(spark.read.format("docstore").load(dir).count() == 397L)
  }

  test("restore republishes the restored version's DV bindings") {
    val dir = tmp("gds_dv3")
    land(dir, 100)
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(5L)), "k")
    val vMasked = DocStore.latestVersion(dir).get
    DocStoreOps.materializeDvs(spark, dir)
    val vNew = DocStoreOps.restore(dir, vMasked)
    assert(DocStore.readSnapshot(dir, vNew).dvs.nonEmpty,
      "restore must carry the restored snapshot's #dv bindings")
    assert(spark.read.format("docstore").load(dir).count() == 99L)
  }

  test("stream: DV commit is non-append (loud); ignoreChanges re-emits " +
    "the re-masked file with the mask applied") {
    val dir = tmp("gds_dv4")
    val ckpt = tmp("gds_dv4_ckpt")
    land(dir, 100)
    def drain(ignoreChanges: Boolean): Seq[Long] = {
      val rows = ArrayBuffer.empty[Long]
      var reader = spark.readStream.format("docstore")
      if (ignoreChanges) reader = reader.option("ignoreChanges", "true")
      val q = reader.load(dir)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          rows.synchronized { rows ++= df.collect().map(_.getLong(0)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rows.synchronized(rows.toSeq)
    }
    assert(drain(ignoreChanges = false).sorted == (0L until 100L))
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(7L)), "k")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ignoreChanges = false)
    }
    assert(ex.getMessage.contains("deletion-vector") ||
      Option(ex.getCause).exists(_.getMessage.contains("deletion-vector")))
    val reEmit = drain(ignoreChanges = true)
    assert(reEmit.nonEmpty && !reEmit.contains(7L),
      "re-masked file must re-emit WITHOUT the deleted row")
  }

  test("change data feed sees a DV delete (re-masked file enters both " +
    "diff sides); materialize after it nets to an empty feed") {
    val dir = tmp("gds_dv6")
    land(dir, 200)
    val v1 = DocStore.latestVersion(dir).get
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(11L, 150L)), "k")
    val v2 = DocStore.latestVersion(dir).get
    // a name-only manifest diff would return ((),()) here and the feed
    // would silently claim "no changes" across a delete
    val feed = DocStoreOps.changeFeed(spark, dir, v1, v2, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed == Set(("delete", 11L), ("delete", 150L)),
      s"feed must carry exactly the masked rows as deletes, got $feed")
    DocStoreOps.materializeDvs(spark, dir)
    val v3 = DocStore.latestVersion(dir).get
    assert(DocStoreOps.changeFeed(spark, dir, v2, v3, "k").isEmpty,
      "materializing an existing mask changes no row — the feed must net empty")
  }

  test("aggregate pushdown: header-only partials, flat blocksRead; " +
    "COUNT pushable under a mask, MIN/MAX refuse") {
    val dir = tmp("gds_dv5")
    land(dir, 1000)
    val df = spark.read.format("docstore").load(dir)
      .agg(count(lit(1)), min("k"), max("k"))
    assert(df.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "clean-table COUNT/MIN/MAX must push into the scan")
    DocStore.blocksRead.reset()
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1000L, 0L, 999L)))
    assert(DocStore.blocksRead.sum() == 0L,
      s"pushed aggregate must not decode blocks, read=${DocStore.blocksRead.sum()}")

    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(0L, 500L, 999L)), "k")
    val cnt = spark.read.format("docstore").load(dir).agg(count(lit(1)))
    assert(cnt.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "COUNT must stay pushed under a live mask")
    DocStore.blocksRead.reset()
    assert(cnt.collect()(0).getLong(0) == 997L)
    assert(DocStore.blocksRead.sum() == 0L)
    val mn = spark.read.format("docstore").load(dir).agg(min("k"))
    assert(!mn.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "MIN must refuse pushdown under a live mask")
    assert(mn.collect()(0).getLong(0) == 1L)
  }

  test("OCC: a DV delete landing inside a rewrite's commit window " +
    "aborts the rewrite — deletes are never silently resurrected") {
    // ADVICE r16: the rewrite read its inputs through the OLD mask; if
    // it carried on after a concurrent deleteVectors re-masked one of
    // its replaceFiles, the new files would materialize the stale mask
    // and the fresh deletes would vanish. deleteVectors already aborts
    // in the reverse order; this pins the rewrite-side direction.
    val dir = tmp("gds_dv_drift")
    land(dir, 400)
    val batch = spark.range(0, 50)
      .select(col("id").as("k"), lit(999L).as("v"))
    // the DV delete commits between the merge's read and its manifest
    // CAS — key 60 lives in the same low-range file the merge rewrites
    DocStore.commitRaceHook = Some(() =>
      DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(60L)), "k"))
    val ex = intercept[Exception] {
      try DocStoreOps.merge(spark, dir, batch, "k")
      finally DocStore.commitRaceHook = None
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException, got $ex")
    // the delete's state is intact: 60 stays deleted, merge never landed
    val fin = spark.read.format("docstore").load(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!fin.contains(60L), "the racing DV delete must survive")
    assert(!fin.values.exists(_ == 999L), "the aborted merge must not land")
    assert(fin.size == 399L)
  }

  test("stream: a brand-new stream over a table with pre-bound masks " +
    "starts WITHOUT ignoreChanges and emits masked rows") {
    // ADVICE r16: the v0=0 initial load is not a re-mask — dv0 is empty
    // by definition and every file is new to the stream; the old check
    // (dv0 != dv1 over ALL files) falsely required ignoreChanges
    val dir = tmp("gds_dv_fresh")
    val ckpt = tmp("gds_dv_fresh_ckpt")
    land(dir, 100)
    DocStoreOps.deleteVectors(spark, dir, keysDf(Seq(7L, 70L)), "k")
    val rows = ArrayBuffer.empty[Long]
    val q = spark.readStream.format("docstore").load(dir)
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.collect().map(_.getLong(0)) }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = rows.synchronized(rows.toSeq).sorted
    assert(got == (0L until 100L).filterNot(k => k == 7L || k == 70L),
      s"initial load must apply the pre-bound mask, got ${got.length} rows")
  }

  test("writeDv is idempotent: a task-retry shaped duplicate write " +
    "succeeds and the sidecar stays readable") {
    val dir = tmp("gds_dv_idem")
    val ords = Array(3L, 9L, 12L)
    DocStore.writeDv(dir, "f.gds.dv1", ords)
    DocStore.writeDv(dir, "f.gds.dv1", ords) // speculative duplicate
    assert(DocStore.readDv(new org.apache.hadoop.fs.Path(dir, "f.gds.dv1")
      .toString).toSeq == ords.toSeq)
  }
}
