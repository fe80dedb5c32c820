package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** Commit operation metadata + DESCRIBE HISTORY (r17c): every commit
  * records an `#op` name in its manifest body; `history()` reads one
  * row per retained commit from each version's own body. Pins:
  *
  *  - shape inference for plain writes (overwrite / append / rewrite)
  *    and explicit names from every maintenance op;
  *  - an explicit `operation` write option overrides inference;
  *  - commits written without an op (pre-r17c manifests) read as
  *    "unknown" rather than failing or guessing;
  *  - vacuum truncates history to the retained window (the Delta
  *    log-cleanup shape) and the survivor rows are unchanged.
  */
class DocStoreHistorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def ops(dir: String): Seq[(Long, String)] =
    DocStore.history(dir).map(ci => (ci.version, ci.operation))

  test("shape inference and explicit op names cover the lifecycle") {
    import spark.implicits._
    val dir = tmp("gds_hist_life")
    val base = (0L until 40L).map(i => (i, i * 3)).toDF("doc_id", "n")
    base.coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir) // v1
    Seq((100L, 5L)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("append").save(dir) // v2
    DocStoreOps.merge(spark, dir,
      Seq((100L, 6L), (101L, 7L)).toDF("doc_id", "n"), "doc_id") // v3
    DocStoreOps.delete(spark, dir, Seq(101L).toDF("doc_id"), "doc_id") // v4
    DocStoreOps.deleteVectors(spark, dir,
      Seq(3L).toDF("doc_id"), "doc_id") // v5
    DocStoreOps.purgeDvs(spark, dir, 0.0) // v6
    DocStoreOps.addCheck(dir, "n", 0L, 1000L) // v7
    DocStoreOps.dropCheck(dir, "n") // v8
    DocStoreOps.renameColumn(dir, "n", "m") // v9
    DocStoreOps.compact(spark, dir, 1L << 40) // v10
    DocStoreOps.zorder(spark, dir, "doc_id", "m", files = 2) // v11
    val restored = DocStoreOps.restore(dir, 2L) // v12
    assert(restored == 12L)
    assert(ops(dir) == Seq(1L -> "overwrite", 2L -> "append",
      3L -> "merge", 4L -> "delete", 5L -> "delete-dv", 6L -> "purge",
      7L -> "add-check", 8L -> "drop-check", 9L -> "rename-column",
      10L -> "compact", 11L -> "zorder", 12L -> "restore"))
    val h = DocStore.history(dir)
    assert(h.head.isDelta == false && h.tail.forall(_.isDelta))
    assert(h.forall(_.tsMillis > 0))
  }

  test("an explicit operation write option overrides inference; " +
    "op-less manifests read unknown; branch ops are named") {
    import spark.implicits._
    val dir = tmp("gds_hist_opt")
    Seq((1L, 2L)).toDF("doc_id", "n").coalesce(1)
      .write.format("docstore").mode("overwrite")
      .option("operation", "bootstrap").save(dir) // v1
    // a manifest written without an op (the pre-r17c body shape)
    val sn = DocStore.readSnapshot(dir, 1L)
    assert(DocStore.commit(dir, None)(_ => Some(sn)).contains(2L))
    // branch manifests live in the branch namespace — main history
    // sees only the publish fold
    graft.sources.DocStoreBranch.create(dir, "audit")
    val pub = graft.sources.DocStoreBranch.publish(dir, "audit") // v3
    assert(pub == 3L)
    assert(ops(dir) == Seq(1L -> "bootstrap", 2L -> "unknown",
      3L -> "publish"))
  }

  test("a malformed operation name is refused before any byte lands " +
    "(tabs/newlines would corrupt the tab-framed manifest body)") {
    import spark.implicits._
    val dir = tmp("gds_hist_badop")
    val ex = intercept[Exception] {
      Seq((1L, 2L)).toDF("doc_id", "n").coalesce(1)
        .write.format("docstore").mode("overwrite")
        .option("operation", "bad\tname").save(dir)
    }
    assert(ex.getMessage.contains("malformed operation"))
    assert(DocStore.latestVersion(dir).isEmpty, "nothing committed")
  }

  test("vacuum truncates history to the retained window; survivors " +
    "are unchanged") {
    import spark.implicits._
    val dir = tmp("gds_hist_vac")
    (1 to 5).foreach { i =>
      Seq((i.toLong, i.toLong)).toDF("doc_id", "n").coalesce(1)
        .write.format("docstore").mode("append").save(dir)
    }
    val before = ops(dir)
    assert(before.map(_._1) == (1L to 5L))
    DocStore.vacuum(dir, retainLast = 2)
    val after = ops(dir)
    assert(after == before.takeRight(2))
  }
}
