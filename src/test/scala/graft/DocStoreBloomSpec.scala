package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** Per-file Bloom pruning (q_docstore_prune_bloom, SURVEY.md §2.31):
  * the physics the table-derived oracle cannot observe — files are
  * actually SKIPPED at planning (the counter), no probe ever loses a
  * row (zero false negatives, brute-forced over every id), string
  * columns prune too, and copy-on-write rewrites re-declare the index
  * instead of silently dropping it.
  */
class DocStoreBloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** 8 hash-clustered files over k=0..799: every file's k range spans
    * the whole domain, so min/max stats can never prune — only the
    * Bloom can.
    */
  private def land(dir: String, bloomCols: String): Unit =
    spark.range(800)
      .select(col("id").as("k"), (col("id") % 5).cast("string").as("tag"),
        (col("id") * 7).as("v"))
      .repartition(8, col("tag"))
      .write.format("docstore").mode("overwrite")
      .option("bloomCols", bloomCols)
      .save(dir)

  test("equality probe skips files; zero false negatives over EVERY id") {
    val dir = tmp("gds_bloom")
    land(dir, "k")
    // one present probe: some files pruned, the row found
    DocStore.filesBloomSkipped.reset()
    val hit = spark.read.format("docstore").load(dir)
      .filter(col("k") === 123L).collect()
    assert(hit.length == 1 && hit(0).getLong(2) == 123L * 7)
    assert(DocStore.filesBloomSkipped.sum() > 0,
      "a selective equality probe must skip at least one file")
    // a guaranteed-absent probe: typically everything pruned, never an error
    val miss = spark.read.format("docstore").load(dir)
      .filter(col("k") === 100000L).collect()
    assert(miss.isEmpty)
    // zero false negatives: EVERY id must survive its own point probe.
    // One IN-probe per 25-id stripe keeps this brute force fast while
    // still touching every value through the Bloom path.
    (0L until 800L by 25).foreach { lo =>
      val ids = (lo until math.min(lo + 25, 800L)).toSeq
      val got = spark.read.format("docstore").load(dir)
        .filter(col("k").isin(ids: _*)).collect().map(_.getLong(0)).sorted
      assert(got.toSeq == ids, s"false negative in stripe $lo")
    }
  }

  test("string-column Bloom prunes equality probes exactly") {
    val dir = tmp("gds_bloom_str")
    land(dir, "tag")
    DocStore.filesBloomSkipped.reset()
    val got = spark.read.format("docstore").load(dir)
      .filter(col("tag") === "3").collect()
    assert(got.length == 160)
    assert(got.forall(_.getLong(0) % 5 == 3))
    assert(DocStore.filesBloomSkipped.sum() > 0,
      "tag lives in few files; the rest must prune")
  }

  test("copy-on-write rewrites re-declare bloomed columns; the index " +
    "survives merge + compact and stays exact") {
    val dir = tmp("gds_bloom_rw")
    land(dir, "k")
    val batch = spark.range(100, 120)
      .select(col("id").as("k"), lit("9").as("tag"), lit(0L).as("v"))
    DocStoreOps.merge(spark, dir, batch, "k")
    DocStoreOps.compact(spark, dir, 1L << 20)
    val v = DocStore.latestVersion(dir).get
    val blooms = DocStore.readSnapshot(dir, v).blooms
    assert(blooms.nonEmpty && blooms.keys.forall(_._2 == "k"),
      "rewrites must carry the Bloom index forward on their own output")
    // post-rewrite: the index still answers exactly
    val got = spark.read.format("docstore").load(dir)
      .filter(col("k") === 110L).collect()
    assert(got.length == 1 && got(0).getString(1) == "9")
    // every manifest-listed file has a binding (full coverage after
    // compact collapses to few files)
    val names = DocStore.readSnapshot(dir, v).files
      .map { case (f, _) => new org.apache.hadoop.fs.Path(f).getName }.toSet
    assert(blooms.keys.map(_._1).toSet == names,
      "every live file must carry its Bloom after the rewrite chain")
  }

  test("a reader without Bloom bindings never prunes (absent index = " +
    "may-contain), and non-equality filters ignore the index") {
    val dir = tmp("gds_bloom_none")
    spark.range(100).select(col("id").as("k"), lit("x").as("tag"),
        col("id").as("v"))
      .repartition(4, col("tag"))
      .write.format("docstore").mode("overwrite").save(dir) // no bloomCols
    DocStore.filesBloomSkipped.reset()
    assert(spark.read.format("docstore").load(dir)
      .filter(col("k") === 50L).count() == 1)
    assert(DocStore.filesBloomSkipped.sum() == 0)
    // range predicates never consult the Bloom even when one exists
    val dir2 = tmp("gds_bloom_rng")
    land(dir2, "k")
    DocStore.filesBloomSkipped.reset()
    assert(spark.read.format("docstore").load(dir2)
      .filter(col("k") >= 790L).count() == 10)
    assert(DocStore.filesBloomSkipped.sum() == 0,
      "range filters must not file-prune through the Bloom")
  }
}
