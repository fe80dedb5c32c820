package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.sources.{DocStore, DocStoreScan}

/** DataSource V2 `docstore` source (SURVEY.md §2.1): round-trip
  * fidelity, column pruning reaching the reader, full filter pushdown
  * (no residual FilterExec), stats-based block skipping, null
  * round-trip, and truncate-on-overwrite semantics.
  */
class DocStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def scanOf(df: org.apache.spark.sql.DataFrame): DocStoreScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.length === 1, "expected exactly one docstore scan")
    scans.head.asInstanceOf[DocStoreScan]
  }

  test("round-trip: documents table values survive write + read") {
    val dir = tmpDir("gds_rt")
    val src = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    src.write.format("docstore").mode("overwrite").save(dir)
    val back = spark.read.format("docstore").load(dir)
    assert(back.schema.fieldNames === src.schema.fieldNames)
    assert(back.schema.map(_.dataType) === src.schema.map(_.dataType))
    val a = src.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val b = back.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(b === a)
  }

  test("column pruning: unrequested columns never reach the scan schema") {
    val dir = tmpDir("gds_prune")
    Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text", "lang", "n_chars")
      .write.format("docstore").mode("overwrite").save(dir)
    val df = spark.read.format("docstore").load(dir).select("doc_id", "lang")
    val scan = scanOf(df)
    assert(scan.readSchema().fieldNames.toSet === Set("doc_id", "lang"),
      "text/n_chars must be pruned out of the read schema")
    assert(df.count() ===
      Tables.documents(spark, TestSpark.sf).count())
  }

  test("filter pushdown: comparison filters fully absorbed, no FilterExec") {
    val dir = tmpDir("gds_push")
    Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "lang", "n_chars")
      .write.format("docstore").mode("overwrite").save(dir)
    val df = spark.read.format("docstore").load(dir)
      .filter(col("n_chars") >= 500L && col("lang") === "en")
      .select("doc_id", "n_chars")
    val desc = scanOf(df).description()
    assert(desc.contains("GreaterThanOrEqual(n_chars,500)"), desc)
    assert(desc.contains("EqualTo(lang,en)"), desc)
    val hasFilterExec = df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.FilterExec => true
      case _ => false
    }
    assert(!hasFilterExec, "all filters pushed — no residual FilterExec")
    // cross-check against parquet ground truth
    val expect = Tables.documents(spark, TestSpark.sf)
      .filter(col("n_chars") >= 500L && col("lang") === "en").count()
    assert(df.count() === expect)
  }

  test("block skipping: sorted writes + selective range prune blocks") {
    val dir = tmpDir("gds_skip")
    // 4000 rows, sorted by k → 8 blocks of 512 with tight min/max ranges
    spark.range(4000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v"))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    DocStore.blocksRead.reset()
    DocStore.blocksSkipped.reset()
    val hit = spark.read.format("docstore").load(dir)
      .filter(col("k") >= 3900L).collect()
    assert(hit.length === 100)
    assert(hit.map(_.getLong(0)).min === 3900L)
    assert(DocStore.blocksSkipped.sum() >= 6,
      s"expected most blocks stats-pruned, skipped=${DocStore.blocksSkipped.sum()}")
    assert(DocStore.blocksRead.sum() <= 2,
      s"expected <=2 blocks decoded, read=${DocStore.blocksRead.sum()}")
  }

  test("nulls round-trip; IsNull / In evaluated in the reader") {
    val dir = tmpDir("gds_null")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("b", BooleanType)))
    val rows = Seq(
      Row(1L, "a", 1.5, true), Row(2L, null, null, null),
      Row(3L, "c", -0.5, false), Row(null, "d", 2.0, true))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      .write.format("docstore").mode("overwrite").save(dir)
    val back = spark.read.format("docstore").load(dir)
    assert(back.count() === 4)
    assert(back.filter(col("s").isNull).select("id").as[Long].collect()
      === Array(2L))
    assert(back.filter(col("id").isin(1L, 3L)).count() === 2)
    assert(back.filter(col("b") === true).count() === 2)
    val r2 = back.filter(col("id") === 2L).collect()(0)
    assert(r2.isNullAt(1) && r2.isNullAt(2) && r2.isNullAt(3))
  }

  test("overwrite truncates prior files; append adds") {
    val dir = tmpDir("gds_ow")
    val df = spark.range(10).select(col("id").as("k"))
    df.write.format("docstore").mode("overwrite").save(dir)
    df.write.format("docstore").mode("overwrite").save(dir)
    assert(spark.read.format("docstore").load(dir).count() === 10)
    df.write.format("docstore").mode("append").save(dir)
    assert(spark.read.format("docstore").load(dir).count() === 20)
  }

  test("snapshot isolation: a reader pinned before an overwrite still sees its version") {
    val dir = tmpDir("gds_snap")
    spark.range(10).select(col("id").as("k"))
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    // reader resolves (and pins) snapshot v1 — then version v2 commits
    // a full overwrite UNDER it
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    spark.range(100, 105).select(col("id").as("k"))
      .write.format("docstore").mode("overwrite").save(dir)
    assert(DocStore.latestVersion(dir).get > v1)
    // the pinned reader sees v1 exactly: the truncate deleted nothing,
    // the manifest still lists v1's files
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    // an unpinned reader sees the new snapshot only, even though BOTH
    // versions' data files are on disk (reads resolve the manifest,
    // never the directory listing)
    assert(DocStore.listDataFiles(dir).length > 1)
    assert(spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq === (100L until 105L))
  }

  test("concurrent-write isolation: a mid-commit reader sees one full snapshot, never a mix") {
    val dir = tmpDir("gds_race")
    spark.range(10).select(col("id").as("k"))
      .write.format("docstore").mode("overwrite").save(dir)
    // a committing writer becomes visible ONLY through its manifest
    // rename; simulate the pre-manifest instant: new data files
    // renamed into the directory but no manifest published yet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val alien = new org.apache.hadoop.fs.Path(dir, "part-9-999.gds")
    fs.copyFromLocalFile(
      new org.apache.hadoop.fs.Path(DocStore.listDataFiles(dir).head._1), alien)
    // the reader plans from the latest manifest: the not-yet-committed
    // file is invisible even though it matches the *.gds data pattern
    assert(spark.read.format("docstore").load(dir).count() === 10)
    fs.delete(alien, false)
  }

  test("vacuum reclaims orphans of superseded snapshots, keeps the live set") {
    val dir = tmpDir("gds_vac")
    spark.range(10).select(col("id").as("k"))
      .write.format("docstore").mode("overwrite").save(dir)
    spark.range(20, 25).select(col("id").as("k"))
      .write.format("docstore").mode("overwrite").save(dir)
    val before = DocStore.listDataFiles(dir).length
    DocStore.vacuum(dir)
    assert(DocStore.listDataFiles(dir).length < before)
    assert(DocStore.manifestVersions(dir).length === 1)
    assert(spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq === (20L until 25L))
  }

  test("vacuum retention window: pinned reads within retention keep " +
    "their files; past retention they fail loudly, never empty") {
    val dir = tmpDir("gds_vac_ret")
    def land(lo: Long, hi: Long, mode: String): Unit =
      spark.range(lo, hi).select(col("id").as("k")).coalesce(1)
        .write.format("docstore").mode(mode).save(dir)
    land(0, 10, "overwrite")   // v1
    land(10, 20, "overwrite")  // v2 (retires v1's file)
    land(20, 30, "overwrite")  // v3 (retires v2's file)
    val v3 = DocStore.latestVersion(dir).get
    DocStore.vacuum(dir, retainLast = 2)
    // within retention: v2's file survives BECAUSE the v2 manifest is
    // retained, even though the v3 head no longer references it
    assert(DocStore.manifestVersions(dir) === Seq(v3 - 1, v3))
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", (v3 - 1).toString).load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pinned === (10L until 20L),
      "pinned read within retention must see its full snapshot")
    // past retention: loud planning-time failure, not an empty result
    val ex = intercept[Exception] {
      spark.read.format("docstore")
        .option("snapshotVersion", (v3 - 2).toString).load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(t => Option(t.getMessage)
      .exists(_.contains("no snapshot version"))),
      s"expected loud no-snapshot failure, got $ex")
    // retainLast=1 reproduces the old latest-only behavior
    DocStore.vacuum(dir)
    assert(DocStore.manifestVersions(dir) === Seq(v3))
    assert(DocStore.listDataFiles(dir).length === 1)
  }

  test("delete-to-empty: a snapshot with ZERO files reads back empty " +
    "with the schema intact (manifest #schema header)") {
    // r16: zero-row tasks publish no file, so deleting every row leaves
    // an EMPTY manifest; the committing writer's schema rides in the
    // #schema header and inference falls back to it
    val dir = tmpDir("gds_empty")
    spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    sources.DocStoreOps.delete(spark, dir,
      spark.range(50).select(col("id").as("k")), "k")
    assert(DocStore.readSnapshot(dir,
      DocStore.latestVersion(dir).get).files.isEmpty, "all files retired")
    val df = spark.read.format("docstore").load(dir)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(df.count() === 0L)
    // and the table stays writable: a fresh append revives it
    spark.range(5).select(col("id").as("k"), lit(9L).as("v"))
      .coalesce(1).write.format("docstore").mode("append").save(dir)
    assert(spark.read.format("docstore").load(dir).count() === 5L)
  }

  test("parallel write: one file per partition, one input partition per file") {
    val dir = tmpDir("gds_par")
    spark.range(1000).select(col("id").as("k")).repartition(4)
      .write.format("docstore").mode("overwrite").save(dir)
    assert(DocStore.listDataFiles(dir).length === 4)
    val df = spark.read.format("docstore").load(dir)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 1000)
  }

  private def manifestNames(dir: String): Set[String] =
    DocStore.readSnapshot(dir, DocStore.latestVersion(dir).get).files
      .map { case (f, _) => new org.apache.hadoop.fs.Path(f).getName }.toSet

  test("merge: copy-on-write rewrites only key-range-affected files; " +
    "pinned reader isolated from the merge commit") {
    val dir = tmpDir("gds_merge")
    // 4 range-partitioned files with disjoint k ranges (sorted writes
    // give tight per-block stats, so file ranges are exact)
    spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    val before = manifestNames(dir)
    assert(before.size === 4)
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    // batch: two updates in the LOW key range + one insert past the end
    val batch = Seq((10L, -1L), (20L, -2L), (5000L, 55L)).toDF("k", "v")
    sources.DocStoreOps.merge(spark, dir, batch, "k")
    val after = manifestNames(dir)
    // copy-on-write granularity: the three untouched range files are
    // REUSED by the new manifest, not rewritten
    assert((before & after).size === 3,
      s"expected 3 reused files, manifest before=$before after=$after")
    val got = spark.read.format("docstore").load(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 1001)
    assert(got(10L) === -1L && got(20L) === -2L && got(5000L) === 55L)
    assert(got(11L) === 33L, "unmatched rows in a rewritten file survive")
    assert(got(999L) === 2997L, "rows in untouched files survive")
    // the reader pinned on v1 is untouched by the merge commit
    val old = pinned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(old.size === 1000 && old(10L) === 30L && !old.contains(5000L))
  }

  test("merge with no stats-matching files inserts without rewriting") {
    val dir = tmpDir("gds_merge_ins")
    spark.range(100).select(col("id").as("k"), col("id").as("v"))
      .write.format("docstore").mode("overwrite").save(dir)
    val before = manifestNames(dir)
    sources.DocStoreOps.merge(spark, dir,
      Seq((900L, 9L)).toDF("k", "v"), "k")
    assert((before -- manifestNames(dir)).isEmpty, "no base file retired")
    assert(spark.read.format("docstore").load(dir).count() === 101)
  }

  test("compact: OPTIMIZE collapses small files in one commit; " +
    "pinned reader mid-compaction isolated; rows preserved") {
    val dir = tmpDir("gds_compact")
    spark.range(2000).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartition(16)
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    assert(manifestNames(dir).size === 16)
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    val (nBefore, nAfter) = sources.DocStoreOps.compact(spark, dir, 64L * 1024)
    assert(nBefore === 16 && nAfter < nBefore,
      s"compaction must shrink the manifest ($nBefore -> $nAfter)")
    assert(manifestNames(dir).size === nAfter)
    // row multiset preserved exactly
    val back = spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(back === (0L until 2000L))
    // the pinned pre-compaction reader still sees its 16-file snapshot
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq === (0L until 2000L))
    assert(pinned.rdd.getNumPartitions === 16)
  }

  test("delete: copy-on-write removes matched keys, rewrites only " +
    "affected files; no-overlap delete set commits nothing") {
    val dir = tmpDir("gds_delete")
    spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val before = manifestNames(dir)
    sources.DocStoreOps.delete(spark, dir,
      Seq(10L, 20L).toDF("k"), "k")
    val after = manifestNames(dir)
    assert((before & after).size === 3,
      "only the one low-range file holding both keys is rewritten")
    val got = spark.read.format("docstore").load(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 998 && !got.contains(10L) && !got.contains(20L))
    assert(got(11L) === 33L, "survivors in the rewritten file intact")
    // delete set entirely outside every file's key range: no new commit
    val v = DocStore.latestVersion(dir).get
    sources.DocStoreOps.delete(spark, dir, Seq(777777L).toDF("k"), "k")
    assert(DocStore.latestVersion(dir).get === v, "no-op delete commits nothing")
  }

  test("changeFeed: manifest-diff CDF — net semantics, unchanged " +
    "co-located rows cancel, unchanged files excluded from both sides") {
    val dir = tmpDir("gds_cdf")
    spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    // v2: update k=10 (later deleted — must net to ONE delete with the
    // v1 image), update k=20, insert k=5000
    sources.DocStoreOps.merge(spark, dir,
      Seq((10L, -1L), (20L, -2L), (5000L, 55L)).toDF("k", "v"), "k")
    // v3: delete k=10 (the updated row) and k=500 (an untouched row)
    sources.DocStoreOps.delete(spark, dir, Seq(10L, 500L).toDF("k"), "k")
    val v3 = DocStore.latestVersion(dir).get
    // unchanged files are excluded from BOTH sides of the diff: the 4
    // base range files minus the ones the merge/delete rewrote
    val (removed, added) = sources.DocStoreOps.manifestDiff(dir, v1, v3)
    val unchanged = manifestNames(dir) &
      DocStore.readSnapshot(dir, v1).files
        .map { case (f, _) => new org.apache.hadoop.fs.Path(f).getName }.toSet
    assert(unchanged.nonEmpty, "some base file must survive untouched")
    assert((removed & unchanged).isEmpty && (added & unchanged).isEmpty)
    val feed = sources.DocStoreOps.changeFeed(spark, dir, v1, v3, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(feed === Set(
      ("delete", 10L, 30L),             // updated-then-deleted: v1 image
      ("delete", 500L, 1500L),
      ("update_preimage", 20L, 60L),
      ("update_postimage", 20L, -2L),
      ("insert", 5000L, 55L)),
      s"unexpected feed: $feed")        // co-located unchanged rows: none
    // self-diff is empty
    assert(sources.DocStoreOps.changeFeed(spark, dir, v3, v3, "k").count() === 0)
  }

  test("changeFeed apply-identity: feed(v1->v3) applied to the pinned " +
    "v1 snapshot reproduces v3 exactly") {
    val dir = tmpDir("gds_cdf_apply")
    spark.range(500).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    sources.DocStoreOps.merge(spark, dir,
      Seq((7L, -7L), (100L, -100L), (9000L, 9L)).toDF("k", "v"), "k")
    sources.DocStoreOps.delete(spark, dir, Seq(7L, 250L).toDF("k"), "k")
    val v3 = DocStore.latestVersion(dir).get
    val feed = sources.DocStoreOps.changeFeed(spark, dir, v1, v3, "k")
    // the downstream-sync contract: base minus (deletes + update keys)
    // plus (inserts + post-images) == the target snapshot
    val base = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    val removeKeys = feed.filter(col("change_type")
        .isin("delete", "update_preimage")).select("k")
    val addRows = feed.filter(col("change_type")
        .isin("insert", "update_postimage")).select("k", "v")
    val applied = base.join(removeKeys, Seq("k"), "left_anti")
      .unionByName(addRows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val target = spark.read.format("docstore").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(applied === target, "apply(feed, v1) must equal v3")
  }

  test("schema evolution: appended files with an added column widen the " +
    "table; old files read the column as null; stats prune on it still") {
    val dir = tmpDir("gds_evolve")
    // generation 1: (k, v)
    spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    // generation 2: (k, v, w) — the added column, appended WITHOUT
    // rewriting generation 1
    spark.range(1000, 2000).select(col("id").as("k"), (col("id") * 2).as("v"),
        (col("id") * 7).as("w"))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("docstore").mode("append").save(dir)
    val df = spark.read.format("docstore").load(dir)
    assert(df.columns.toSeq === Seq("k", "v", "w"), "merged table schema")
    // old rows: w null exactly; new rows: w populated
    assert(df.filter(col("w").isNull).count() === 1000)
    assert(df.filter(col("k") < 1000L && col("w").isNotNull).count() === 0)
    val got = df.filter(col("k") === 1500L).collect()
    assert(got.length === 1 && got(0).getLong(2) === 10500L)
    // a comparison filter on the NEW column: generation-1 blocks carry
    // no w chunk at all — the whole old file rejects via the
    // null-column fast path, and block stats prune inside gen 2
    DocStore.blocksRead.reset()
    DocStore.blocksSkipped.reset()
    val hit = df.filter(col("w") >= 13000L).collect()
    assert(hit.length === 142 && hit.map(_.getLong(0)).min === 1858L)
    assert(DocStore.blocksSkipped.sum() > 0,
      "stats must prune gen-2 blocks below the w threshold")
    // IsNull on the new column selects exactly generation 1
    assert(df.filter(col("w").isNull).agg(max("k")).collect()(0).getLong(0) === 999L)
  }

  test("zorder: OPTIMIZE ZORDER improves 2-D block skipping; rows " +
    "preserved; pinned reader mid-rewrite isolated") {
    val dir = tmpDir("gds_zorder")
    // two independent dimensions, hash-scattered across 8 files: every
    // file (and block) spans nearly the full range of BOTH dims, so a
    // selective 2-D predicate can skip almost nothing
    spark.range(16384).select(col("id").as("k"),
        ((col("id") * 2654435761L) % 16384L).as("j"))
      .repartition(8, col("id"))
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    val pinned = spark.read.format("docstore")
      .option("snapshotVersion", v1.toString).load(dir)
    def probe(): (Long, Long, Seq[(Long, Long)]) = {
      DocStore.blocksRead.reset()
      DocStore.blocksSkipped.reset()
      val rows = spark.read.format("docstore").load(dir)
        .filter(col("k") >= 1000L && col("k") < 3000L &&
          col("j") >= 1000L && col("j") < 3000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (DocStore.blocksRead.sum(), DocStore.blocksSkipped.sum(), rows)
    }
    val (readBefore, skipBefore, rowsBefore) = probe()
    sources.DocStoreOps.zorder(spark, dir, "k", "j", 8)
    val (readAfter, skipAfter, rowsAfter) = probe()
    assert(rowsAfter.sorted === rowsBefore.sorted, "row set preserved")
    assert(rowsBefore.nonEmpty, "probe must not be vacuous")
    assert(skipAfter > skipBefore && readAfter < readBefore,
      s"z-order must prune the 2-D probe: read $readBefore->$readAfter, " +
        s"skipped $skipBefore->$skipAfter")
    // full-table read-back intact (multiset by key)
    assert(spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq === (0L until 16384L))
    // the pinned pre-rewrite reader still sees its scattered snapshot
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq === (0L until 16384L))
  }

  test("time travel by timestamp: as-of resolves the floor commit, " +
    "equals the version-pinned read, and pre-history instants fail") {
    val dir = tmpDir("gds_tt")
    def land(lo: Long, hi: Long, ts: Long, mode: String): Unit =
      spark.range(lo, hi).select(col("id").as("k"))
        .write.format("docstore").mode(mode)
        .option("commitTimestamp", ts.toString).save(dir)
    land(0, 10, 5000L, "overwrite") // v1 @ t=5000
    land(10, 20, 7000L, "append")   // v2 @ t=7000
    land(20, 30, 9000L, "append")   // v3 @ t=9000
    def asOf(ts: Long): Seq[Long] =
      spark.read.format("docstore")
        .option("snapshotTimestamp", ts.toString).load(dir)
        .collect().map(_.getLong(0)).sorted.toSeq
    // floor semantics: between commits → the earlier one; exact hit →
    // that commit; far future → latest
    assert(asOf(6999L) === (0L until 10L))
    assert(asOf(7000L) === (0L until 20L))
    assert(asOf(8999L) === (0L until 20L))
    assert(asOf(Long.MaxValue) === (0L until 30L))
    // ts-resolved == version-pinned (the API halves agree)
    val byVersion = spark.read.format("docstore")
      .option("snapshotVersion", "2").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(asOf(7500L) === byVersion)
    // an instant before the first commit has no table state: loud
    val ex = intercept[Exception](asOf(4999L))
    assert(ex.getMessage.contains("no snapshot at or before"),
      s"expected loud pre-history failure, got: ${ex.getMessage}")
    // version + timestamp together is a contradiction: loud
    val ex2 = intercept[Exception] {
      spark.read.format("docstore")
        .option("snapshotVersion", "1")
        .option("snapshotTimestamp", "7000").load(dir).collect()
    }
    assert(ex2.getMessage.contains("mutually exclusive"))
  }

  test("OCC: disjoint racing commits — the loser's CAS fails, it " +
    "rebases onto the winner's snapshot, and BOTH mutations land") {
    val dir = tmpDir("gds_occ")
    // 4 range-partitioned files over ids 0..4095: file boundaries near
    // 1024/2048/3072, so a low-range merge and a high-range delete
    // touch provably disjoint files
    spark.range(0, 4096)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    val batch = spark.range(0, 100)
      .select(col("id").as("k"), lit(999L).as("v"))
    val delKeys = spark.range(4000, 4096).select(col("id").as("k"))
    // the delete commits inside the merge-commit's CAS window: the
    // merge reads latest=v_base, the delete publishes v_base+1 under
    // it, the merge's casVersion(v_base+1) LOSES, and the retry
    // rebases onto the delete's manifest
    DocStore.commitRaceHook = Some(() =>
      sources.DocStoreOps.delete(spark, dir, delKeys, "k"))
    try sources.DocStoreOps.merge(spark, dir, batch, "k")
    finally DocStore.commitRaceHook = None
    // two commits landed on top of v1
    assert(DocStore.latestVersion(dir).get === v1 + 2,
      "both the delete and the rebased merge must have committed")
    val fin = spark.read.format("docstore").load(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.size === 4000, "delete landed: 96 high keys gone")
    assert((4000L until 4096L).forall(k => !fin.contains(k)))
    assert((0L until 100L).forall(k => fin(k) === 999L),
      "merge landed: low keys updated despite losing the race")
    assert(fin(2000L) === 0L, "untouched rows intact")
  }

  test("OCC: overlapping racing commits abort LOUDLY and leave the " +
    "winner's state + no orphan files from the loser") {
    val dir = tmpDir("gds_occ_conflict")
    spark.range(0, 2048)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    // both writers rewrite the SAME low-range file: the winner (hook)
    // updates k<50 to 111, the loser tries k<100 -> 222 from the stale
    // base and must abort — blindly rebasing would resurrect the
    // winner's pre-image rows
    val winner = spark.range(0, 50).select(col("id").as("k"), lit(111L).as("v"))
    val loser = spark.range(0, 100).select(col("id").as("k"), lit(222L).as("v"))
    DocStore.commitRaceHook = Some(() =>
      sources.DocStoreOps.merge(spark, dir, winner, "k"))
    val ex = intercept[Exception] {
      try sources.DocStoreOps.merge(spark, dir, loser, "k")
      finally DocStore.commitRaceHook = None
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException in the cause chain, got $ex")
    // final state is exactly the winner's commit
    val fin = spark.read.format("docstore").load(dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.size === 2048)
    assert((0L until 50L).forall(k => fin(k) === 111L), "winner intact")
    assert(!fin.values.exists(_ === 222L), "no loser rows leaked")
    // the loser's data files were cleaned up: everything on disk is
    // referenced by SOME manifest (the base snapshot's retired file
    // legitimately stays for pinned readers until vacuum) — nothing
    // from the loser's aborted rewrite remains
    val referenced = DocStore.manifestVersions(dir).flatMap { v =>
      DocStore.readSnapshot(dir, v).files.map { case (f, _) =>
        new org.apache.hadoop.fs.Path(f).getName
      }
    }.toSet
    val onDisk = DocStore.listDataFiles(dir)
      .map { case (f, _) => new org.apache.hadoop.fs.Path(f).getName }.toSet
    assert(onDisk === referenced,
      s"loser's aborted commit left orphan files: ${onDisk -- referenced}")
  }

  test("OCC: pure appends racing a rewrite always rebase and land") {
    val dir = tmpDir("gds_occ_append")
    spark.range(0, 1024)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    // a compaction-style rewrite commits under a racing plain append;
    // the append retires nothing, so it can never conflict
    DocStore.commitRaceHook = Some(() => {
      sources.DocStoreOps.compact(spark, dir, 1L << 20)
      ()
    })
    try spark.range(5000, 5010).select(col("id").as("k"), lit(7L).as("v"))
      .write.format("docstore").mode("append").save(dir)
    finally DocStore.commitRaceHook = None
    val ks = spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks === ((0L until 1024L) ++ (5000L until 5010L)),
      "append must land on top of the racing compaction")
  }

  test("OCC serializable upgrade: racing MERGEs inserting the SAME new " +
    "key touch disjoint files yet the loser aborts on key-domain overlap") {
    // VERDICT r15 #7: the WriteSerializable hole — key 5000 exists in
    // no file, so both merges are pure appends (replaceFiles empty, no
    // file conflict) and both would land a row for 5000. The #keydomain
    // manifest header closes it: the loser sees the winner's
    // overlapping domain on the same column and aborts.
    val dir = tmpDir("gds_occ_keydom")
    spark.range(0, 1024)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val winner = spark.range(5000, 5001)
      .select(col("id").as("k"), lit(111L).as("v"))
    val loser = spark.range(5000, 5001)
      .select(col("id").as("k"), lit(222L).as("v"))
    DocStore.commitRaceHook = Some(() =>
      sources.DocStoreOps.merge(spark, dir, winner, "k"))
    val ex = intercept[Exception] {
      try sources.DocStoreOps.merge(spark, dir, loser, "k")
      finally DocStore.commitRaceHook = None
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException, got $ex")
    val rows = spark.read.format("docstore").load(dir)
      .filter(col("k") === 5000L).collect()
    assert(rows.length === 1, s"exactly one 5000-row, got ${rows.length}")
    assert(rows(0).getLong(1) === 111L, "the winner's row survives")
    // and NON-overlapping key domains still both land (liveness): a
    // merge of a disjoint new key rebases right past the winner's domain
    val other = spark.range(9000, 9001)
      .select(col("id").as("k"), lit(333L).as("v"))
    DocStore.commitRaceHook = Some(() =>
      sources.DocStoreOps.merge(spark, dir,
        spark.range(7000, 7001).select(col("id").as("k"), lit(444L).as("v")),
        "k"))
    try sources.DocStoreOps.merge(spark, dir, other, "k")
    finally DocStore.commitRaceHook = None
    val fin = spark.read.format("docstore").load(dir)
      .filter(col("k") >= 7000L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin === Map(7000L -> 444L, 9000L -> 333L),
      "disjoint-domain racing merges must BOTH land")
  }

  test("format magic: GDS1-era files stay readable; a foreign magic " +
    "fails loudly instead of desyncing on unknown stat tags") {
    // ADVICE r15 #3: tag-3 string stats now ship under GDS2 so a
    // pre-tag-3 reader rejects new files loudly. Back-compat is byte-
    // real: flip a written file's magic to GDS1 and it must still read
    // (this reader handles tag-3 under either magic).
    val dir = tmpDir("gds_magic")
    spark.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    val f = DocStore.listDataFiles(dir).head._1
    val p = java.nio.file.Paths.get(new java.net.URI(f).getPath)
    // drop Hadoop's local-FS checksum sidecar: the byte patch below is
    // a deliberate out-of-band edit, not data corruption under test
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve("." + p.getFileName.toString + ".crc"))
    val bytes = java.nio.file.Files.readAllBytes(p)
    assert(bytes(3) === '2'.toByte, "writer must stamp GDS2")
    bytes(3) = '1'.toByte // GDS2 -> GDS1
    java.nio.file.Files.write(p, bytes)
    val back = spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted
    assert(back.toSeq === (0L until 100L), "GDS1 file must read cleanly")
    bytes(3) = 'X'.toByte
    java.nio.file.Files.write(p, bytes)
    val ex = intercept[Exception] {
      spark.read.format("docstore").load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("not a GDS file"))),
      s"foreign magic must fail loudly, got $ex")
  }

  test("restore: metadata-only rollback — no data file touched, head " +
    "equals the restored snapshot, undone version stays pinnable") {
    val dir = tmpDir("gds_restore")
    spark.range(0, 1024)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    val batch = spark.range(0, 100).filter(col("id") % 7 === 0)
      .select(col("id").as("k"), lit(99L).as("v"))
    sources.DocStoreOps.merge(spark, dir, batch, "k")
    val v2 = DocStore.latestVersion(dir).get
    val filesBefore = DocStore.listDataFiles(dir).map(_._1).toSet
    val v3 = sources.DocStoreOps.restore(dir, v1)
    assert(v3 === v2 + 1, "restore commits a NEW head version")
    assert(DocStore.listDataFiles(dir).map(_._1).toSet === filesBefore,
      "restore is metadata-only: no data file created or deleted")
    assert(manifestNames(dir) ===
      DocStore.readSnapshot(dir, v1).files.map { case (f, _) =>
        new org.apache.hadoop.fs.Path(f).getName
      }.toSet, "head manifest equals the restored snapshot's file list")
    // head reads the pre-merge state
    val head = spark.read.format("docstore").load(dir)
      .filter(col("k") % 7 === 0 && col("k") < 100)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(head === (0 to 9).map(_.toLong).toSet,
      "restored head serves the v1 values (k % 10), not the merge's 99s")
    assert(!head.contains(99L))
    // undone v2 remains pinnable until vacuum
    val undone = spark.read.format("docstore")
      .option("snapshotVersion", v2.toString).load(dir)
      .filter(col("k") === 0L).select("v").collect().map(_.getLong(0)).toSeq
    assert(undone === Seq(99L), "history preserved: v2 still pinnable")
  }

  test("restore then vacuum: undone files reclaimed, pinned read of a " +
    "vacuumed version fails loudly, head intact") {
    val dir = tmpDir("gds_restore_vac")
    spark.range(0, 512)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    val v1 = DocStore.latestVersion(dir).get
    sources.DocStoreOps.merge(spark, dir,
      spark.range(0, 50).select(col("id").as("k"), lit(99L).as("v")), "k")
    val v2 = DocStore.latestVersion(dir).get
    sources.DocStoreOps.restore(dir, v1)
    val liveBefore = manifestNames(dir)
    DocStore.vacuum(dir)
    assert(DocStore.listDataFiles(dir).map { case (f, _) =>
      new org.apache.hadoop.fs.Path(f).getName
    }.toSet === liveBefore, "vacuum keeps exactly the live set")
    assert(DocStore.manifestVersions(dir).length === 1,
      "older manifests dropped")
    intercept[Exception] {
      spark.read.format("docstore")
        .option("snapshotVersion", v2.toString).load(dir).collect()
    }
    val head = spark.read.format("docstore").load(dir)
    assert(head.count() === 512L)
    assert(head.filter(col("v") === 99L).count() === 0L,
      "head still serves the restored (pre-merge) state after vacuum")
  }
}
