package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.util.Det._

/** DataSource V2 `docstore` scan (SURVEY.md §2.1) — the custom
  * columnar source with pushdown, exercised end-to-end under the
  * oracle gate.
  */
object DocStoreQueries {

  private val scanDocstore = QueryDef(
    "q_scan_docstore",
    "Custom DataSource V2 columnar scan: write the documents table " +
      "into the `docstore` format (one .gds file per task, 512-row " +
      "blocks with per-column min/max stats), read it back with a " +
      "selective predicate and a narrow projection. The n_chars " +
      "filter is absorbed by the reader (block stats skip + row eval, " +
      "no residual Filter node) and the text column is never decoded " +
      "— the 100 TB story is reading less, driven through Spark's " +
      "connector API so Catalyst plans it. The oracle runs the same " +
      "predicate against the SOURCE parquet table, so a lossy or " +
      "mangling docstore write/read fails the hash compare against " +
      "ground truth. Dir keyed by sf name like q_scan_jsonl.",
    Some("""SELECT doc_id, lang, source, n_chars
           |FROM documents
           |WHERE n_chars >= 300
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      // eager side effect at construction: materialize the docstore dir
      // (sorted by the filter column so block stats have tight ranges)
      val outDir = s"/root/repo/target/docstore_scan/${new java.io.File(d).getName}"
      documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartition(4, col("doc_id"))
        .sortWithinPartitions("n_chars")
        .write.format("docstore").mode("overwrite").save(outDir)
      s.read.format("docstore").load(outDir)
        .filter(col("n_chars") >= 300L)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }
  )

  private val scanDocstoreSnapshot = QueryDef(
    "q_scan_docstore_snapshot",
    "Snapshot-isolated (time-travel) read of the docstore DSv2 " +
      "source: version 1 (even doc_ids) is written, version 2 (odd " +
      "doc_ids) truncate-overwrites it, and the query reads BOTH — " +
      "the pinned snapshotVersion=1 read proving the old snapshot " +
      "survives the overwrite commit intact (Iceberg/Delta manifest " +
      "semantics) and the unpinned read resolving the new one; per " +
      "(snapshot, lang) doc counts and exact char sums. The oracle " +
      "recomputes both projections from the SOURCE parquet, so a " +
      "manifest that leaks, mixes, or drops files fails the hash.",
    Some("""WITH v1 AS (SELECT lang, count(*) AS n_docs,
           |                   sum(n_chars) AS sum_chars
           |            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
           |v2 AS (SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
           |       FROM documents WHERE doc_id % 2 = 1 GROUP BY 1)
           |SELECT CAST(1 AS BIGINT) AS snapshot, lang,
           |       CAST(n_docs AS BIGINT) AS n_docs,
           |       CAST(sum_chars AS BIGINT) AS sum_chars FROM v1
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, CAST(n_docs AS BIGINT),
           |       CAST(sum_chars AS BIGINT) FROM v2
           |ORDER BY snapshot, lang""".stripMargin),
    (s, d) => {
      // eager side effect at construction (q_scan_docstore precedent):
      // a FRESH table dir per run so the two snapshots are always
      // versions 1 and 2 — deterministic under repeated bench passes
      val outDir = s"/root/repo/target/docstore_snap/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("docstore").mode("overwrite").save(outDir)
      val v1 = graft.sources.DocStore.latestVersion(outDir).get
      docs.filter(col("doc_id") % 2 === 1)
        .write.format("docstore").mode("overwrite").save(outDir)
      def rollup(df: org.apache.spark.sql.DataFrame, snap: Long) =
        df.groupBy(col("lang"))
          .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
          .select(lit(snap).as("snapshot"), col("lang"), col("n_docs"),
            col("sum_chars"))
      val pinned = s.read.format("docstore")
        .option("snapshotVersion", v1.toString).load(outDir)
      val latest = s.read.format("docstore").load(outDir)
      rollup(pinned, 1L).unionAll(rollup(latest, 2L))
        .orderBy("snapshot", "lang")
    }
  )

  private val docstoreMerge = QueryDef(
    "q_docstore_merge",
    "Row-level MERGE (copy-on-write upsert) on the docstore DSv2 " +
      "source — the Iceberg/Delta `MERGE INTO` primitive the snapshot " +
      "seam was built for: an upsert batch (updates to doc_id%7==0 " +
      "below 1000, inserts at doc_id+1000000 for doc_id%13==0 below " +
      "1000) is applied by rewriting ONLY the data files whose " +
      "block-stat key range intersects the batch (base files are " +
      "range-partitioned on doc_id so pruning has teeth), and the new " +
      "files + retired files commit in ONE atomic manifest rename " +
      "(`replaceFiles`). The query reads BOTH snapshots — the pinned " +
      "pre-merge version proving reader isolation under the mutation, " +
      "the latest proving the merge semantics — as per-lang counts + " +
      "exact char sums. SCALE: driver work is file-count-sized " +
      "(broadcast file-range table joined against the distributed " +
      "batch; block-header metadata only); the rewrite is a " +
      "distributed anti-join + union over O(affected files), not " +
      "O(corpus) — the daily-ingest shape at 100 TB. Oracle " +
      "recomputes both states from the source parquet.",
    Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           |ups AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM base
           |        WHERE doc_id % 7 = 0 AND doc_id < 1000
           |        UNION ALL
           |        SELECT doc_id + 1000000, lang, doc_id % 997 FROM base
           |        WHERE doc_id % 13 = 0 AND doc_id < 1000),
           |merged AS (SELECT * FROM base
           |           WHERE doc_id NOT IN (SELECT doc_id FROM ups)
           |           UNION ALL SELECT * FROM ups)
           |SELECT CAST(1 AS BIGINT) AS snapshot, lang,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM base GROUP BY lang
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, CAST(count(*) AS BIGINT),
           |       CAST(sum(n_chars) AS BIGINT)
           |FROM merged GROUP BY lang
           |ORDER BY snapshot, lang""".stripMargin),
    (s, d) => {
      // fresh table per run (q_scan_docstore_snapshot precedent) so the
      // pre-merge snapshot is always version 1
      val outDir = s"/root/repo/target/docstore_merge/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      // range-partitioned base: files carry disjoint doc_id ranges, so
      // the merge's block-stat pruning rewrites only the low-range files
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val v1 = graft.sources.DocStore.latestVersion(outDir).get
      val batch = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs
          .filter(col("doc_id") % 13 === 0 && col("doc_id") < 1000)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            (col("doc_id") % 997).as("n_chars")))
      graft.sources.DocStoreOps.merge(s, outDir, batch, "doc_id")
      def rollup(df: org.apache.spark.sql.DataFrame, snap: Long) =
        df.groupBy(col("lang"))
          .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
          .select(lit(snap).as("snapshot"), col("lang"), col("n_docs"),
            col("sum_chars"))
      val pinned = s.read.format("docstore")
        .option("snapshotVersion", v1.toString).load(outDir)
      val latest = s.read.format("docstore").load(outDir)
      rollup(pinned, 1L).unionAll(rollup(latest, 2L))
        .orderBy("snapshot", "lang")
    }
  )

  private val docstoreCompact = QueryDef(
    "q_docstore_compact",
    "Execute the small-file compaction q_compaction_plan only PLANS: " +
      "the documents table lands as 32 task-sized .gds files (the " +
      "streaming-ingest landing-zone shape), then DocStoreOps.compact " +
      "bin-packs every file under the 64 KiB target into " +
      "ceil(bytes/target) rewritten files and retires the originals " +
      "in ONE atomic manifest commit (`replaceFiles`) — the OPTIMIZE " +
      "job every lakehouse runs, with readers pinned on the old " +
      "snapshot untouched mid-compaction (DocStoreSpec). The query " +
      "reads the compacted table back in full, so ANY row lost, " +
      "duplicated, or mangled by the rewrite fails the hash against " +
      "the source-parquet oracle; the file-count collapse and " +
      "concurrent-reader isolation are spec-pinned (they are not " +
      "SQL-observable).",
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_compact/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(32, col("doc_id"))
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.compact(s, outDir, 64L * 1024)
      s.read.format("docstore").load(outDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }
  )

  private val docstoreCdf = QueryDef(
    "q_docstore_cdf",
    "Change data feed (Delta CDF / Iceberg changelog) on the docstore " +
      "DSv2 source: the row-level NET diff between snapshot v1 (base " +
      "write) and v3 (after a MERGE upsert batch at v2 and a DELETE " +
      "takedown batch at v3), computed from the MANIFEST diff — only " +
      "files removed or added between the versions are read, files in " +
      "both manifests are never scanned, and rows co-located in a " +
      "rewritten file but themselves unchanged cancel in the full-row " +
      "comparison. NET semantics: a row updated at v2 then deleted at " +
      "v3 appears as ONE delete carrying its v1 image. Output = " +
      "(change_type, doc_id, lang, n_chars) for change_type in " +
      "insert/delete/update_preimage/update_postimage. SCALE: " +
      "O(changed files) read + one key-partitioned full-outer join of " +
      "the changed-row sides — the downstream-sync primitive that " +
      "lets a 100 TB consumer refresh from O(daily churn), not " +
      "O(corpus). Oracle recomputes the net diff from source parquet.",
    Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           |del AS (SELECT 'delete' AS change_type, doc_id, lang, n_chars
           |        FROM base WHERE doc_id % 13 = 0 AND doc_id < 1000),
           |upd AS (SELECT doc_id, lang, n_chars FROM base
           |        WHERE doc_id % 7 = 0 AND doc_id < 1000 AND doc_id % 13 <> 0),
           |pre AS (SELECT 'update_preimage' AS change_type, doc_id, lang,
           |               n_chars FROM upd),
           |post AS (SELECT 'update_postimage' AS change_type, doc_id, lang,
           |               n_chars + 1000 AS n_chars FROM upd),
           |ins AS (SELECT 'insert' AS change_type, doc_id + 2000000 AS doc_id,
           |               lang, doc_id % 997 AS n_chars FROM base
           |        WHERE doc_id % 11 = 0 AND doc_id < 1000)
           |SELECT change_type, CAST(doc_id AS BIGINT) AS doc_id, lang,
           |       CAST(n_chars AS BIGINT) AS n_chars
           |FROM (SELECT * FROM del UNION ALL SELECT * FROM pre
           |      UNION ALL SELECT * FROM post UNION ALL SELECT * FROM ins)
           |ORDER BY change_type, doc_id""".stripMargin),
    (s, d) => {
      // fresh table per run so versions are always 1 (base), 2 (merge),
      // 3 (delete) — deterministic under repeated bench passes
      val outDir = s"/root/repo/target/docstore_cdf/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val v1 = graft.sources.DocStore.latestVersion(outDir).get
      val batch = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs
          .filter(col("doc_id") % 11 === 0 && col("doc_id") < 1000)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
            (col("doc_id") % 997).as("n_chars")))
      graft.sources.DocStoreOps.merge(s, outDir, batch, "doc_id")
      graft.sources.DocStoreOps.delete(s, outDir,
        docs.filter(col("doc_id") % 13 === 0 && col("doc_id") < 1000)
          .select(col("doc_id")), "doc_id")
      val v3 = graft.sources.DocStore.latestVersion(outDir).get
      graft.sources.DocStoreOps.changeFeed(s, outDir, v1, v3, "doc_id")
        .select(col("change_type"), lng(col("doc_id")).as("doc_id"),
          col("lang"), lng(col("n_chars")).as("n_chars"))
        .orderBy("change_type", "doc_id")
    }
  )

  private val docstoreZorder = QueryDef(
    "q_docstore_zorder",
    "Execute OPTIMIZE ZORDER BY (doc_id, n_chars) on the docstore " +
      "DSv2 source: the documents table lands hash-scattered (16 " +
      "files, no dimension clustered), then DocStoreOps.zorder " +
      "rewrites the WHOLE table range-partitioned + sorted on the " +
      "Morton interleave of the two min/max-quantized dimensions in " +
      "ONE atomic full-manifest replacement — q_zorder computes the " +
      "clustering readout, this executes it against the store. The " +
      "query reads the clustered table back through a 2-D range " +
      "predicate (doc_id < 2000 AND n_chars in [100, 300]), so any " +
      "row lost, duplicated or mangled by the rewrite fails the " +
      "source-parquet hash; the block-skip improvement (the point of " +
      "the layout) and mid-rewrite reader isolation are spec-pinned " +
      "in DocStoreSpec — they are not SQL-observable.",
    Some("""SELECT doc_id, lang, n_chars FROM documents
           |WHERE doc_id < 2000 AND n_chars >= 100 AND n_chars <= 300
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_zorder/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(16, col("doc_id"))
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.zorder(s, outDir, "doc_id", "n_chars", 16)
      s.read.format("docstore").load(outDir)
        .filter(col("doc_id") < 2000L && col("n_chars") >= 100L &&
          col("n_chars") <= 300L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }
  )

  private val docstoreStream = QueryDef(
    "q_docstore_stream",
    "Streaming read of the docstore commit log (the Delta streaming-" +
      "source shape): the documents table lands in THREE append " +
      "commits (doc_id mod 3 slices), a readStream tail drains them " +
      "AvailableNow through foreachBatch into a parquet landing zone " +
      "(the stream-to-table shape — no driver-sized collect), and the " +
      "landed rows roll up per lang. The manifest version IS the " +
      "offset; each micro-batch plans exactly the files ADDED between " +
      "two versions, so the drained union must equal the full table — " +
      "which the source-parquet oracle recomputes. Restart-from-" +
      "checkpoint, non-append rejection and ignoreChanges re-emission " +
      "are DocStoreStreamSpec's (not SQL-observable).",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val sfTag = new java.io.File(d).getName
      val outDir = s"/root/repo/target/docstore_stream/$sfTag"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val tableDir = s"$outDir/table"
      val stage = s"$outDir/landed"
      val ckpt = s"$outDir/ckpt"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.format("docstore").mode("overwrite").save(tableDir)
      docs.filter(col("doc_id") % 3 === 1)
        .write.format("docstore").mode("append").save(tableDir)
      docs.filter(col("doc_id") % 3 === 2)
        .write.format("docstore").mode("append").save(tableDir)
      val q = s.readStream.format("docstore").load(tableDir)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(stage)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(stage)
        .groupBy(col("lang"))
        .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }
  )

  private val docstoreEvolve = QueryDef(
    "q_docstore_evolve",
    "Schema evolution on the docstore DSv2 source itself — the " +
      "parquet-mergeSchema twin (q_schema_evolution) brought to the " +
      "store: generation 1 (even doc_ids) lands as (doc_id, lang), " +
      "generation 2 (odd doc_ids) APPENDS as (doc_id, n_chars, " +
      "source) without rewriting generation 1; every .gds file is " +
      "self-describing, the table schema is the by-name union of the " +
      "live files' schemas (absent-anywhere columns forced nullable " +
      "so Catalyst cannot constant-fold IS NULL on them), and old " +
      "files read added columns as null. Output pins the merge " +
      "contract per generation: counts, which columns are null in " +
      "which generation, surviving exact sums. Block stats still " +
      "prune on added columns inside the generation that carries " +
      "them; filters on a column a file lacks reject or pass the " +
      "whole file through one null evaluation (spec-pinned).",
    Some("""WITH g1 AS (SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
           |            FROM documents WHERE doc_id % 2 = 0),
           |g2 AS (SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, n_chars
           |       FROM documents WHERE doc_id % 2 = 1)
           |SELECT doc_id % 2 AS gen, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
           |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nchars_nulls,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_nchars,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_docid
           |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
           |GROUP BY 1 ORDER BY gen""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_evolve/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.format("docstore").mode("overwrite").save(outDir)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("source"))
        .write.format("docstore").mode("append").save(outDir)
      s.read.format("docstore").load(outDir)
        .groupBy((col("doc_id") % 2).as("gen"))
        .agg(lng(count(lit(1))).as("n"),
          lng(sum(when(col("lang").isNull, 1L).otherwise(0L))).as("lang_nulls"),
          lng(sum(when(col("n_chars").isNull, 1L).otherwise(0L))).as("nchars_nulls"),
          lng(sum(col("n_chars"))).as("sum_nchars"),
          lng(sum(col("doc_id"))).as("sum_docid"))
        .orderBy("gen")
    }
  )

  private val docstoreConcurrent = QueryDef(
    "q_docstore_concurrent",
    "Optimistic-concurrency commit on the docstore DSv2 source (the " +
      "Delta/Iceberg commit protocol — VERDICT r14's last lakehouse " +
      "primitive): two mutations race on one table — a MERGE updating " +
      "the LOW doc_id eighth and a DELETE taking down part of the HIGH " +
      "eighth — interleaved deterministically via the commit-race seam " +
      "so the merge reads its base snapshot, the delete commits UNDER " +
      "it, the merge's version-CAS genuinely fails, and the merge " +
      "rebases onto the delete's snapshot and recommits. Because the " +
      "two commits rewrite disjoint files (the base is range-" +
      "partitioned on doc_id), the rebase is safe and BOTH mutations " +
      "land — the final state equals the sequential application, which " +
      "is exactly what the oracle recomputes from the source parquet. " +
      "Overlapping-file races abort loudly instead (spec-pinned in " +
      "DocStoreSpec; not SQL-observable). A THIRD race then exercises " +
      "the r16 Serializable upgrade: two merges insert the SAME brand-" +
      "new doc_id (max+1) — pure appends touching disjoint files, so " +
      "file-level conflict detection alone would land a duplicate key; " +
      "the #keydomain manifest header makes the loser abort on domain " +
      "overlap, and the documented rerun-against-the-new-snapshot then " +
      "serializes it AFTER the winner (an upsert), so the final state " +
      "is the sequential application the oracle recomputes. SCALE: " +
      "conflict detection is manifest-sized (file names + one key " +
      "range per commit), the retry re-runs only the commit, never " +
      "the rewrite job — the nightly-OPTIMIZE-vs-ingest-MERGE race at " +
      "100 TB resolves without coordination.",
    Some("""WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
           |base AS (SELECT doc_id, lang, n_chars FROM documents),
           |ups AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM base, b
           |        WHERE doc_id % 7 = 0 AND doc_id <= mn + (mx - mn) // 8),
           |dels AS (SELECT doc_id FROM base, b
           |         WHERE doc_id % 13 = 0 AND doc_id >= mx - (mx - mn) // 8),
           |fin AS (SELECT * FROM base
           |        WHERE doc_id NOT IN (SELECT doc_id FROM ups)
           |          AND doc_id NOT IN (SELECT doc_id FROM dels)
           |        UNION ALL SELECT * FROM ups
           |        -- the key-overlap race serializes to: winner's insert
           |        -- (n_chars 111) then the rerun loser's upsert (222)
           |        UNION ALL SELECT mx + 1, 'zz', 222 FROM b)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_conc/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      // data-derived disjoint key ranges: the merge touches the bottom
      // eighth of the id space, the delete the top eighth — with an
      // 8-file range partitioning the two can never share a data file,
      // so the OCC rebase path (not the abort path) is the one in play
      val b = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
      val mn = b.getLong(0); val mx = b.getLong(1)
      val aLim = mn + (mx - mn) / 8
      val bLim = mx - (mx - mn) / 8
      val batch = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") <= aLim)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("n_chars"))
      val delKeys = docs
        .filter(col("doc_id") % 13 === 0 && col("doc_id") >= bLim)
        .select(col("doc_id"))
      // deterministic interleave: the DELETE commits inside the narrow
      // window between the MERGE's snapshot read and its manifest CAS
      graft.sources.DocStore.commitRaceHook = Some(() =>
        graft.sources.DocStoreOps.delete(s, outDir, delKeys, "doc_id"))
      try graft.sources.DocStoreOps.merge(s, outDir, batch, "doc_id")
      finally graft.sources.DocStore.commitRaceHook = None
      // key-overlap race (r16 Serializable upgrade): both merges insert
      // the SAME brand-new key mx+1 — disjoint files, so only the
      // #keydomain overlap check can refuse the duplicate; the loser
      // aborts and its rerun serializes after the winner as an upsert
      def kv(v: Long) = s.range(1).select(lit(mx + 1).as("doc_id"),
        lit("zz").as("lang"), lit(v).as("n_chars"))
      graft.sources.DocStore.commitRaceHook = Some(() =>
        graft.sources.DocStoreOps.merge(s, outDir, kv(111L), "doc_id"))
      try graft.sources.DocStoreOps.merge(s, outDir, kv(222L), "doc_id")
      catch {
        case e: Throwable
            if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
              .exists(_.isInstanceOf[java.util.ConcurrentModificationException]) =>
          graft.sources.DocStore.commitRaceHook = None
          graft.sources.DocStoreOps.merge(s, outDir, kv(222L), "doc_id")
      }
      finally graft.sources.DocStore.commitRaceHook = None
      s.read.format("docstore").load(outDir)
        .groupBy(col("lang"))
        .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }
  )

  private val docstoreTimetravel = QueryDef(
    "q_docstore_timetravel",
    "Time travel BY TIMESTAMP on the docstore DSv2 source — the other " +
      "half of the Delta/Iceberg time-travel API next to the pinned " +
      "snapshotVersion read (q_scan_docstore_snapshot): every commit " +
      "embeds its timestamp in the manifest header (`#ts`, the " +
      "in-commit-timestamp shape — immune to FS mtime loss on " +
      "copy/restore), and a snapshotTimestamp read resolves to the " +
      "LATEST commit at or before the asked-for instant. Three append " +
      "commits land at pinned timestamps 1e6/2e6/3e6 ms (doc_id mod 3 " +
      "slices); the query reads the table as-of 2.5e6 — resolving the " +
      "second commit, so exactly slices 0 and 1 — and as-of 9e6 — " +
      "resolving the third, the full table. An instant before the " +
      "first commit fails loudly (spec-pinned, not SQL-observable). " +
      "Oracle recomputes both as-of states from the source parquet.",
    Some("""WITH s2 AS (SELECT lang, n_chars FROM documents WHERE doc_id % 3 < 2),
           |s3 AS (SELECT lang, n_chars FROM documents)
           |SELECT CAST(1 AS BIGINT) AS as_of, lang,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM s2 GROUP BY lang
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, CAST(count(*) AS BIGINT),
           |       CAST(sum(n_chars) AS BIGINT)
           |FROM s3 GROUP BY lang
           |ORDER BY as_of, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_tt/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      def land(slice: Int, ts: Long, mode: String): Unit =
        docs.filter(col("doc_id") % 3 === slice)
          .write.format("docstore").mode(mode)
          .option("commitTimestamp", ts.toString).save(outDir)
      land(0, 1000000L, "overwrite")
      land(1, 2000000L, "append")
      land(2, 3000000L, "append")
      def rollup(asOfMs: Long, tag: Long) =
        s.read.format("docstore")
          .option("snapshotTimestamp", asOfMs.toString).load(outDir)
          .groupBy(col("lang"))
          .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
          .select(lit(tag).as("as_of"), col("lang"), col("n_docs"),
            col("sum_chars"))
      rollup(2500000L, 1L).unionAll(rollup(9000000L, 2L))
        .orderBy("as_of", "lang")
    }
  )

  private val docstoreRestore = QueryDef(
    "q_docstore_restore",
    "RESTORE TABLE TO VERSION on the docstore DSv2 source — the " +
      "rollback half of the time-travel story (pinned reads inspect " +
      "history; restore makes an old state the LIVE one): the base " +
      "table lands at v1, a MERGE upsert mutates it at v2, and " +
      "DocStoreOps.restore re-publishes v1's manifest as v3 — a " +
      "METADATA-ONLY commit (no data file read, written, or deleted; " +
      "one manifest CAS), so rolling back a bad ingest at 100 TB is " +
      "O(1) in corpus size. The query reads the restored head (== the " +
      "base state) AND the still-pinnable undone v2 (history is " +
      "preserved until vacuum) — both recomputed by the oracle from " +
      "source parquet. That no .gds file is touched by the restore " +
      "commit is spec-pinned (not SQL-observable).",
    Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           |ups AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM base
           |        WHERE doc_id % 7 = 0 AND doc_id < 1000),
           |merged AS (SELECT * FROM base
           |           WHERE doc_id NOT IN (SELECT doc_id FROM ups)
           |           UNION ALL SELECT * FROM ups)
           |SELECT CAST(1 AS BIGINT) AS state, lang,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM base GROUP BY lang
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, CAST(count(*) AS BIGINT),
           |       CAST(sum(n_chars) AS BIGINT)
           |FROM merged GROUP BY lang
           |ORDER BY state, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_restore/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val v1 = graft.sources.DocStore.latestVersion(outDir).get
      val batch = docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000)
        .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("n_chars"))
      graft.sources.DocStoreOps.merge(s, outDir, batch, "doc_id")
      val v2 = graft.sources.DocStore.latestVersion(outDir).get
      graft.sources.DocStoreOps.restore(outDir, v1)
      def rollup(df: org.apache.spark.sql.DataFrame, tag: Long) =
        df.groupBy(col("lang"))
          .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"),
            col("sum_chars"))
      val restored = s.read.format("docstore").load(outDir)
      val undone = s.read.format("docstore")
        .option("snapshotVersion", v2.toString).load(outDir)
      rollup(restored, 1L).unionAll(rollup(undone, 2L))
        .orderBy("state", "lang")
    }
  )

  private val docstoreVacuum = QueryDef(
    "q_docstore_vacuum",
    "VACUUM on the docstore DSv2 source — the retention end of the " +
      "lakehouse lifecycle (every copy-on-write mutation strands the " +
      "files it retires; something must reclaim them): the base table " +
      "lands range-partitioned at v1, a DELETE takedown batch rewrites " +
      "the affected files at v2, and DocStore.vacuum physically " +
      "deletes every data file the LATEST manifest no longer " +
      "references plus all older manifests. The query reads the " +
      "surviving table back in FULL, so a vacuum that deletes a LIVE " +
      "file (the catastrophic failure mode) fails the source-parquet " +
      "hash loudly. That retired files are physically gone, old " +
      "manifests dropped, and a pinned v1 read now fails loudly is " +
      "spec-pinned (not SQL-observable). SCALE: vacuum is a listing + " +
      "set-difference against one manifest — file-count-sized driver " +
      "work, zero data reads.",
    Some("""SELECT doc_id, lang, n_chars FROM documents
           |WHERE NOT (doc_id % 13 = 0 AND doc_id < 1000)
           |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_vacuum/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.delete(s, outDir,
        docs.filter(col("doc_id") % 13 === 0 && col("doc_id") < 1000)
          .select(col("doc_id")), "doc_id")
      graft.sources.DocStore.vacuum(outDir)
      s.read.format("docstore").load(outDir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }
  )

  private val docstoreDv = QueryDef(
    "q_docstore_dv",
    "Merge-on-read DELETE via deletion vectors (the Delta DV / " +
      "Iceberg v2 positional-delete shape): two takedown batches " +
      "(doc_id % 11 = 0, then doc_id % 7 = 3) each commit per-file " +
      "SIDECARS of deleted row ordinals bound by manifest #dv headers " +
      "— ZERO data files rewritten (spec-pinned), overlapping files' " +
      "vectors MERGED; readers subtract the mask at scan time. Phase " +
      "1 reads the masked table; materializeDvs then folds every mask " +
      "into a survivors-only rewrite of only the masked files, and " +
      "phase 2 re-reads — identical values, proving the mask and its " +
      "materialization agree. SCALE: a takedown writes O(deleted " +
      "ordinals), not O(affected-file bytes) — the write-amplification " +
      "fix for small deletes against huge files.",
    Some("""WITH surv AS (SELECT doc_id, lang, n_chars FROM documents
           |              WHERE NOT (doc_id % 11 = 0) AND NOT (doc_id % 7 = 3)),
           |r AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |      FROM surv GROUP BY lang)
           |SELECT CAST(1 AS BIGINT) AS phase, lang, n_docs, sum_chars FROM r
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, n_docs, sum_chars FROM r
           |ORDER BY phase, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_dv/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.deleteVectors(s, outDir,
        docs.filter(col("doc_id") % 11 === 0).select(col("doc_id")), "doc_id")
      graft.sources.DocStoreOps.deleteVectors(s, outDir,
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
      def rollup(tag: Long) = s.read.format("docstore").load(outDir)
        .groupBy(col("lang"))
        .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
        .select(lit(tag).as("phase"), col("lang"), col("n_docs"),
          col("sum_chars"))
      val masked = rollup(1L).localCheckpoint()
      graft.sources.DocStoreOps.materializeDvs(s, outDir)
      masked.unionAll(rollup(2L)).orderBy("phase", "lang")
    }
  )

  private val docstoreCount = QueryDef(
    "q_docstore_count",
    "Metadata-only aggregates on the docstore DSv2 source (the " +
      "Iceberg/Delta count-from-manifests shape): ungrouped COUNT / " +
      "MIN / MAX push into the scan as one partial row PER FILE " +
      "computed from block headers and deletion-vector sidecar counts " +
      "— no column chunk decoded (spec pins PushedAggregates in the " +
      "plan and a flat blocksRead counter). State 1 aggregates the " +
      "clean table; state 2 re-counts after a merge-on-read DELETE " +
      "(doc_id % 9 = 1) — counts stay pushable under masks because " +
      "sidecar headers carry exact counts, while MIN/MAX correctly " +
      "refuse pushdown when a mask is live (a masked row could hold " +
      "the extremum).",
    Some("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |                  CAST(min(doc_id) AS BIGINT) AS min_id,
           |                  CAST(max(doc_id) AS BIGINT) AS max_id
           |           FROM documents),
           |d AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
           |      WHERE NOT (doc_id % 9 = 1))
           |SELECT CAST(1 AS BIGINT) AS state, n_rows, min_id, max_id FROM m
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), n_rows, CAST(NULL AS BIGINT),
           |       CAST(NULL AS BIGINT) FROM d
           |ORDER BY state""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_cnt/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val clean = s.read.format("docstore").load(outDir)
        .agg(lng(count(lit(1))).as("n_rows"), lng(min("doc_id")).as("min_id"),
          lng(max("doc_id")).as("max_id"))
        .select(lit(1L).as("state"), col("n_rows"), col("min_id"),
          col("max_id"))
        .localCheckpoint()
      graft.sources.DocStoreOps.deleteVectors(s, outDir,
        docs.filter(col("doc_id") % 9 === 1).select(col("doc_id")), "doc_id")
      val masked = s.read.format("docstore").load(outDir)
        .agg(lng(count(lit(1))).as("n_rows"))
        .select(lit(2L).as("state"), col("n_rows"),
          lit(null).cast("bigint").as("min_id"),
          lit(null).cast("bigint").as("max_id"))
      clean.unionAll(masked).orderBy("state")
    }
  )

  private val docstoreIncrView = QueryDef(
    "q_docstore_incr_view",
    "Incremental view maintenance from the change data feed: a " +
      "per-lang (count, char-sum) rollup materialized at v1 is " +
      "REFRESHED to the v3 state by applying only the CDF deltas " +
      "(insert/update_postimage add, delete/update_preimage subtract " +
      "— exact signed aggregation over O(churn) rows) after a MERGE " +
      "upsert (v2) and a DELETE takedown (v3) mutate the store. The " +
      "oracle recomputes the v3 rollup directly from source parquet, " +
      "so the hash match proves incremental refresh == full " +
      "recompute. SCALE: the view refresh reads O(changed files), " +
      "never the corpus — the downstream-materialization story the " +
      "CDF exists for.",
    Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           |ups AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM base
           |        WHERE doc_id % 7 = 0 AND doc_id < 1000),
           |merged AS (SELECT * FROM base
           |           WHERE doc_id NOT IN (SELECT doc_id FROM ups)
           |           UNION ALL SELECT * FROM ups),
           |fin AS (SELECT * FROM merged WHERE NOT (doc_id % 13 = 0 AND doc_id < 1300))
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM fin GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_ivm/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val v1 = graft.sources.DocStore.latestVersion(outDir).get
      graft.sources.DocStoreOps.merge(s, outDir,
        docs.filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars")), "doc_id")
      graft.sources.DocStoreOps.delete(s, outDir,
        docs.filter(col("doc_id") % 13 === 0 && col("doc_id") < 1300)
          .select(col("doc_id")), "doc_id")
      val v3 = graft.sources.DocStore.latestVersion(outDir).get
      // the materialized view, as of v1 (pinned read)
      val view1 = s.read.format("docstore")
        .option("snapshotVersion", v1.toString).load(outDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n1"), lng(sum("n_chars")).as("s1"))
      // signed CDF deltas — O(churn) rows
      val feed = graft.sources.DocStoreOps.changeFeed(s, outDir, v1, v3, "doc_id")
      val deltas = feed
        .withColumn("sign",
          when(col("change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("lang")
        .agg(lng(sum(col("sign"))).as("dn"),
          lng(sum(col("sign") * col("n_chars"))).as("ds"))
      view1.join(deltas, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
          (coalesce(col("s1"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .orderBy("lang")
    }
  )

  private val docstorePruneString = QueryDef(
    "q_docstore_prune_string",
    "STRING-predicate block skipping on the docstore DSv2 source: " +
      "the documents table lands clustered by (lang, doc_id), so each " +
      "512-row block carries a tight tag-3 string stat — the unsigned " +
      "min/max of the packed 8-byte UTF-8 prefix — and a `lang = " +
      "'de'` / IN-list scan prunes every other lang's blocks without " +
      "decoding them (spec pins blocksSkipped rising; prefix-to-" +
      "prefix comparison makes the pruning sound with no collation " +
      "assumption). Equality and IN are exactly the corpus-slicing " +
      "predicates a 100 TB scan lives on; the oracle recomputes both " +
      "rollups from source parquet, so a block wrongly skipped (the " +
      "catastrophic direction) fails the hash.",
    Some("""WITH de AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |            FROM documents WHERE lang = 'de' GROUP BY lang),
           |pair AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |         FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang)
           |SELECT lang, CAST(c AS BIGINT) AS n_docs,
           |       CAST(sc AS BIGINT) AS sum_chars
           |FROM (SELECT * FROM de UNION ALL SELECT * FROM pair)
           |ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_strp/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("lang"), col("doc_id"))
        .sortWithinPartitions("lang", "doc_id")
        .write.format("docstore").mode("overwrite").save(outDir)
      val t = s.read.format("docstore").load(outDir)
      def roll(df: org.apache.spark.sql.DataFrame) = df.groupBy("lang")
        .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
      roll(t.filter(col("lang") === "de"))
        .unionAll(roll(t.filter(col("lang").isin("en", "fr"))))
        .orderBy("lang")
    }
  )

  private val docstorePruneBloom = QueryDef(
    "q_docstore_prune_bloom",
    "File-level Bloom pruning for equality point-lookups on the " +
      "docstore DSv2 source (VERDICT r15 #5 — the index min/max and " +
      "prefix stats cannot be: a doc_id probe against a table NOT " +
      "clustered by doc_id overlaps every file's id range, so range " +
      "stats prune nothing; this is the CDC / GDPR-takedown access " +
      "pattern). Writers declaring bloomCols get a per-(file, column) " +
      "k-hash Bloom (8192 bits x 6 hashes, Kirsch-Mitzenmacher double " +
      "hashing) recorded in the MANIFEST, and the scan PLANNER drops " +
      "whole files the probe provably cannot be in — driver-side, " +
      "zero file opens. The table lands hash-clustered by lang (id " +
      "ranges fully overlapping by construction), and the query point-" +
      "probes four data-derived doc_ids plus one guaranteed-absent id " +
      "(max+1): the absent probe exercises the all-files-pruned path " +
      "(empty result, not an error). False positives only cost a scan; " +
      "false negatives are impossible (spec brute-forces ALL ids); " +
      "rewrites re-declare bloomed columns so maintenance never drops " +
      "the index (spec-pinned). SCALE: 1 KiB of manifest bits per " +
      "(file, column) turns a 100 TB full-scan point lookup into " +
      "O(matching files) — the Iceberg/Delta bloom-index shape.",
    Some("""WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
           |probes AS (SELECT mn + (mx - mn) // 3 * k AS pid
           |           FROM b, (SELECT unnest(ARRAY[0,1,2,3]) AS k)
           |           UNION ALL SELECT mx + 1 FROM b)
           |SELECT d.doc_id, d.lang, d.n_chars
           |FROM documents d JOIN probes p ON d.doc_id = p.pid
           |ORDER BY d.doc_id""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_bloom/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(8, col("lang"))
        .write.format("docstore").mode("overwrite")
        .option("bloomCols", "doc_id")
        .save(outDir)
      val b = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
      val mn = b.getLong(0); val mx = b.getLong(1)
      val probes = (0L to 3L).map(k => mn + (mx - mn) / 3 * k) :+ (mx + 1)
      s.read.format("docstore").load(outDir)
        .filter(col("doc_id").isin(probes: _*))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }
  )

  private val docstoreRetention = QueryDef(
    "q_docstore_retention",
    "VACUUM retention window vs pinned readers (VERDICT r15 #6 — the " +
      "read-after-free race at 100 TB: a vacuum reclaiming a file a " +
      "pinned time-travel read still resolves kills that read mid-" +
      "scan): DocStore.vacuum(retainLast=N) keeps the last N manifests " +
      "AND every data file / DV sidecar any of them references, so " +
      "pinned reads within the window never lose files; past the " +
      "window the manifest itself is gone and the read fails LOUDLY " +
      "at planning, never as an empty result (spec-pinned). The table " +
      "lands at v1, two takedown DELETEs rewrite it at v2 and v3, " +
      "vacuum retains 2 — and the query reads BOTH the pinned v2 " +
      "state (whose files only the retained v2 manifest still " +
      "references) and the v3 head, each rolled up by lang. A vacuum " +
      "that over-reclaims (the old latest-only behavior) fails this " +
      "key loudly at the pinned read. SCALE: retention is versions on " +
      "the commit clock (Delta's deletedFileRetentionDuration trade); " +
      "vacuum stays file-count-sized driver work.",
    Some("""WITH s2 AS (SELECT lang, n_chars FROM documents
           |            WHERE NOT (doc_id % 5 = 0)),
           |s3 AS (SELECT lang, n_chars FROM documents
           |       WHERE NOT (doc_id % 5 = 0) AND NOT (doc_id % 7 = 0))
           |SELECT CAST(1 AS BIGINT) AS state, lang,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM s2 GROUP BY lang
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), lang, CAST(count(*) AS BIGINT),
           |       CAST(sum(n_chars) AS BIGINT)
           |FROM s3 GROUP BY lang
           |ORDER BY state, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_ret/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(outDir) // v1
      graft.sources.DocStoreOps.delete(s, outDir,
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")),
        "doc_id") // v2
      graft.sources.DocStoreOps.delete(s, outDir,
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id") // v3
      graft.sources.DocStore.vacuum(outDir, retainLast = 2)
      val head = graft.sources.DocStore.latestVersion(outDir).get
      def roll(df: org.apache.spark.sql.DataFrame, tag: Long) =
        df.groupBy("lang")
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"))
          .select(lit(tag).as("state"), col("lang"), col("n_docs"),
            col("sum_chars"))
      val pinned = s.read.format("docstore")
        .option("snapshotVersion", (head - 1).toString).load(outDir)
      val latest = s.read.format("docstore").load(outDir)
      roll(pinned, 1L).unionAll(roll(latest, 2L)).orderBy("state", "lang")
    }
  )

  private val docstoreManifest = QueryDef(
    "q_docstore_manifest",
    "Checkpoint + delta-tail manifests (VERDICT r16 #1 — the r16 " +
      "store rewrote a FULL snapshot listing on every commit and " +
      "re-parsed it on every plan, O(table file count) text per " +
      "commit at 1M files; the exact reason Delta has checkpoints + " +
      "a log tail): 25 commits land (1 base + 24 single-file " +
      "appends), and per version the query reports the manifest " +
      "SHAPE — is_delta (every v>1 body is a delta against its " +
      "parent), n_adds/n_removes (each append = exactly ONE add " +
      "line, zero removes, however big the table is), files_total " +
      "(the folded reconstruction = v files), has_ckpt (full " +
      "checkpoints land exactly at CheckpointInterval=8 multiples), " +
      "and rows_total (exact row count of every historical fold, " +
      "from block headers of the folded file list — proving each " +
      "reconstruction serves reads; the FULL-read equivalence is " +
      "every other q_docstore_* key's job). The oracle states all of " +
      "it in closed form from the mod-21 slicing. SCALE: a commit " +
      "writes O(its own changes), a plan reads one checkpoint + <=7 " +
      "delta bodies; per-commit manifest bytes are FLAT in table " +
      "size (DocStoreManifestSpec pins bytes(v24) <= bytes(v2)+8 " +
      "while the table grew 12x, plus vacuum's floor-checkpoint " +
      "anchor). The wall time is 21 sequential tiny COMMIT JOBS — " +
      "fixed scheduler overhead that amortizes at real corpus size " +
      "(the q_ann_hnsw fixed-round precedent).",
    Some("""WITH v AS (SELECT unnest(generate_series(1, 21)) AS version)
           |SELECT CAST(version AS BIGINT) AS version,
           |       CAST(CASE WHEN version > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_delta,
           |       CAST(1 AS BIGINT) AS n_adds,
           |       CAST(0 AS BIGINT) AS n_removes,
           |       CAST(version AS BIGINT) AS files_total,
           |       CAST(CASE WHEN version % 8 = 0 THEN 1 ELSE 0 END AS BIGINT) AS has_ckpt,
           |       (SELECT CAST(count(*) AS BIGINT) FROM documents
           |        WHERE doc_id % 21 < version) AS rows_total
           |FROM v ORDER BY version""".stripMargin),
    (s, d) => {
      import s.implicits._
      val outDir = s"/root/repo/target/docstore_manifest/${new java.io.File(d).getName}"
      val hPath = new org.apache.hadoop.fs.Path(outDir)
      val hfs = hPath.getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(hPath, true)
      // persist the source once: 21 slice-writes off one cached scan,
      // so the timed cost is the COMMITS, not 21 parquet re-reads
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars")).persist()
      try {
        docs.filter(col("doc_id") % 21 === 0).coalesce(1)
          .write.format("docstore").mode("overwrite").save(outDir)
        (1 to 20).foreach { k =>
          docs.filter(col("doc_id") % 21 === k).coalesce(1)
            .write.format("docstore").mode("append").save(outDir)
        }
      } finally docs.unpersist()
      // driver-side manifest-shape readout: file-count-sized text per
      // version (the thing this key exists to bound), 21 versions;
      // rows_total folds block-header counts of each version's
      // reconstructed file list (files are shared across versions, so
      // each of the 21 data files is header-read ONCE)
      def bodyOf(v: Long): String = {
        val in = hfs.open(
          new org.apache.hadoop.fs.Path(outDir, f"_manifest-v$v%08d"))
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          new String(bos.toByteArray, "UTF-8")
        } finally in.close()
      }
      val rowsOfFile = scala.collection.mutable.Map.empty[String, Long]
      val rows = (1L to 21L).map { v =>
        val b = bodyOf(v)
        val isDelta = b.linesIterator.exists(_.startsWith("#delta\t"))
        val adds =
          if (isDelta) b.linesIterator.count(_.startsWith("+\t"))
          else b.linesIterator.count(l => l.nonEmpty && !l.startsWith("#"))
        val removes = b.linesIterator.count(_.startsWith("-\t"))
        val snap = graft.sources.DocStore.readSnapshot(outDir, v)
        val ckpt = hfs.exists(
          new org.apache.hadoop.fs.Path(outDir, f"_checkpoint-v$v%08d"))
        val rowsTotal = snap.files.map { case (f, _) =>
          rowsOfFile.getOrElseUpdate(f,
            graft.sources.DocStore.fileHeaderAgg(f)._1)
        }.sum
        (v, if (isDelta) 1L else 0L, adds.toLong, removes.toLong,
          snap.files.size.toLong, if (ckpt) 1L else 0L, rowsTotal)
      }
      rows.toDF("version", "is_delta", "n_adds", "n_removes",
        "files_total", "has_ckpt", "rows_total")
        .orderBy("version")
    }
  )

  private val docstorePartition = QueryDef(
    "q_docstore_partition",
    "Identity partitioning + partition pruning on the docstore DSv2 " +
      "source (VERDICT r16 #4 — getTable previously DROPPED the " +
      "partitioning transform; file-stat/Bloom pruning was the only " +
      "gate): the documents table lands with partitionCols=lang — " +
      "each write task routes rows to ONE file per lang, and the " +
      "manifest records the tuple per file (#part lines — the " +
      "ICEBERG partition-values-as-metadata shape, deliberately not " +
      "Hive directory prefixes: pruning never lists or parses paths, " +
      "and object stores have no directories). The planner drops " +
      "non-matching files BEFORE any file stats or Blooms — and " +
      "serves RANGE and IN predicates, not just the equality-shaped " +
      "Bloom subset. Three probes: lang='de', lang IN ('en','fr'), " +
      "lang > 'es' — per-lang counts + exact char sums, recomputed " +
      "by the oracle from source parquet (a file wrongly pruned " +
      "fails the hash). Planned-file counts, null tuples, Bloom " +
      "composition and rewrite re-declaration are spec-pinned " +
      "(DocStorePartitionSpec). SCALE: the partition gate is a " +
      "manifest-metadata filter — at 100 TB a lang='de' scan plans " +
      "O(de files) with ZERO file opens spent deciding.",
    Some("""WITH de AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |            FROM documents WHERE lang = 'de' GROUP BY lang),
           |pair AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |         FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang),
           |rng AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |        FROM documents WHERE lang > 'es' GROUP BY lang)
           |SELECT probe, lang, CAST(c AS BIGINT) AS n_docs,
           |       CAST(sc AS BIGINT) AS sum_chars
           |FROM (SELECT CAST(1 AS BIGINT) AS probe, * FROM de
           |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM pair
           |      UNION ALL SELECT CAST(3 AS BIGINT), * FROM rng)
           |ORDER BY probe, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_part/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(4, col("doc_id"))
        .write.format("docstore").mode("overwrite")
        .option("partitionCols", "lang")
        .save(outDir)
      val t = s.read.format("docstore").load(outDir)
      def roll(df: org.apache.spark.sql.DataFrame, probe: Long) =
        df.groupBy("lang")
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"))
          .select(lit(probe).as("probe"), col("lang"), col("n_docs"),
            col("sum_chars"))
      roll(t.filter(col("lang") === "de"), 1L)
        .unionAll(roll(t.filter(col("lang").isin("en", "fr")), 2L))
        .unionAll(roll(t.filter(col("lang") > "es"), 3L))
        .orderBy("probe", "lang")
    }
  )

  private val docstoreStreamSink = QueryDef(
    "q_docstore_stream_sink",
    "Streaming SINK into the docstore (VERDICT r16 #2 — the read side " +
      "tailed commits since r14, but writeStream could not target the " +
      "format, so a streaming pipeline had to land files and batch-" +
      "merge): the documents table lands in THREE append commits in a " +
      "SOURCE docstore table, a readStream tail drains them " +
      "AvailableNow and writeStream lands them in a SINK docstore " +
      "table — stream-in to stream-out through the same manifest CAS " +
      "every batch writer uses, so stream ingest, batch MERGEs and " +
      "CDF consumers serialize on one commit clock. Each epoch " +
      "commits with a folded #stream high-water mark per queryId; a " +
      "replayed epoch DISCARDS its files instead of double-" +
      "publishing (exactly-once — spec-pinned in " +
      "DocStoreStreamSinkSpec, with the epoch-vs-merge OCC race). " +
      "The sink table rolls up per lang; the oracle recomputes from " +
      "source parquet, so a row dropped or doubled anywhere in " +
      "stream-in -> stream-out fails the hash.",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val sfTag = new java.io.File(d).getName
      val outDir = s"/root/repo/target/docstore_sink/$sfTag"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val srcDir = s"$outDir/src"
      val sinkDir = s"$outDir/sink"
      val ckpt = s"$outDir/ckpt"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.format("docstore").mode("overwrite").save(srcDir)
      docs.filter(col("doc_id") % 3 === 1)
        .write.format("docstore").mode("append").save(srcDir)
      docs.filter(col("doc_id") % 3 === 2)
        .write.format("docstore").mode("append").save(srcDir)
      s.readStream.format("docstore").load(srcDir)
        .writeStream.format("docstore")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.format("docstore").load(sinkDir)
        .groupBy(col("lang"))
        .agg(lng(count(lit(1))).as("n_docs"), lng(sum("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }
  )

  /** Branch refs + write–audit–publish (r17 wave 2): the isolation
    * pattern a production ingest actually runs — land the day's
    * commits on a BRANCH, audit them there (contamination / dedup /
    * PII gates), and PUBLISH atomically so main's readers go from
    * "none of it" to "all of it" in one commit
    * ([[graft.sources.DocStoreBranch]] — Iceberg branch refs adapted
    * to linear manifests; create is one O(1) empty delta, data files
    * shared, publish rebases past main-side commits through the same
    * OCC CAS every writer uses). The key proves the full WAP
    * lifecycle ON THE HASH: base land → fork → branch append + main
    * append racing → audit-read the branch → publish → three views
    * (branch, pre-publish main pin, post-publish main) each rolled up
    * and recomputed by the oracle from source parquet. A row leaking
    * across the fork in either direction, or the publish dropping /
    * double-counting a slice, fails the hash. DocStoreBranchSpec pins
    * the race/conflict semantics (branch-chain OCC, retired-file and
    * DV-remask publish aborts, vacuum treating branch tips as
    * retention roots, fork-base time travel, loud refusals).
    */
  private val docstoreBranch = QueryDef(
    "q_docstore_branch",
    "Branch refs + write-audit-publish on the docstore: base commit " +
      "(doc_id%3=0), branch fork, branch append (doc_id%3=1) racing " +
      "a main-side append (doc_id%3=2), then publish - the branch " +
      "audit view, the pre-publish main pin and the post-publish " +
      "main each rolled up per lang; the oracle recomputes all three " +
      "slices from source parquet, so any isolation leak or publish " +
      "error fails the hash.",
    Some("""WITH b AS (SELECT lang, count(*) AS n_docs,
           |                  sum(n_chars) AS sum_chars
           |           FROM documents WHERE doc_id % 3 IN (0, 1) GROUP BY 1),
           |pre AS (SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
           |        FROM documents WHERE doc_id % 3 IN (0, 2) GROUP BY 1),
           |post AS (SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
           |         FROM documents GROUP BY 1)
           |SELECT 'branch' AS vw, lang, CAST(n_docs AS BIGINT) AS n_docs,
           |       CAST(sum_chars AS BIGINT) AS sum_chars FROM b
           |UNION ALL
           |SELECT 'main_post', lang, CAST(n_docs AS BIGINT),
           |       CAST(sum_chars AS BIGINT) FROM post
           |UNION ALL
           |SELECT 'main_pre', lang, CAST(n_docs AS BIGINT),
           |       CAST(sum_chars AS BIGINT) FROM pre
           |ORDER BY vw, lang""".stripMargin),
    (s, d) => {
      // fresh table dir per run (q_scan_docstore_snapshot precedent)
      val outDir =
        s"/root/repo/target/docstore_branch/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreBranch.create(outDir, "wap")
      docs.filter(col("doc_id") % 3 === 1)
        .write.format("docstore").mode("append")
        .option("branch", "wap").save(outDir)
      docs.filter(col("doc_id") % 3 === 2)
        .write.format("docstore").mode("append").save(outDir)
      val preV = graft.sources.DocStore.latestVersion(outDir).get
      graft.sources.DocStoreBranch.publish(outDir, "wap")
      def rollup(df: org.apache.spark.sql.DataFrame, vw: String) =
        df.groupBy(col("lang"))
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"))
          .select(lit(vw).as("vw"), col("lang"), col("n_docs"),
            col("sum_chars"))
      val branchView = s.read.format("docstore")
        .option("branch", "wap").load(outDir)
      val mainPre = s.read.format("docstore")
        .option("snapshotVersion", preV.toString).load(outDir)
      val mainPost = s.read.format("docstore").load(outDir)
      rollup(branchView, "branch")
        .unionAll(rollup(mainPost, "main_post"))
        .unionAll(rollup(mainPre, "main_pre"))
        .orderBy("vw", "lang")
    }
  )

  /** Column mapping (r17 wave 2): RENAME and DROP as METADATA-ONLY
    * commits — the Delta column-mapping feature brought to the store.
    * Files keep their written (physical) column names forever; the
    * manifest's cumulative `#colmap` lines translate physical →
    * logical at read planning, so a rename touches zero data files
    * and a drop is a rename onto a version-stamped hidden name that
    * readers never decode. q_docstore_evolve proved ADD; this
    * completes the schema-evolution triad. The key runs the full
    * lifecycle on the hash: gen-1 land under `lang` → RENAME lang →
    * language → gen-2 append already under `language` (two physical
    * eras, one logical column) → DROP n_chars → a filtered read
    * whose predicate on the renamed column must prune via BOTH eras'
    * metadata. DocStoreColmapSpec pins what the rollup can't see:
    * the dropped column's bytes are skipped not decoded, reserved
    * physical names refuse new writers loudly, rename/drop validate
    * against the live logical schema, time travel below the rename
    * still reads the OLD names, and partition/Bloom pruning consult
    * every physical alias.
    */
  private val docstoreColmap = QueryDef(
    "q_docstore_colmap",
    "Column mapping on the docstore: RENAME (lang -> language) and " +
      "DROP (n_chars) as metadata-only commits - files keep physical " +
      "names, the manifest's #colmap lines translate at read time, " +
      "two physical eras merge into one logical column; per-language " +
      "rollup over both eras with doc_id sums plus the post-drop " +
      "column count, all recomputed by the oracle from source parquet.",
    Some("""SELECT lang AS language, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           |       CAST(2 AS BIGINT) AS n_cols
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val outDir =
        s"/root/repo/target/docstore_colmap/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d)
      // gen 1: the OLD world writes physical `lang`
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.renameColumn(outDir, "lang", "language")
      // gen 2: the NEW world writes physical `language` — two eras,
      // one logical column
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("language"), col("n_chars"))
        .write.format("docstore").mode("append").save(outDir)
      graft.sources.DocStoreOps.dropColumn(outDir, "n_chars")
      val t = s.read.format("docstore").load(outDir)
      t.groupBy("language")
        .agg(lng(count(lit(1))).as("n_docs"),
          lng(sum("doc_id")).as("sum_doc_id"))
        .withColumn("n_cols", lit(t.schema.length.toLong))
        .orderBy("language")
    }
  )

  /** CHECK constraints (r17 wave 2): Delta's ALTER TABLE ADD
    * CONSTRAINT shape, scoped to the kind block stats can PROVE — a
    * range over a column's non-null values (SQL CHECK semantics: NULL
    * passes). Declaring validates the whole existing table from file
    * block-stat headers (no chunk decoded); thereafter EVERY commit
    * proves its own new files the same way and a violation aborts the
    * whole commit with its files cleaned up. The key runs the
    * lifecycle on the hash: land → ADD CHECK (validates existing) →
    * a passing append → a VIOLATING append runs in-query and is
    * REJECTED → rollup. If the bad batch had landed, the sums would
    * differ — rejection itself is on the hash. DocStoreConstraintSpec
    * pins add-time validation failure, the drop path, rename/drop
    * carrying constraints, and that a violating commit leaves no
    * orphan files.
    */
  private val docstoreConstraint = QueryDef(
    "q_docstore_constraint",
    "CHECK constraints on the docstore: ADD CONSTRAINT validates the " +
      "existing table from block-stat headers, every later commit " +
      "proves its own files, and an in-query VIOLATING append (" +
      "negative n_chars) is rejected whole - the per-lang rollup " +
      "(counts, char sums, min/max) equals the clean source, which " +
      "the oracle recomputes; a landed bad batch would break the hash.",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       CAST(min(n_chars) AS BIGINT) AS min_chars,
           |       CAST(max(n_chars) AS BIGINT) AS max_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val outDir =
        s"/root/repo/target/docstore_check/${new java.io.File(d).getName}"
      val fs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("docstore").mode("overwrite").save(outDir)
      graft.sources.DocStoreOps.addCheck(outDir, "n_chars", 1L, 1000000L)
      docs.filter(col("doc_id") % 2 === 1)
        .write.format("docstore").mode("append").save(outDir)
      // the violating batch: negative n_chars — the commit must abort
      // whole, leaving counts and sums exactly the clean union
      try docs.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", -col("n_chars"))
        .write.format("docstore").mode("append").save(outDir)
      catch { case _: Exception => () }
      s.read.format("docstore").load(outDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n_docs"),
          lng(sum("n_chars")).as("sum_chars"),
          lng(min("n_chars")).as("min_chars"),
          lng(max("n_chars")).as("max_chars"))
        .orderBy("lang")
    }
  )

  // -------------------------------------------- hidden partitioning (r17b)

  private val docstoreHiddenPart = QueryDef(
    "q_docstore_hidden_part",
    "HIDDEN partitioning on the docstore (Iceberg partition " +
      "transforms): the documents table lands partitioned by " +
      "bucket:8:doc_id AND trunc:1:lang - per-file tuples carry the " +
      "TRANSFORMED values under canonical spec keys, and the planner " +
      "prunes on SOURCE-column predicates by inclusive projection " +
      "(point lookups hash into one bucket; lang equality and ranges " +
      "compare truncated prefixes) with zero user knowledge of the " +
      "layout. Three probes: doc_id IN (7,42,99), lang='de', " +
      "lang>='es' - per-lang counts + exact char sums recomputed by " +
      "the oracle from source parquet (a wrongly pruned file fails " +
      "the hash).",
    Some("""WITH p1 AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |            FROM documents WHERE doc_id IN (7, 42, 99) GROUP BY lang),
           |p2 AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |       FROM documents WHERE lang = 'de' GROUP BY lang),
           |p3 AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |       FROM documents WHERE lang >= 'es' GROUP BY lang)
           |SELECT probe, lang, CAST(c AS BIGINT) AS n_docs,
           |       CAST(sc AS BIGINT) AS sum_chars
           |FROM (SELECT CAST(1 AS BIGINT) AS probe, * FROM p1
           |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM p2
           |      UNION ALL SELECT CAST(3 AS BIGINT), * FROM p3)
           |ORDER BY probe, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_hidden/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(4, col("doc_id"))
        .write.format("docstore").mode("overwrite")
        .option("partitionCols", "bucket:8:doc_id,trunc:1:lang")
        .save(outDir)
      val t = s.read.format("docstore").load(outDir)
      def roll(df: org.apache.spark.sql.DataFrame, probe: Long) =
        df.groupBy("lang")
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"))
          .select(lit(probe).as("probe"), col("lang"), col("n_docs"),
            col("sum_chars"))
      roll(t.filter(col("doc_id").isin(7L, 42L, 99L)), 1L)
        .unionAll(roll(t.filter(col("lang") === "de"), 2L))
        .unionAll(roll(t.filter(col("lang") >= "es"), 3L))
        .orderBy("probe", "lang")
    }
  )

  // ---------------------------------------------- merge + evolution (r17b)

  private val docstoreMergeEvolve = QueryDef(
    "q_docstore_merge_evolve",
    "MERGE with AUTOMATIC schema evolution (the Delta mergeSchema " +
      "shape): one merge both upserts and WIDENS the table - the " +
      "batch carries a new quality column; updated and inserted rows " +
      "carry it, survivors rewritten from affected files carry null, " +
      "untouched files stay narrow on disk and the scan's by-name " +
      "schema union serves null - evolution costs exactly what the " +
      "merge already paid, no second commit, no table-wide rewrite. " +
      "Readout: per-lang counts, exact char sums, and the " +
      "non-null-quality count + sum, all recomputed by the oracle.",
    Some("""WITH base AS (SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS q
           |              FROM documents WHERE doc_id % 7 <> 0),
           |upd AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars, doc_id % 5 AS q
           |        FROM documents WHERE doc_id % 7 = 0),
           |ins AS (SELECT doc_id + 10000000 AS doc_id, lang, n_chars, doc_id % 5 AS q
           |        FROM documents WHERE doc_id % 7 = 3),
           |t AS (SELECT * FROM base UNION ALL SELECT * FROM upd
           |      UNION ALL SELECT * FROM ins)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       CAST(count(q) AS BIGINT) AS n_quality,
           |       CAST(COALESCE(sum(q), 0) AS BIGINT) AS sum_quality
           |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_mergeevolve/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(4, col("doc_id"))
        .write.format("docstore").mode("overwrite").save(outDir)
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000).as("n_chars"),
          (col("doc_id") % 5).as("quality"))
        .unionAll(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
            col("n_chars"), (col("doc_id") % 5).as("quality")))
      graft.sources.DocStoreOps.merge(s, outDir, batch, "doc_id",
        evolveSchema = true)
      s.read.format("docstore").load(outDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n_docs"),
          lng(sum("n_chars")).as("sum_chars"),
          lng(count(col("quality"))).as("n_quality"),
          lng(coalesce(sum("quality"), lit(0L))).as("sum_quality"))
        .orderBy("lang")
    }
  )

  // ---------------------------------------- storage-partitioned join (r17c)

  private val docstoreSpj = QueryDef(
    "q_docstore_spj",
    "STORAGE-PARTITIONED JOIN on the docstore (SPARK-37375 - the DSv2 " +
      "analogue of bucketed joins): both sides land identity-" +
      "partitioned by lang, scans opt in via reportPartitioning and " +
      "publish KeyGroupedPartitioning + per-split partition keys, and " +
      "Spark joins them with ZERO shuffle exchanges end to end (the " +
      "post-join per-lang rollup is key-grouped too; " +
      "DocStoreSpjSpec pins the exchange-free plan). The fact table " +
      "joins a per-lang dim; per lang the doc count, exact char sum " +
      "and the dim's min-chars threshold, oracle-recomputed from " +
      "source parquet.",
    Some("""WITH dim AS (SELECT lang, min(n_chars) AS mc FROM documents GROUP BY lang)
           |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           |       CAST(max(dim.mc) AS BIGINT) AS min_chars
           |FROM documents d JOIN dim USING (lang)
           |GROUP BY d.lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_spj/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val dirA = s"$outDir/fact"; val dirB = s"$outDir/dim"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(4, col("doc_id"))
        .write.format("docstore").mode("overwrite")
        .option("partitionCols", "lang").save(dirA)
      docs.groupBy("lang").agg(min("n_chars").as("min_chars"))
        .coalesce(1)
        .write.format("docstore").mode("overwrite")
        .option("partitionCols", "lang").save(dirB)
      // the SPJ confs are scoped to the materialization: v2 bucketing
      // turns split-grouping on, broadcast off keeps the join a real
      // two-sided co-partitioned join instead of hiding it under a
      // broadcast of the tiny dim
      val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevV2 = s.conf
        .getOption("spark.sql.sources.v2.bucketing.enabled").getOrElse("false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val a = s.read.format("docstore")
          .option("reportPartitioning", "true").load(dirA)
        val b = s.read.format("docstore")
          .option("reportPartitioning", "true").load(dirB)
        val res = a.join(b, "lang")
          .groupBy("lang")
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"),
            lng(max("min_chars")).as("min_chars"))
          .orderBy("lang")
          .persist()
        res.count() // materialize under the scoped confs
        res
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", prevV2)
      }
    }
  )

  // ------------------------------------------------ threshold purge (r17c)

  private val docstorePurge = QueryDef(
    "q_docstore_purge",
    "Threshold REORG PURGE (Delta REORG APPLY (PURGE) restricted to " +
      "where it pays): deletion vectors fold into their data files " +
      "ONLY where the masked-row ratio crossed 30% - the de " +
      "partition (every other row masked) is rewritten survivors-" +
      "only and sheds its DVs, the lightly-masked en partition (5%) " +
      "keeps its cheap read-time mask. Density comes from two header " +
      "reads per masked file; no data scan decides anything. " +
      "Readout: per-lang rollup of the surviving rows plus two " +
      "in-query-verified guarantees (heavy files shed DVs, light " +
      "files keep them) the oracle pins TRUE.",
    Some("""WITH rem AS (SELECT * FROM documents
           |             WHERE NOT (lang = 'de' AND doc_id % 2 = 0)
           |               AND NOT (lang = 'en' AND doc_id % 20 = 2))
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       TRUE AS heavy_purged, TRUE AS light_masked
           |FROM rem GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_purge/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(2, col("doc_id"))
        .write.format("docstore").mode("overwrite")
        .option("partitionCols", "lang").save(outDir)
      val del = docs.filter(
        (col("lang") === "de" && col("doc_id") % 2 === 0) ||
          (col("lang") === "en" && col("doc_id") % 20 === 2))
        .select(col("doc_id"))
      graft.sources.DocStoreOps.deleteVectors(s, outDir, del, "doc_id")
      graft.sources.DocStoreOps.purgeDvs(s, outDir, minMaskedRatio = 0.3)
      // in-query guarantee check (the sketch-gate discipline): DVs left
      // after the purge bind only to non-de files, and some light mask
      // is actually still there
      val v = graft.sources.DocStore.latestVersion(outDir).get
      val snap = graft.sources.DocStore.readSnapshot(outDir, v)
      val dvAfter = snap.dvs
      val parts = snap.parts
      def langOf(name: String): Option[String] =
        parts.get(name).flatMap(_.collectFirst {
          case ("lang", vOpt) => vOpt
        }).flatten
      val heavyPurged = dvAfter.keys.forall(n => !langOf(n).contains("de"))
      val lightMasked = dvAfter.keys.exists(n => langOf(n).contains("en"))
      s.read.format("docstore").load(outDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n_docs"),
          lng(sum("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          lit(heavyPurged).as("heavy_purged"),
          lit(lightMasked).as("light_masked"))
        .orderBy("lang")
    }
  )

  // ------------------------------------------------ commit history (r17c)

  private val docstoreHistory = QueryDef(
    "q_docstore_history",
    "DESCRIBE HISTORY on the docstore (the Delta metadata-table " +
      "shape): every commit records its OPERATION NAME in the " +
      "manifest (#op header - explicit from maintenance ops, " +
      "inferred overwrite/rewrite/append from the commit shape " +
      "otherwise), and history() reads one row per retained commit " +
      "from each version's OWN body - no chain fold, no data-file " +
      "opens. The key scripts an 8-commit lifecycle (overwrite land, " +
      "append, DV delete, column rename, threshold purge, CHECK add, " +
      "append, compact) and emits per version the operation, body " +
      "shape, add/remove/DV-change counts and checkpoint placement - " +
      "a closed-form oracle because every count is coalesce-" +
      "controlled, corpus-size-independent plumbing.",
    Some("""SELECT * FROM (VALUES
           |  (CAST(1 AS BIGINT), 'overwrite',     false, CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(2 AS BIGINT), 'append',        true,  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(3 AS BIGINT), 'delete-dv',     true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), false),
           |  (CAST(4 AS BIGINT), 'rename-column', true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(5 AS BIGINT), 'purge',         true,  CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(6 AS BIGINT), 'add-check',     true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(7 AS BIGINT), 'append',        true,  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
           |  (CAST(8 AS BIGINT), 'compact',       true,  CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), true))
           |AS t(version, operation, is_delta, n_adds, n_removes,
           |     n_dv_changes, has_checkpoint)
           |ORDER BY version""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_history/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      import s.implicits._
      docs.coalesce(1)
        .write.format("docstore").mode("overwrite").save(outDir) // v1
      docs.select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        col("n_chars")).coalesce(1)
        .write.format("docstore").mode("append").save(outDir) // v2
      graft.sources.DocStoreOps.deleteVectors(s, outDir,
        Seq(7L, 10000007L).toDF("doc_id"), "doc_id") // v3
      graft.sources.DocStoreOps.renameColumn(outDir, "lang", "language") // v4
      graft.sources.DocStoreOps.purgeDvs(s, outDir, 0.0) // v5
      graft.sources.DocStoreOps.addCheck(outDir, "n_chars", 0L,
        1000000000L) // v6
      // post-rename appends write under the CURRENT logical name (the
      // old physical name is reserved — q_docstore_colmap contract)
      docs.select((col("doc_id") + 20000000L).as("doc_id"),
        col("lang").as("language"), col("n_chars")).coalesce(1)
        .write.format("docstore").mode("append").save(outDir) // v7
      graft.sources.DocStoreOps.compact(s, outDir, 1L << 40) // v8 (+ckpt)
      graft.sources.DocStoreOps.history(s, outDir)
        .select(col("version"), col("operation"), col("is_delta"),
          col("n_adds"), col("n_removes"), col("n_dv_changes"),
          col("has_checkpoint"))
        .orderBy("version")
    }
  )

  // -------------------------------------------------- shallow clone (r17c)

  private val docstoreClone = QueryDef(
    "q_docstore_clone",
    "SHALLOW CLONE (the Delta CREATE TABLE ... SHALLOW CLONE shape): " +
      "one metadata commit forks the documents table with ZERO data " +
      "copies - the clone's manifest references the source's files by " +
      "absolute path - then the tables DIVERGE: an append lands local " +
      "files in the clone and a MERGE rewriting a referenced source " +
      "file materializes the rewrite locally, never writing the " +
      "source. Readout: per-lang rollups of BOTH tables (probe 1 " +
      "source - unchanged; probe 2 clone - diverged), each " +
      "recomputed closed-form by the oracle.",
    Some("""WITH upd AS (SELECT doc_id, lang,
           |               CASE WHEN doc_id % 13 = 0 THEN n_chars + 500
           |                    ELSE n_chars END AS n_chars
           |             FROM documents),
           |app AS (SELECT doc_id + 10000000 AS doc_id, lang, n_chars
           |        FROM documents WHERE doc_id % 10 = 0),
           |dst AS (SELECT * FROM upd UNION ALL SELECT * FROM app),
           |p1 AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |       FROM documents GROUP BY lang),
           |p2 AS (SELECT lang, count(*) AS c, sum(n_chars) AS sc
           |       FROM dst GROUP BY lang)
           |SELECT probe, lang, CAST(c AS BIGINT) AS n_docs,
           |       CAST(sc AS BIGINT) AS sum_chars
           |FROM (SELECT CAST(1 AS BIGINT) AS probe, * FROM p1
           |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM p2)
           |ORDER BY probe, lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_clone/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val srcDir = s"$outDir/src"; val dstDir = s"$outDir/clone"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.coalesce(2)
        .write.format("docstore").mode("overwrite").save(srcDir)
      graft.sources.DocStoreOps.shallowClone(srcDir, dstDir)
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          col("n_chars"))
        .coalesce(1)
        .write.format("docstore").mode("append").save(dstDir)
      graft.sources.DocStoreOps.merge(s, dstDir,
        docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 500).as("n_chars")),
        "doc_id")
      def roll(dir: String, probe: Long) =
        s.read.format("docstore").load(dir)
          .groupBy("lang")
          .agg(lng(count(lit(1))).as("n_docs"),
            lng(sum("n_chars")).as("sum_chars"))
          .select(lit(probe).as("probe"), col("lang"), col("n_docs"),
            col("sum_chars"))
      roll(srcDir, 1L).unionAll(roll(dstDir, 2L))
        .orderBy("probe", "lang")
    }
  )

  // ------------------------------------------------ vacuum dry run (r17c)

  private val docstoreVacuumDry = QueryDef(
    "q_docstore_vacuum_dry",
    "VACUUM DRY RUN (the pre-flight of the retention job): the same " +
      "liveness computation as a real vacuum - retained manifests, " +
      "branch roots, DV bindings - but nothing deleted and nothing " +
      "written (not even the floor checkpoint), directory bit-" +
      "identical after. The key retires two files behind a compact, " +
      "dry-runs (2 data files + 2 manifests reported, table intact), " +
      "then really vacuums and verifies the report matched; per-lang " +
      "rollup + the pinned guarantees, oracle-recomputed.",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           |       CAST(2 AS BIGINT) AS dry_files,
           |       CAST(2 AS BIGINT) AS dry_manifests,
           |       TRUE AS dry_left_intact, TRUE AS real_matches_dry
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_vacdry/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.format("docstore").mode("overwrite").save(outDir) // v1
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.format("docstore").mode("append").save(outDir) // v2
      graft.sources.DocStoreOps.compact(s, outDir, 1L << 40) // v3
      val dry = graft.sources.DocStore.vacuum(outDir, retainLast = 1,
        dryRun = true)
      val intact =
        graft.sources.DocStore.manifestVersions(outDir) == Seq(1L, 2L, 3L)
      val real = graft.sources.DocStore.vacuum(outDir, retainLast = 1)
      val matches = real == dry
      s.read.format("docstore").load(outDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n_docs"),
          lng(sum("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          lit(dry.dataFiles.toLong).as("dry_files"),
          lit(dry.manifests.toLong).as("dry_manifests"),
          lit(intact).as("dry_left_intact"),
          lit(matches).as("real_matches_dry"))
        .orderBy("lang")
    }
  )

  // ---------------------------------------- JOIN-view maintenance (r17c)

  /** Higher-order IVM (the F-IVM / DBToaster discipline):
    * `q_docstore_incr_view` maintains an aggregate over ONE mutating
    * table; this maintains an aggregate over a JOIN of TWO
    * independently-mutating tables by materializing the sub-aggregates
    * the join factorizes into — per group the fact side's (count, sum)
    * and the dim side's weight — and refreshing EACH from its own
    * table's change feed. The joined readout V = S′·w′ then never
    * touches either corpus: refresh cost is O(fact churn) + O(dim
    * churn) + O(groups), the whole point of factorized view
    * maintenance at 100 TB.
    */
  private val docstoreIvmJoin = QueryDef(
    "q_docstore_ivm_join",
    "JOIN-view maintenance from two change feeds: a per-lang " +
      "sum(n_chars)*w view over fact JOIN dim stays fresh while the " +
      "FACT takes a MERGE upsert and the DIM is overwritten with new " +
      "weights - each side's sub-aggregate refreshed from its own " +
      "CDF (signed deltas, O(churn) rows), the joined value " +
      "recomposed from maintained state. The oracle recomputes the " +
      "final join from source parquet, so incremental == full " +
      "recompute is hash-proven.",
    Some("""WITH fact AS (SELECT doc_id, lang,
           |                CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
           |                     ELSE n_chars END AS n_chars
           |              FROM documents),
           |dimv AS (SELECT lang,
           |           CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS w0
           |         FROM (SELECT DISTINCT lang FROM documents)),
           |dim2 AS (SELECT lang,
           |           w0 + CASE WHEN lang >= 'f' THEN 10 ELSE 0 END AS w
           |         FROM dimv)
           |SELECT f.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
           |       CAST(max(d.w) AS BIGINT) AS w,
           |       CAST(sum(f.n_chars) * max(d.w) AS BIGINT) AS weighted
           |FROM fact f JOIN dim2 d USING (lang)
           |GROUP BY f.lang ORDER BY lang""".stripMargin),
    (s, d) => {
      val outDir = s"/root/repo/target/docstore_ivmjoin/${new java.io.File(d).getName}"
      val hfs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(graft.sources.DocStore.hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(outDir), true)
      val factDir = s"$outDir/fact"; val dimDir = s"$outDir/dim"
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.format("docstore").mode("overwrite").save(factDir)
      val vf1 = graft.sources.DocStore.latestVersion(factDir).get
      val wWin = org.apache.spark.sql.expressions.Window.orderBy("lang")
      val dim0 = docs.select("lang").distinct()
        .withColumn("w", lng(row_number().over(wWin)))
      dim0.coalesce(1)
        .write.format("docstore").mode("overwrite").save(dimDir)
      val vd1 = graft.sources.DocStore.latestVersion(dimDir).get
      // the materialized sub-aggregates, as of (vf1, vd1)
      val factView1 = s.read.format("docstore")
        .option("snapshotVersion", vf1.toString).load(factDir)
        .groupBy("lang")
        .agg(lng(count(lit(1))).as("n1"), lng(sum("n_chars")).as("s1"))
      val dimView1 = s.read.format("docstore")
        .option("snapshotVersion", vd1.toString).load(dimDir)
        .select(col("lang"), col("w").as("w1"))
      // both tables mutate independently
      graft.sources.DocStoreOps.merge(s, factDir,
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars")), "doc_id")
      dim0.withColumn("w",
          col("w") + when(col("lang") >= "f", 10L).otherwise(0L))
        .coalesce(1)
        .write.format("docstore").mode("overwrite").save(dimDir)
      val vf2 = graft.sources.DocStore.latestVersion(factDir).get
      val vd2 = graft.sources.DocStore.latestVersion(dimDir).get
      // each sub-aggregate refreshes from ITS OWN feed — O(churn)
      val factFeed = graft.sources.DocStoreOps
        .changeFeed(s, factDir, vf1, vf2, "doc_id")
        .withColumn("sign",
          when(col("change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("lang")
        .agg(lng(sum(col("sign"))).as("dn"),
          lng(sum(col("sign") * col("n_chars"))).as("ds"))
      val dimFeed = graft.sources.DocStoreOps
        .changeFeed(s, dimDir, vd1, vd2, "lang")
        .withColumn("sign",
          when(col("change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        .groupBy("lang")
        .agg(lng(sum(col("sign") * col("w"))).as("dw"))
      factView1.join(factFeed, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
          (coalesce(col("s1"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .join(dimView1.join(dimFeed, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("w1"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w")),
          "lang")
        .select(col("lang"), col("n_docs"), col("sum_chars"), col("w"),
          (col("sum_chars") * col("w")).as("weighted"))
        .orderBy("lang")
    }
  )

  val defs: Seq[QueryDef] = Seq(scanDocstore, scanDocstoreSnapshot,
    docstoreMerge, docstoreCompact, docstoreCdf, docstoreZorder,
    docstoreStream, docstoreEvolve, docstoreConcurrent, docstoreTimetravel,
    docstoreRestore, docstoreVacuum, docstoreDv, docstoreCount,
    docstoreIncrView, docstorePruneString, docstorePruneBloom,
    docstoreRetention, docstoreManifest, docstorePartition,
    docstoreStreamSink, docstoreBranch, docstoreColmap,
    docstoreConstraint, docstoreHiddenPart, docstoreMergeEvolve,
    docstoreSpj, docstorePurge, docstoreHistory, docstoreClone,
    docstoreVacuumDry, docstoreIvmJoin)
}
