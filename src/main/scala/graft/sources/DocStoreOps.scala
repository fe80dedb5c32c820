package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Table-maintenance operations on the `docstore` DSv2 source — the
  * lakehouse primitives a 100 TB corpus store runs daily on top of the
  * snapshot-manifest seam ([[DocStore]]):
  *
  *   - [[merge]] — row-level MERGE (upsert) as copy-on-write file
  *     rewrites: matched rows are replaced, unmatched batch rows are
  *     inserted, and ONLY the data files whose key range intersects the
  *     batch are rewritten (Iceberg/Delta `MERGE INTO` shape). The
  *     reference pipeline has no mutation story at all — its corpus is
  *     re-derived wholesale (app/main.py:19-111); at 100 TB the daily
  *     ingest must touch O(changed files), not O(corpus).
  *   - [[delete]] — row-level DELETE FROM by key set, the takedown
  *     batch, with the same copy-on-write affected-file pruning.
  *   - [[compact]] — the OPTIMIZE job: bin-packs small files into
  *     target-sized ones and retires the originals, executing the plan
  *     `q_compaction_plan` only computes.
  *   - [[changeFeed]] — the change data feed (Delta CDF / Iceberg
  *     changelog): row-level NET diff between two snapshots computed
  *     from the MANIFEST diff, reading only removed/added files.
  *
  * Both commit through the `replaceFiles` write option: new files land
  * and superseded files leave the manifest in ONE atomic rename, so a
  * reader pinned on snapshot N (or racing the commit) never observes
  * duplicated or missing rows; physical deletion stays deferred to
  * [[DocStore.vacuum]].
  *
  * SCALE CONTRACT: driver-side work is file-count-sized, never
  * row-sized — affected-file detection takes each file's key range
  * from the manifest's `#stats` line. A key set of at most
  * [[MaxDriverKeys]] rows is collected once and tested against those
  * ranges on the driver, with no Spark job. A larger one stays
  * distributed: the (file, min, max) range table is broadcast and
  * joined against it, and the only collect is the distinct affected
  * FILE NAMES. The rewrite itself is a distributed anti-join + union +
  * write.
  */
object DocStoreOps {

  /** The largest key set [[merge]] and [[delete]] handle on the driver
    * (the same bound as merge's exact `keyDomainKeys`).
    */
  val MaxDriverKeys: Int = 256

  private def noTable(dir: String): Nothing =
    throw new IllegalStateException(s"docstore: no snapshot under $dir")

  /** The latest snapshot of `dir`, loud when the table has none. */
  private def current(dir: String): DocStore.Snapshot =
    DocStore.resolve(dir).getOrElse(noTable(dir))

  /** The distinct non-null keys of `keys`, when it holds at most
    * [[MaxDriverKeys]] non-null key rows: ONE bounded collect, which a
    * local batch answers without a Spark job. None for a larger frame
    * or a non-integral key, which stay on the distributed path.
    */
  private[graft] def driverKeys(keys: DataFrame,
      key: String): Option[Seq[Long]] = {
    val k = keys.select(col(key))
    k.schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val rows = k.select(col(key).cast(LongType)).na.drop()
          .limit(MaxDriverKeys + 1).collect()
        if (rows.length > MaxDriverKeys) None
        else Some(rows.map(_.getLong(0)).distinct.sorted.toSeq)
      case _ => None
    }
  }

  /** Metadata-only affected-file detection shared by [[merge]] and
    * [[delete]]: per-file [min, max] of `key` from the manifest's
    * `#stats` lines, or from block headers for files an older manifest
    * carries no stats for (no chunks decoded either way); a file with
    * no BIGINT range (empty/all-null, or a non-integral key) is
    * conservatively affected. With the keys on the driver (`known`,
    * sorted) each range is a binary search, and no Spark job runs.
    * Otherwise the file-range table is metadata-small → broadcast;
    * `keys` stays distributed; the only collect is bounded by the FILE
    * count.
    */
  private[graft] def affectedFiles(spark: SparkSession, sn: DocStore.Snapshot,
      keys: DataFrame, key: String, known: Option[Seq[Long]]): Set[String] = {
    val withStats = sn.files.map { case (f, _) =>
      val n = new Path(f).getName
      n -> (sn.stats.get(n) match {
        case Some(st) =>
          st.cols.get(key).collect { case DocStore.LongRange(mn, mx) => (mn, mx) }
        case None =>
          DocStore.fileColumnStats(f, key).collect { case (mn: Long, mx: Long) => (mn, mx) }
      })
    }
    val statless = withStats.collect { case (n, None) => n }
    val ranges = withStats.collect { case (n, Some((mn, mx))) => (n, mn, mx) }
    val hit = known match {
      case Some(ks) =>
        val sorted = ks.toArray
        ranges.collect { case (n, mn, mx) if {
          // first key >= mn, then is it <= mx?
          val i = java.util.Arrays.binarySearch(sorted, mn)
          val at = if (i >= 0) i else -i - 1
          at < sorted.length && sorted(at) <= mx
        } => n }
      case None =>
        val rangeDf = spark.createDataFrame(
          spark.sparkContext.parallelize(ranges.map(Row.fromTuple), 1),
          StructType(Seq(StructField("file", StringType, nullable = false),
            StructField("kmin", LongType, nullable = false),
            StructField("kmax", LongType, nullable = false))))
        keys.select(col(key).as("mk")).distinct()
          .join(broadcast(rangeDf),
            col("mk") >= col("kmin") && col("mk") <= col("kmax"))
          .select("file").distinct().collect().map(_.getString(0)).toSeq
    }
    (hit ++ statless).toSet
  }

  /** Columns any file of snapshot `sn` carries a Bloom index for —
    * copy-on-write rewrites re-declare them on their own output so
    * table maintenance never silently degrades point-lookup pruning.
    */
  private def bloomedCols(sn: DocStore.Snapshot): String =
    sn.blooms.keys.map(_._2).toSeq.distinct.sorted.mkString(",")

  /** Identity-partition columns any file of snapshot `sn` declares —
    * copy-on-write rewrites re-declare them (like [[bloomedCols]]) so
    * maintenance never silently collapses a partitioned layout into
    * unprunable files.
    */
  private def partitionedCols(sn: DocStore.Snapshot): String =
    sn.parts.values.flatMap(_.map(_._1)).toSeq.distinct.sorted.mkString(",")

  /** Key-domain Bloom over an exact key set. */
  private def keyBloom(ks: Iterator[Long]): Array[Long] = {
    val bits = new Array[Long](DocStore.BloomBits / 64)
    ks.foreach { k =>
      DocStore.bloomAdd(bits, java.nio.ByteBuffer.allocate(8).putLong(k).array())
    }
    bits
  }

  /** MERGE `batch` into the docstore table at `dir` on long key `key`:
    * rows whose key matches an existing row replace it; the rest
    * insert. Concurrency: the commit is optimistic (r15) — racing
    * commits that touch DISJOINT files rebase and both land; a racing
    * commit that retired one of this merge's affected files aborts
    * this merge loudly with ConcurrentModificationException (rerun
    * against the new snapshot). `batch` must carry the table's
    * columns; columns BEYOND them are refused unless `evolveSchema`
    * (r17 — Delta's MERGE `mergeSchema` shape): with it, the batch's
    * extra columns widen the table in the same commit — inserted and
    * updated rows carry them, survivors rewritten from affected files
    * carry null, untouched files stay NARROW on disk and the scan's
    * by-name schema union (q_docstore_evolve machinery) serves null
    * for them. No second commit, no table-wide rewrite: evolution
    * costs exactly what the merge already paid.
    */
  def merge(spark: SparkSession, dir: String, batch: DataFrame,
      key: String, evolveSchema: Boolean = false): Unit = {
    // pin the whole read-modify-write on ONE snapshot version: the
    // reads plan from v0, and the commit declares readVersion=v0 so
    // the writer's conflict checks (file retirement, DV drift, key-
    // domain overlap) run against exactly what this merge saw
    val sn = current(dir)
    val v0 = sn.version
    // a small batch's keys come to the driver once and decide the
    // affected files, the key domain and its Bloom — no Spark job
    val known = driverKeys(batch, key)
    val affected = affectedFiles(spark, sn, batch, key, known)
    val baseCols = spark.read.format("docstore").load(dir).columns
    val extraCols = batch.columns.filterNot(baseCols.contains).toSeq
    require(evolveSchema || extraCols.isEmpty,
      s"docstore: merge batch carries columns not in the table " +
        s"(${extraCols.mkString(", ")}); pass evolveSchema=true to widen")
    // evolved width: table columns first, new columns after in batch
    // order — the same left-to-right ADD discipline q_docstore_evolve
    // established
    val tableCols = baseCols ++ extraCols
    // the batch's key range = this commit's declared domain: two
    // racing merges with overlapping domains are not serializable even
    // when they touch disjoint files — the loser must abort, not land
    // a duplicate key (VERDICT r15 #7)
    // r17 (VERDICT r16 #5): the domain also carries a Bloom over the
    // EXACT key set — successors can then PROVE a sparse racer
    // disjoint instead of aborting on envelope overlap. Small batches
    // (≤256 distinct keys — the takedown/upsert-trickle shape this
    // precision exists for) also keep the exact keys in-process for
    // the sharper per-key probe; large batches fold the range and the
    // Bloom distributed (1-row results, never a row-sized collect).
    import spark.implicits._
    val (keyRange, exactKeys, kdBloom) = known match {
      case Some(ks) =>
        (ks.headOption.map(lo => (lo, ks.last)), Some(ks),
          DocStore.bloomEncode(keyBloom(ks.iterator)))
      case None =>
        val kd = batch.agg(min(col(key)), max(col(key))).collect()(0)
        val distinctKeys = batch.select(col(key)).na.drop().distinct()
        val keySample = distinctKeys.limit(MaxDriverKeys + 1).as[Long].collect()
        if (keySample.length <= MaxDriverKeys)
          (Option.when(!kd.isNullAt(0))((kd.getLong(0), kd.getLong(1))),
            Some(keySample.toSeq), DocStore.bloomEncode(keyBloom(keySample.iterator)))
        else {
          val bits = distinctKeys.as[Long].mapPartitions { it =>
            Iterator(keyBloom(it))
          }.reduce { (a, b) =>
            var i = 0
            while (i < a.length) { a(i) |= b(i); i += 1 }
            a
          }
          (Some((kd.getLong(0), kd.getLong(1))), None, DocStore.bloomEncode(bits))
        }
    }
    val out =
      if (affected.isEmpty) batch.select(tableCols.map(col).toSeq: _*)
      else {
        val touched = spark.read.format("docstore")
          .option("snapshotVersion", v0.toString)
          .option("files", affected.mkString(","))
          .load(dir)
        touched.join(batch.select(col(key)), Seq(key), "left_anti")
          .unionByName(batch, allowMissingColumns = true)
          .select(tableCols.map(col).toSeq: _*)
      }
    val w = out.write.format("docstore").mode("append")
      .option("replaceFiles", affected.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v0.toString)
      .option("operation", "merge")
    (keyRange match {
      case None => w
      case Some((lo, hi)) =>
        val w2 = w.option("keyDomain", s"$key,$lo,$hi")
          .option("keyDomainBloom", kdBloom)
        exactKeys.fold(w2)(ks =>
          w2.option("keyDomainKeys", ks.mkString(",")))
    })
      .save(dir)
  }

  /** DELETE FROM: remove every row whose `key` appears in `keys`
    * (single long-typed column named `key`), as copy-on-write file
    * rewrites — only files whose block-stat key range intersects the
    * delete set are rewritten (survivor anti-join + replaceFiles
    * commit); the takedown-batch shape at 100 TB. A no-overlap delete
    * set commits nothing.
    */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      key: String): Unit = {
    val sn = current(dir)
    val v0 = sn.version
    val affected = affectedFiles(spark, sn, keys, key, driverKeys(keys, key))
    if (affected.isEmpty) return
    val tableCols = spark.read.format("docstore").load(dir).columns
    val touched = spark.read.format("docstore")
      .option("snapshotVersion", v0.toString)
      .option("files", affected.mkString(","))
      .load(dir)
    // no keyDomain: either serial order of two deletes — or of a delete
    // racing a merge on disjoint FILES — yields the same final state
    // (delete-first), so declaring one would only cost liveness
    touched.join(keys.select(col(key)), Seq(key), "left_anti")
      .select(tableCols.map(col).toSeq: _*)
      .write.format("docstore").mode("append")
      .option("replaceFiles", affected.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v0.toString)
      .option("operation", "delete")
      .save(dir)
  }

  /** OPTIMIZE ZORDER BY (colX, colY): rewrite the WHOLE table clustered
    * by the Morton interleave of the two min/max-quantized long
    * columns, committed as one atomic full-manifest replacement. After
    * the rewrite, each data file (and each 512-row block inside it)
    * covers a tight rectangle in BOTH dimensions, so the reader's
    * block-stat skipping prunes 2-D range predicates — a 1-D sort
    * gives tight ranges on one column and useless ones on the other
    * (q_zorder states the same property as a readout; this executes
    * it against the store). Driver work: one 1-row bounds collect;
    * the rewrite is one distributed range-partitioned sort — the
    * weekly clustering job at 100 TB, with readers pinned on the old
    * snapshot isolated throughout (the replaceFiles contract).
    */
  def zorder(spark: SparkSession, dir: String, colX: String, colY: String,
      files: Int): Unit = {
    val sn = current(dir)
    val v = sn.version
    val all = sn.files.map { case (f, _) => new Path(f).getName }
    val df = spark.read.format("docstore")
      .option("snapshotVersion", v.toString).load(dir)
    val cols = df.columns
    val b = df.agg(min(col(colX)).as("x0"), max(col(colX)).as("x1"),
      min(col(colY)).as("y0"), max(col(colY)).as("y1")).collect()(0)
    def q(c: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else least(lit(255L), floor((col(c).cast("double") - lit(lo.toDouble)) *
        lit(256.0) / lit((hi - lo).toDouble)).cast("long"))
    def spread(c: String, off: Int): String =
      (0 until 8).map(i => s"((($c >> $i) & 1) * ${1L << (2 * i + off)})")
        .mkString(" + ")
    df.withColumn("__xq", q(colX, b.getLong(0), b.getLong(1)))
      .withColumn("__yq", q(colY, b.getLong(2), b.getLong(3)))
      .withColumn("__zkey", expr(s"${spread("__xq", 0)} + ${spread("__yq", 1)}"))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .select(cols.map(col).toSeq: _*)
      .write.format("docstore").mode("append")
      .option("replaceFiles", all.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v.toString)
      .option("operation", "zorder")
      .save(dir)
  }

  /** The manifest-level file diff behind [[changeFeed]], exposed so
    * specs can pin that unchanged files are excluded from BOTH sides:
    * (removed file names, added file names) between two versions.
    * A file whose DELETION-VECTOR binding changed between the versions
    * counts as removed AND added (it contributes its vFrom rows through
    * the old mask to one side and its vTo rows through the new mask to
    * the other — the full-outer join then nets exactly the
    * incrementally masked rows as deletes): a merge-on-read DELETE
    * changes no file name, and a name-only diff would silently emit an
    * EMPTY feed for it.
    */
  private[graft] def manifestDiff(dir: String, vFrom: Long,
      vTo: Long): (Set[String], Set[String]) = {
    val s1 = DocStore.readSnapshot(dir, vFrom)
    val s2 = DocStore.readSnapshot(dir, vTo)
    def names(s: DocStore.Snapshot): Set[String] =
      s.files.map { case (f, _) => new Path(f).getName }.toSet
    val f1 = names(s1)
    val f2 = names(s2)
    val dv1 = s1.dvs
    val dv2 = s2.dvs
    val reMasked = (f1 & f2).filter(n => dv1.get(n) != dv2.get(n))
    ((f1 -- f2) ++ reMasked, (f2 -- f1) ++ reMasked)
  }

  /** Change data feed (Delta CDF / Iceberg changelog shape): the
    * row-level NET difference between snapshots `vFrom` and `vTo`,
    * computed from the MANIFEST diff — only files removed or added
    * between the two versions are ever read; files present in both
    * manifests are untouched by definition and never scanned. Rows
    * co-located in a rewritten file but themselves unchanged cancel in
    * the full-row comparison and emit nothing (exactly how Delta
    * computes CDF for rewrites committed without explicit CDC files).
    *
    * Output = the table's columns plus `change_type` ∈ {'insert',
    * 'delete', 'update_preimage', 'update_postimage'}; an intermediate
    * state that was created and superseded strictly between the two
    * versions appears only through its NET effect (update-then-delete
    * → one delete row carrying the vFrom image).
    *
    * SCALE: cost is O(changed files) read + one key-partitioned
    * full-outer join of the two changed-row sets; `key` must be unique
    * per snapshot (the MERGE/DELETE key discipline).
    */
  def changeFeed(spark: SparkSession, dir: String, vFrom: Long, vTo: Long,
      key: String): DataFrame = {
    val (removed, added) = manifestDiff(dir, vFrom, vTo)
    val tableCols = spark.read.format("docstore").load(dir).columns
    def side(v: Long, names: Set[String]): DataFrame = {
      val base = spark.read.format("docstore")
        .option("snapshotVersion", v.toString)
      val df =
        if (names.isEmpty)
          base.load(dir).filter(lit(false)) // empty, schema-preserving
        else base.option("files", names.mkString(",")).load(dir)
      df.select(tableCols.map(col).toSeq: _*)
    }
    val nonKey = tableCols.filterNot(_ == key)
    def packed(df: DataFrame, tag: String): DataFrame =
      df.select(col(key),
        struct(nonKey.map(col).toSeq: _*).as(s"row_$tag"))
    val oldRows = packed(side(vFrom, removed), "old")
    val newRows = packed(side(vTo, added), "new")
    val j = oldRows.join(newRows, Seq(key), "full_outer")
    val del = j.filter(col("row_new").isNull)
      .select(lit("delete").as("change_type"), col(key), col("row_old.*"))
    val ins = j.filter(col("row_old").isNull)
      .select(lit("insert").as("change_type"), col(key), col("row_new.*"))
    val updBoth = j.filter(col("row_old").isNotNull && col("row_new").isNotNull
      && col("row_old") =!= col("row_new"))
    val pre = updBoth.select(lit("update_preimage").as("change_type"),
      col(key), col("row_old.*"))
    val post = updBoth.select(lit("update_postimage").as("change_type"),
      col(key), col("row_new.*"))
    del.unionByName(ins).unionByName(pre).unionByName(post)
  }

  /** RESTORE TABLE TO VERSION (Delta `RESTORE` / Iceberg rollback):
    * re-publish snapshot `toVersion`'s file list as a NEW version at
    * the head of the commit chain. Metadata-only — no data file is
    * read, written, or deleted; the commit is one manifest CAS (same
    * optimistic retry as every writer), so a racing append simply
    * pushes the restore to the next version number. History is
    * preserved: the undone versions stay pinnable until [[DocStore
    * .vacuum]] reclaims them — which is exactly why restore must NOT
    * delete anything itself (a reader may be pinned mid-rollback).
    * The 100 TB shape: rolling back a bad ingest is O(1) regardless
    * of corpus size. Returns the new head version.
    */
  def restore(dir: String, toVersion: Long): Long = {
    val to = DocStore.readSnapshot(dir, toVersion) // loud if absent
    // the files come back with their masks, Blooms, tuples and stats;
    // column mappings, CHECK ranges and stream marks stay today's — so
    // a re-added file must satisfy today's constraints
    DocStore.commit(dir, Some("restore")) { sn =>
      Some(sn.copy(files = to.files, dvs = to.dvs, blooms = to.blooms,
        schemaDdl = to.schemaDdl, parts = to.parts, stats = to.stats))
    }.get
  }

  /** Merge-on-read DELETE (Delta deletion vectors / Iceberg v2
    * positional deletes): instead of rewriting the affected files
    * ([[delete]]'s copy-on-write), publish per-file SIDECARS of
    * deleted row ordinals and bind them in the manifest (`#dv`
    * headers). ZERO data files are read-rewritten or created — the
    * write amplification of a takedown batch drops from
    * O(affected-file bytes) to O(deleted-row count) — and readers
    * subtract the mask at scan time. A later [[materializeDvs]] (or
    * any copy-on-write rewrite of the file) folds the mask in.
    *
    * Shape: affected-file detection is the shared block-stat pruning;
    * then ONE TASK PER AFFECTED FILE streams (ordinal, key) pairs
    * decoding only the key column, joins the distributed delete-key
    * set, merges with the file's existing vector, and writes the new
    * sidecar executor-side; the driver collects only (file → sidecar)
    * bindings. Commit is the standard version-CAS with rebase; it
    * aborts loudly if a racing commit retired an affected file OR
    * re-masked it (two writers merging vectors from different bases
    * would lose deletes).
    */
  def deleteVectors(spark: SparkSession, dir: String, keys: DataFrame,
      key: String): Unit = {
    val sn0 = current(dir)
    val affected = affectedFiles(spark, sn0, keys, key, driverKeys(keys, key))
    if (affected.isEmpty) return
    val dv0 = sn0.dvs
    val token = java.util.UUID.randomUUID().toString.take(8)
    import spark.implicits._
    val dirB = dir
    val pairs = spark.createDataset(affected.toSeq.sorted)
      .flatMap { name =>
        DocStore.scanKeyOrdinals(new Path(dirB, name).toString, key)
          .map { case (ord, k) => (name, ord, k) }
      }.toDF("__file", "__ord", "__k")
    val hits = pairs
      .join(keys.select(col(key).as("__k")).distinct(), "__k")
      .groupBy("__file")
      .agg(sort_array(collect_list(col("__ord"))).as("__ords"))
      .as[(String, Seq[Long])]
    val dv0B = dv0
    val bindings: Array[(String, String)] = hits.map { case (name, ords) =>
      val old = dv0B.get(name)
        .map(d => DocStore.readDv(new Path(dirB, d).toString))
        .getOrElse(Array.emptyLongArray)
      val merged = (old ++ ords).distinct.sorted
      val dvn = s"$name.dv$token"
      DocStore.writeDv(dirB, dvn, merged)
      (name, dvn)
    }.collect() // file-count-sized
    if (bindings.isEmpty) return
    DocStore.commit(dir, Some("delete-dv")) { sn =>
      val liveNames = sn.files.map { case (f, _) =>
        new Path(f).getName
      }.toSet
      val conflict = bindings.filter { case (n, _) =>
        !liveNames.contains(n) || sn.dvs.get(n) != dv0.get(n)
      }
      if (conflict.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"docstore: conflicting concurrent commit under $dir — " +
            s"${conflict.size} file(s) this delete masks were retired " +
            "or re-masked by another writer; rerun against the new " +
            "snapshot")
      // Bloom indexes stay valid under a mask (one-sided: they may
      // report a deleted key present, never a live key absent)
      Some(sn.copy(dvs = sn.dvs ++ bindings))
    }
  }

  /** Fold every live deletion vector into its data file: the masked
    * files are read back THROUGH the mask and rewritten survivors-only
    * in one replaceFiles commit (which drops their `#dv` bindings) —
    * the compaction half of merge-on-read, run when accumulated masks
    * make read-time subtraction more expensive than one rewrite.
    */
  def materializeDvs(spark: SparkSession, dir: String): Unit = {
    val sn = DocStore.resolve(dir).getOrElse(return)
    val v = sn.version
    val dvs = sn.dvs
    if (dvs.isEmpty) return
    val names = dvs.keys.toSeq.sorted
    val tableCols = spark.read.format("docstore").load(dir).columns
    spark.read.format("docstore")
      .option("snapshotVersion", v.toString)
      .option("files", names.mkString(","))
      .load(dir)
      .select(tableCols.map(col).toSeq: _*)
      .write.format("docstore").mode("append")
      .option("replaceFiles", names.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v.toString)
      .option("operation", "purge")
      .save(dir)
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` shape):
    * fork `srcDir`'s current snapshot into a NEW table at `dstDir`
    * with ONE metadata commit and ZERO data copies — the clone's v1
    * manifest references the source's data files (and DV sidecars) by
    * ABSOLUTE path, carrying schema, Blooms, partition tuples, column
    * mappings and CHECK constraints across. The tables then diverge
    * freely: appends land local files in the clone; a copy-on-write
    * rewrite (merge/delete/purge/compact) of a referenced source file
    * materializes the rewrite LOCALLY and drops the reference — the
    * source is never written. Same caveat as Delta: vacuum on the
    * SOURCE reclaims files a clone may still reference (the clone is
    * a consumer the source does not know about); vacuum on the CLONE
    * is safe — external files are never in its directory listing.
    * Returns the clone's first version (always 1).
    */
  def shallowClone(srcDir: String, dstDir: String): Long = {
    val sn = current(srcDir)
    require(DocStore.latestVersion(dstDir).isEmpty,
      s"docstore: clone target $dstDir already has commits")
    // DV sidecar references must survive the directory change too;
    // stream epoch marks belong to the source's queries
    val absDvs = sn.dvs.map { case (n, dv) =>
      n -> new Path(srcDir, dv).toString
    }
    val won = DocStore.casVersion(dstDir, None, DocStore.Snapshot(0L),
      sn.copy(version = 1L, dvs = absDvs, streams = Map.empty),
      DocStore.CommitMeta(Some("clone"), System.currentTimeMillis()))
    if (!won) throw new java.util.ConcurrentModificationException(
      s"docstore: clone target $dstDir was created concurrently")
    1L
  }

  /** DESCRIBE HISTORY (the Delta metadata-table shape): one row per
    * RETAINED main-chain commit — version, commit timestamp, the
    * operation name the committer declared (r17c `#op` header;
    * pre-r17c commits read as "unknown"), the body shape and this
    * commit's own change counts. Driver-side and
    * O(#commits × body bytes): each version contributes its OWN
    * manifest body, no chain fold, no data-file opens — at 100 TB
    * history costs what reading the commit log costs, which is the
    * point of keeping operations IN the log rather than reconstructing
    * them from file diffs.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = DocStore.history(dir).map { ci =>
      Row(ci.version, ci.tsMillis, ci.operation, ci.isDelta, ci.nAdds,
        ci.nRemoves, ci.nDvChanges, ci.hasCheckpoint)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("ts_millis", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("is_delta", org.apache.spark.sql.types.BooleanType,
          nullable = false),
        StructField("n_adds", LongType, nullable = false),
        StructField("n_removes", LongType, nullable = false),
        StructField("n_dv_changes", LongType, nullable = false),
        StructField("has_checkpoint", org.apache.spark.sql.types.BooleanType,
          nullable = false))))
  }

  /** REORG PURGE with a density threshold (Delta `REORG ... APPLY
    * (PURGE)` restricted to where it pays): fold deletion vectors only
    * for files whose masked-row ratio is at least `minMaskedRatio` —
    * heavily-masked files are rewritten survivors-only (dropping their
    * `#dv` bindings in the same commit), lightly-masked files keep
    * their cheap read-time mask. Ratios come from the DV header count
    * over the data file's header row count — two header reads per
    * masked file, no data scan decides anything. Returns
    * (maskedBefore, purged): a 100 TB maintenance job reports what it
    * rewrote.
    */
  def purgeDvs(spark: SparkSession, dir: String,
      minMaskedRatio: Double): (Int, Int) = {
    require(minMaskedRatio >= 0.0 && minMaskedRatio <= 1.0,
      s"docstore: minMaskedRatio out of [0,1]: $minMaskedRatio")
    val sn = current(dir)
    val v = sn.version
    val dvs = sn.dvs
    if (dvs.isEmpty) return (0, 0)
    val byName = sn.files
      .map { case (f, len) => new org.apache.hadoop.fs.Path(f).getName -> f }
      .toMap
    val heavy = dvs.toSeq.sortBy(_._1).filter { case (name, dv) =>
      val masked = DocStore.dvCountOf(
        new org.apache.hadoop.fs.Path(dir, dv).toString)
      val rows = DocStore.fileHeaderAgg(byName(name))._1
      rows > 0 && masked.toDouble / rows >= minMaskedRatio
    }.map(_._1)
    if (heavy.isEmpty) return (dvs.size, 0)
    val tableCols = spark.read.format("docstore").load(dir).columns
    spark.read.format("docstore")
      .option("snapshotVersion", v.toString)
      .option("files", heavy.mkString(","))
      .load(dir)
      .select(tableCols.map(col).toSeq: _*)
      .write.format("docstore").mode("append")
      .option("replaceFiles", heavy.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v.toString)
      .option("operation", "purge")
      .save(dir)
    (dvs.size, heavy.size)
  }

  /** OPTIMIZE: rewrite every data file smaller than `targetBytes` into
    * ~`ceil(totalSmallBytes / targetBytes)` bin-packed files, retiring
    * the originals in the same commit. Returns (filesBefore,
    * filesAfter) of the manifest, for callers that report.
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long): (Int, Int) = {
    val sn = current(dir)
    val v = sn.version
    val files = sn.files
    val small = files.filter(_._2 < targetBytes)
    if (small.size <= 1) return (files.size, files.size)
    val names = small.map { case (f, _) => new Path(f).getName }
    val bins = math.max(1,
      ((small.map(_._2).sum + targetBytes - 1) / targetBytes).toInt)
    spark.read.format("docstore")
      .option("snapshotVersion", v.toString)
      .option("files", names.mkString(","))
      .load(dir)
      .repartition(bins)
      .write.format("docstore").mode("append")
      .option("replaceFiles", names.mkString(","))
      .option("bloomCols", bloomedCols(sn))
      .option("partitionCols", partitionedCols(sn))
      .option("readVersion", v.toString)
      .option("operation", "compact")
      .save(dir)
    (files.size, current(dir).files.size)
  }

  // ------------------- column mapping: RENAME/DROP without rewrite
  //
  // The Delta column-mapping shape (see the DocStore scaladoc block):
  // both ops are METADATA-ONLY commits — one `#colmap` delta through
  // the same CAS every writer uses, zero data files touched. The
  // validation pass reads one header per live file (the same cost as
  // every schema inference on this store); the commit itself is O(1).

  /** The current LOGICAL schema of snapshot `sn`: by-name union of the
    * live files' physical schemas, translated through the mapping.
    */
  private def logicalFields(sn: DocStore.Snapshot): Seq[String] = {
    val phys = sn.files.flatMap(f =>
      DocStore.readFileSchema(f._1).fields)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    phys.foreach { f =>
      val l = sn.colmaps.getOrElse(f.name, f.name)
      if (!l.startsWith(DocStore.DroppedPrefix)) seen += l
    }
    seen.toSeq
  }

  private def validIdent(c: String): Boolean =
    c.nonEmpty && !c.startsWith(DocStore.DroppedPrefix) &&
      !c.contains('\t') && !c.contains('\n')

  /** RENAME a column — one metadata commit, no rewrite. Every physical
    * name currently resolving to `from` is remapped to `to`; the old
    * physical names stay RESERVED (the writer guard refuses new files
    * that would reuse them — without per-column ids, re-using a
    * renamed-away physical name would resurrect the old era's bytes
    * under the new column). Returns the committed version.
    */
  def renameColumn(dir: String, from: String, to: String): Long = {
    require(validIdent(from) && validIdent(to) && from != to,
      s"docstore: bad rename $from -> $to")
    DocStore.commit(dir, Some("rename-column")) { sn =>
      if (sn.version == 0L) noTable(dir)
      val logical = logicalFields(sn)
      require(logical.contains(from),
        s"docstore: no column '$from' to rename under $dir " +
          s"(logical schema: ${logical.mkString(", ")})")
      require(!logical.contains(to),
        s"docstore: rename target '$to' already exists under $dir")
      require(!sn.colmaps.contains(to),
        s"docstore: rename target '$to' is a reserved physical name " +
          "(a previous rename/drop claimed it)")
      // a CHECK constraint follows its column through the rename
      Some(sn.copy(
        colmaps = sn.colmaps ++
          DocStore.physicalAliases(sn.colmaps, from).map(_ -> to),
        checks = sn.checks.get(from)
          .fold(sn.checks)(r => sn.checks - from + (to -> r))))
    }.get
  }

  /** DROP a column — a rename onto a version-stamped hidden name:
    * readers stop decoding it everywhere, bytes stay until the files
    * are rewritten/vacuumed for other reasons (exactly Delta's
    * column-mapping drop). The column NAME stays reserved (writer
    * guard), so a dropped column cannot be silently resurrected by a
    * later append. Returns the committed version.
    */
  def dropColumn(dir: String, colName: String): Long = {
    require(validIdent(colName), s"docstore: bad column '$colName'")
    DocStore.commit(dir, Some("drop-column")) { sn =>
      if (sn.version == 0L) noTable(dir)
      val logical = logicalFields(sn)
      require(logical.contains(colName),
        s"docstore: no column '$colName' to drop under $dir")
      require(logical.size > 1,
        s"docstore: refusing to drop the last column '$colName'")
      val hidden = s"${DocStore.DroppedPrefix}${colName}__v${sn.version + 1}"
      // a dropped column takes its CHECK constraint with it
      Some(sn.copy(
        colmaps = sn.colmaps ++
          DocStore.physicalAliases(sn.colmaps, colName).map(_ -> hidden),
        checks = sn.checks - colName))
    }.get
  }

  // ------------------------------ CHECK constraints (r17 wave 2)
  //
  // Delta's `ALTER TABLE ADD CONSTRAINT CHECK` shape, scoped to the
  // provable kind: a range over a column's NON-NULL values (standard
  // SQL CHECK semantics — NULL passes). Declaring validates the
  // EXISTING table from file block-stat headers (one header read per
  // live file, no chunk decoded — stats bound every non-null value,
  // so a passing stats range IS a proof); thereafter EVERY commit
  // proves its own new files the same way and aborts loudly on a
  // violation, so the table can never hold a forbidden row.

  /** Declare `min ≤ col ≤ max` (over non-null values). Fails loudly —
    * with the offending files — if existing data already violates it.
    * Returns the committed version.
    */
  def addCheck(dir: String, colName: String, min: Long, max: Long): Long = {
    require(min <= max, s"docstore: empty CHECK range [$min, $max]")
    DocStore.commit(dir, Some("add-check")) { sn =>
      if (sn.version == 0L) noTable(dir)
      require(logicalFields(sn).contains(colName),
        s"docstore: no column '$colName' to constrain under $dir")
      val bad = sn.files.flatMap { case (f, _) =>
        DocStore.rangeOutside(sn, f, colName, min, max).map { case (a, b) =>
          s"${new Path(f).getName} [$a, $b]"
        }
      }
      require(bad.isEmpty,
        s"docstore: existing data violates CHECK $colName in " +
          s"[$min, $max]: ${bad.take(3).mkString("; ")}" +
          (if (bad.size > 3) "; …" else ""))
      Some(sn.copy(checks = sn.checks + (colName -> ((min, max)))))
    }.get
  }

  /** Drop a declared constraint. Returns the committed version. */
  def dropCheck(dir: String, colName: String): Long =
    DocStore.commit(dir, Some("drop-check")) { sn =>
      if (sn.version == 0L) noTable(dir)
      require(sn.checks.contains(colName),
        s"docstore: no CHECK constraint on '$colName' under $dir")
      Some(sn.copy(checks = sn.checks - colName))
    }.get
}
