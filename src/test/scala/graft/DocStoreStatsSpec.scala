package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreBranch, DocStoreOps}

/** Per-file column stats in the docstore manifest (`#stats` lines):
  *
  *  - every live file carries exactly its stats, equal to the fold of
  *    its block headers, through every commit kind and every body
  *    shape (delta, full, checkpoint);
  *  - the scan planner plans only the files whose ranges can match,
  *    and the executed plan reports what each gate pruned;
  *  - manifests written before stats existed read and merge as before
  *    and prune nothing;
  *  - merge and delete with a small key set pick their files on the
  *    driver with no Spark job, and agree with the distributed path.
  */
class DocStoreStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def latest(dir: String): DocStore.Snapshot =
    DocStore.readSnapshot(dir, DocStore.latestVersion(dir).get)

  /** 4 files with disjoint, range-partitioned `k` in [0, 2000). */
  private def writeRanged(dir: String, files: Int = 4, rows: Long = 2000L): Unit =
    spark.range(rows).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s"), (col("id") * 0.5).as("d"))
      .repartitionByRange(files, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)

  /** Stats exist for exactly the live files of `sn`, and each equals
    * the fold of that file's block headers.
    */
  private def assertStatsExact(sn: DocStore.Snapshot, what: String): Unit = {
    val live = sn.files.map { case (f, _) => new Path(f).getName }.toSet
    assert(sn.stats.keySet == live, s"$what: stats for exactly the live files")
    sn.files.foreach { case (f, _) =>
      val st = sn.stats(new Path(f).getName)
      val (rows, ranges) = DocStore.fileHeaderAgg(f)
      assert(st.rows == rows, s"$what: row count of $f")
      val numeric = st.cols.collect {
        case (c, DocStore.LongRange(a, b)) => c -> ((a, b))
        case (c, DocStore.DoubleRange(a, b)) => c -> ((a, b))
      }
      assert(numeric == ranges, s"$what: ranges of $f")
    }
  }

  private def scanExec(df: DataFrame): BatchScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case b: BatchScanExec => b }.get
  }

  /** Jobs started by `body` on this thread, counted by a listener. A
    * marker job after `body` flushes the listener bus: events arrive
    * in order, so once the marker's start is seen every job `body`
    * started has been counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("stats-under-test", "jobs counted by the spec")
      val out = body
      sc.setJobGroup("stats-marker", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("stats-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("stats-marker"), "listener bus never flushed")
      (out, groups.asScala.count(_ == "stats-under-test"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("stats exist for exactly the live files after append, merge, " +
    "delete, DV delete, compact, checkpoint, restore, vacuum, clone and " +
    "branch publish") {
    import spark.implicits._
    val dir = tmp("gds_stats_life")
    writeRanged(dir)
    assertStatsExact(latest(dir), "base write")
    val base = latest(dir)
    assert(base.stats.values.forall(_.cols.keySet == Set("k", "s", "d")))
    assert(base.stats.values.map(_.rows).sum == 2000L)
    Seq((5000L, "x", 1.0)).toDF("k", "s", "d").coalesce(1)
      .write.format("docstore").mode("append").save(dir)
    assertStatsExact(latest(dir), "append")
    DocStoreOps.merge(spark, dir,
      Seq((10L, "m", 0.0), (6000L, "n", 2.0)).toDF("k", "s", "d"), "k")
    assertStatsExact(latest(dir), "merge")
    DocStoreOps.delete(spark, dir, Seq(700L, 701L).toDF("k"), "k")
    assertStatsExact(latest(dir), "delete")
    DocStoreOps.deleteVectors(spark, dir, Seq(1500L).toDF("k"), "k")
    assertStatsExact(latest(dir), "DV delete")
    DocStoreOps.compact(spark, dir, 1L << 20)
    assertStatsExact(latest(dir), "compact")
    // appends up to the next checkpoint: its full body lists every
    // live file with its stats line, and a fold from it agrees
    while (DocStore.latestVersion(dir).get % DocStore.CheckpointInterval != 0)
      Seq((9000L + DocStore.latestVersion(dir).get, "c", 3.0))
        .toDF("k", "s", "d").coalesce(1)
        .write.format("docstore").mode("append").save(dir)
    val ckV = DocStore.latestVersion(dir).get
    val ckPath = new Path(dir, f"${DocStore.CheckpointPrefix}$ckV%08d")
    val fs = ckPath.getFileSystem(new Configuration())
    val ckBody = {
      val in = fs.open(ckPath)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val ckLines = ckBody.linesIterator.toSeq
    assert(ckLines.count(_.startsWith("#stats\t")) ==
      ckLines.count(l => l.nonEmpty && !l.startsWith("#")),
      "checkpoint: one stats line per listed file")
    assertStatsExact(latest(dir), "checkpoint")
    // restore to v1 re-adds the base files with their stats
    DocStoreOps.restore(dir, 1L)
    val restored = latest(dir)
    assertStatsExact(restored, "restore")
    assert(restored.stats == base.stats)
    // vacuum anchors its floor with a checkpoint built from the fold
    DocStore.vacuum(dir)
    assertStatsExact(latest(dir), "vacuum")
    // shallow clone carries the source's stats in its v1 full body
    val dst = tmp("gds_stats_clone")
    DocStoreOps.shallowClone(dir, dst)
    assert(latest(dst).stats == latest(dir).stats)
    assertStatsExact(latest(dst), "clone")
    // branch: the branch fold and the publish both carry the new file
    DocStoreBranch.create(dir, "audit")
    Seq((7000L, "b", 4.0)).toDF("k", "s", "d").coalesce(1)
      .write.format("docstore").mode("append").option("branch", "audit")
      .save(dir)
    assertStatsExact(DocStore.readSnapshot(dir,
      DocStore.branchLatest(dir, "audit").get, Some("audit")), "branch")
    DocStoreBranch.publish(dir, "audit")
    assertStatsExact(latest(dir), "publish")
    assert(spark.read.format("docstore").load(dir)
      .filter(col("k") === 7000L).count() == 1)
  }

  test("lookups plan only the files whose ranges match; the executed " +
    "plan reports files pruned per gate") {
    val dir = tmp("gds_stats_prune")
    writeRanged(dir)
    val all = spark.read.format("docstore").load(dir)
    val full = all.collect().map(_.toSeq).toSeq
    val ranges = latest(dir).stats.values.map(_.cols("k")).collect {
      case DocStore.LongRange(a, b) => (a, b)
    }.toSeq
    assert(ranges.size == 4)
    def filesCovering(ks: Seq[Long]) =
      ranges.count { case (a, b) => ks.exists(k => k >= a && k <= b) }
    def check(cond: org.apache.spark.sql.Column, parts: Int,
        keyOf: Long => Boolean): Unit = {
      val df = all.filter(cond)
      val got = df.collect().map(_.toSeq).toSeq
      assert(got.sortBy(_.head.asInstanceOf[Long]) ==
        full.filter(r => keyOf(r.head.asInstanceOf[Long]))
          .sortBy(_.head.asInstanceOf[Long]), s"rows of $cond")
      assert(scanExec(df).inputPartitions.size == parts, s"partitions of $cond")
      assert(df.queryExecution.executedPlan.toString.contains(
        s"files=$parts/4 (partition 0, bloom 0, stats ${4 - parts})"),
        df.queryExecution.executedPlan.toString)
    }
    check(col("k") === 1234L, 1, _ == 1234L)
    check(col("k").isin(3L, 1999L), filesCovering(Seq(3L, 1999L)),
      k => k == 3L || k == 1999L)
    assert(filesCovering(Seq(3L, 1999L)) == 2)
    check(col("k") >= 1900L, filesCovering(Seq(1900L, 1999L)), _ >= 1900L)
    check(col("k") === 99999L, 0, _ => false)
    // string stats prune equality on the 8-byte prefix; doubles ranges
    val p42 = DocStore.packPrefix("v42")
    val sFiles = latest(dir).stats.values.count(_.cols("s") match {
      case DocStore.PrefixRange(a, b) =>
        java.lang.Long.compareUnsigned(a, p42) <= 0 &&
          java.lang.Long.compareUnsigned(p42, b) <= 0
      case _ => true
    })
    assert(sFiles < 4, "the probe prefix must fall outside some file")
    check(col("s") === "v42", sFiles, _ == 42L)
    check(col("d") < 10.0, filesCovering(Seq(0L, 19L)), _ < 20L)
  }

  test("manifests without stats lines read, prune nothing, and merge " +
    "and delete correctly") {
    import spark.implicits._
    val dir = tmp("gds_stats_legacy")
    writeRanged(dir)
    Seq((5000L, "x", 1.0)).toDF("k", "s", "d").coalesce(1)
      .write.format("docstore").mode("append").save(dir)
    // rewrite every manifest the way a writer without stats left it
    val fs = new Path(dir).getFileSystem(new Configuration())
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => p.getName.startsWith(DocStore.ManifestPrefix) &&
        !p.getName.contains(".tmp"))
      .foreach { p =>
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        val out = fs.create(p, true)
        try out.write(body.linesIterator.filterNot(_.startsWith("#stats\t"))
          .map(_ + "\n").mkString.getBytes("UTF-8"))
        finally out.close()
      }
    assert(latest(dir).stats.isEmpty)
    // a stats line in a format this reader does not know is dropped,
    // not misread: the file stays unpruned
    val v2 = new Path(dir, f"${DocStore.ManifestPrefix}%s00000002")
    val garbled = {
      val in = fs.open(v2)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } + s"#stats\t${new Path(latest(dir).files.head._1).getName}\t10\tk\tL\t1\t2\n"
    val out = fs.create(v2, true)
    try out.write(garbled.getBytes("UTF-8")) finally out.close()
    assert(latest(dir).stats.isEmpty)
    val lookup = spark.read.format("docstore").load(dir).filter(col("k") === 1234L)
    assert(lookup.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(scanExec(lookup).inputPartitions.size == 5, "no stats, no pruning")
    DocStoreOps.merge(spark, dir,
      Seq((1234L, "u", -1.0), (8000L, "i", -2.0)).toDF("k", "s", "d"), "k")
    DocStoreOps.delete(spark, dir, Seq(3L, 5000L).toDF("k"), "k")
    val got = spark.read.format("docstore").load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val want = ((0L until 2000L).map(k => k -> s"v$k").toMap - 3L) +
      (1234L -> "u") + (8000L -> "i")
    assert(got == want)
    // the rewritten files carry stats; the untouched legacy ones do not
    val sn = latest(dir)
    assert(sn.stats.nonEmpty && sn.stats.size < sn.files.size)
  }

  test("merge and delete with at most 256 keys pick their files on the " +
    "driver with no Spark job; larger key sets take the distributed " +
    "path to the same files") {
    import spark.implicits._
    val dir = tmp("gds_stats_ops")
    writeRanged(dir, files = 8, rows = 4000L)
    val sn = latest(dir)
    val small = Seq(5L, 1500L, 1501L, 3999L, 10000L).toDF("k")
    val (picked, jobs) = jobsDuring {
      val known = DocStoreOps.driverKeys(small, "k")
      assert(known.contains(Seq(5L, 1500L, 1501L, 3999L, 10000L)))
      DocStoreOps.affectedFiles(spark, sn, small, "k", known)
    }
    assert(jobs == 0, s"driver-side file selection ran $jobs job(s)")
    assert(picked == DocStoreOps.affectedFiles(spark, sn, small, "k", None),
      "the distributed path agrees")
    val expect = sn.stats.collect {
      case (n, st) if (st.cols("k") match {
        case DocStore.LongRange(a, b) =>
          Seq(5L, 1500L, 1501L, 3999L).exists(k => k >= a && k <= b)
        case _ => true
      }) => n
    }.toSet
    assert(picked == expect && picked.size >= 3 && picked.size < 8)
    // 300 keys: over the bound, so the distributed path selects
    val many = spark.range(0L, 3000L, 10L).select(col("id").as("k"))
    assert(DocStoreOps.driverKeys(many, "k").isEmpty)
    val ks = (0L until 3000L by 10L)
    assert(DocStoreOps.affectedFiles(spark, sn, many, "k", None) ==
      DocStoreOps.affectedFiles(spark, sn, many, "k", Some(ks)))
    // end to end: the driver-path merge and delete, then a 300-key
    // merge on the distributed path, land the right rows and domains
    DocStoreOps.merge(spark, dir,
      Seq((1500L, "u", 0.0), (10000L, "i", 0.0)).toDF("k", "s", "d"), "k")
    assert(latest(dir).keyDomain.map(kd => (kd.min, kd.max))
      .contains((1500L, 10000L)))
    DocStoreOps.delete(spark, dir, Seq(5L, 3999L).toDF("k"), "k")
    DocStoreOps.merge(spark, dir, spark.range(2000L, 2600L, 2L)
      .select(col("id").as("k"), lit("w").as("s"), lit(1.0).as("d")), "k")
    assert(latest(dir).keyDomain.map(kd => (kd.min, kd.max))
      .contains((2000L, 2598L)))
    val got = spark.read.format("docstore").load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == ((0L until 4000L).map(k => k -> s"v$k").toMap - 5L - 3999L) +
      (1500L -> "u") + (10000L -> "i") ++ (2000L until 2600L by 2L).map(_ -> "w"))
    // a key without BIGINT ranges leaves every file affected: a delete
    // on the DOUBLE column still removes its row
    DocStoreOps.delete(spark, dir, Seq(0.5).toDF("d"), "d")
    assert(spark.read.format("docstore").load(dir)
      .filter(col("k") === 1L).count() == 0)
  }
}
