package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** REAL-THREAD optimistic-concurrency soak (r16): the hook-injected
  * races (DocStoreSpec) pin each conflict rule deterministically, but
  * single-threaded; this spec runs genuinely concurrent commits —
  * every writer released by one latch — so the version-CAS, the
  * rebase-retry loop, and the conflict aborts are exercised under
  * true wall-clock interleavings (the only way to catch an atomicity
  * hole in the exists-check + tmp-write + rename CAS itself).
  */
class DocStoreOccSoakSpec extends AnyFunSuite {
  // EXPECTED LOG NOISE: the loser aborts in this suite are PLANTED —
  // each rerun-until-landed loop emits Spark ERROR pairs per CME abort
  // (roughly 7+7 for the 8-way same-key merge race and up to 3+3 for
  // the 4-way DV race, interleaving-dependent). A real abort storm
  // looks like ERRORs WITHOUT this suite's "soak" dirs in the path.
  private lazy val spark = TestSpark.spark

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** Run `n` thunks concurrently, all released together; returns the
    * per-thunk outcome (None = success, Some(t) = what it threw).
    */
  private def race(n: Int)(f: Int => Unit): Seq[Option[Throwable]] = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new Array[Option[Throwable]](n)
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        results(i) =
          try { f(i); None }
          catch { case t: Throwable => Some(t) }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "soak timed out")
    results.toSeq
  }

  private def isCme(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException])

  test("publishAtomic: 16 threads racing the SAME manifest version — " +
    "exactly one wins, no silent clobber (ADVICE r16: an exists() " +
    "pre-check + rename(2) would let several 'win')") {
    val dir = tmp("gds_soak_cas")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val outcomes = race(16) { i =>
      // every thread writes ITS OWN body then races the same final name
      // — bypassing casVersion's fast-path pre-check so the publish
      // primitive itself is what's under test
      val tmpP = new org.apache.hadoop.fs.Path(dir, s"_manifest-v00000001.tmp-$i")
      val out = fs.create(tmpP, false)
      out.write(s"#ts\t$i\nwriter-$i\t1\n".getBytes("UTF-8"))
      out.close()
      val fin = new org.apache.hadoop.fs.Path(dir, "_manifest-v00000001")
      if (DocStore.publishAtomic(fs, tmpP, fin)) wins.incrementAndGet()
    }
    assert(outcomes.forall(_.isEmpty), s"${outcomes.flatten.headOption}")
    assert(wins.get() == 1, s"exactly one CAS winner, got ${wins.get()}")
    // the surviving body is the winner's, intact — and every loser's
    // tmp file was cleaned up
    val tmps = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.contains(".tmp"))
    assert(tmps.isEmpty, s"loser tmp files must be cleaned: ${tmps.toSeq}")
  }

  test("8 concurrent appends all land: every writer rebases past the " +
    "others, versions are consecutive, no row lost or duplicated") {
    val dir = tmp("gds_soak_append")
    spark.range(10).select(col("id").as("k"), lit(0L).as("v")).coalesce(1)
      .write.format("docstore").mode("overwrite").save(dir)
    val outcomes = race(8) { i =>
      spark.range(100L * (i + 1), 100L * (i + 1) + 10)
        .select(col("id").as("k"), lit(i.toLong).as("v")).coalesce(1)
        .write.format("docstore").mode("append").save(dir)
    }
    assert(outcomes.forall(_.isEmpty),
      s"appends conflict with nothing: ${outcomes.flatten.headOption}")
    assert(DocStore.latestVersion(dir).get == 9L,
      "8 commits on top of v1 = v9, no version skipped or stolen")
    val ks = spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((0L until 10L) ++
      (1 to 8).flatMap(i => 100L * i until 100L * i + 10)).sorted,
      "every append's rows present exactly once")
  }

  test("8 concurrent merges of the SAME new key: exactly one lands per " +
    "round, losers abort with CME, rerun-until-landed serializes all") {
    val dir = tmp("gds_soak_keydom")
    spark.range(64).select(col("id").as("k"), lit(0L).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    // every writer upserts key 999 with its own value, retrying on
    // conflict (the documented rerun contract) until it lands
    val landed = ArrayBuffer.empty[Int]
    val outcomes = race(8) { i =>
      val batch = spark.range(1)
        .select(lit(999L).as("k"), lit(i.toLong).as("v"))
      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        require(attempts <= 20, s"writer $i live-locked")
        try { DocStoreOps.merge(spark, dir, batch, "k"); done = true }
        catch { case t: Throwable if isCme(t) => () /* rerun */ }
      }
      landed.synchronized { landed += i }
    }
    assert(outcomes.forall(_.isEmpty), s"all must eventually land: " +
      s"${outcomes.flatten.headOption}")
    assert(landed.size == 8)
    val rows = spark.read.format("docstore").load(dir)
      .filter(col("k") === 999L).collect()
    assert(rows.length == 1,
      s"serializable: exactly ONE row for the contended key, got ${rows.length}")
    // the surviving value is one writer's upsert intact (which one is
    // the last COMMIT in version order — racing the `landed` bookkeeping
    // would make asserting on list order flaky, so pin membership only)
    assert((0L until 8L).contains(rows(0).getLong(1)),
      "final value must be exactly one writer's upsert")
    assert(spark.read.format("docstore").load(dir).count() == 65L,
      "base rows intact, one contended row")
  }

  test("two DISJOINT-key sparse merges with overlapping [min,max] " +
    "envelopes BOTH commit (r17 VERDICT r16 #5 — the #keydomain Bloom " +
    "proves them disjoint; pre-r17 the loser falsely aborted), while " +
    "a same-key race still aborts") {
    val dir = tmp("gds_soak_kdbloom")
    spark.range(64).select(col("id").as("k"), lit(0L).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.format("docstore").mode("overwrite").save(dir)
    def batch(ks: Seq[Long], v: Long) =
      spark.createDataFrame(ks.map(k => (k, v))).toDF("k", "v")
    // brand-new keys far above the table range: both merges are pure
    // appends (no file conflict) with INTERLEAVED key envelopes —
    // A=[1000,3000], B=[2000,4000] overlap, the key sets are disjoint
    graft.sources.DocStore.commitRaceHook = Some(() =>
      DocStoreOps.merge(spark, dir, batch(Seq(2000L, 4000L), 2L), "k"))
    try DocStoreOps.merge(spark, dir, batch(Seq(1000L, 3000L), 1L), "k")
    finally { graft.sources.DocStore.commitRaceHook = None }
    val got = spark.read.format("docstore").load(dir)
      .filter(col("k") >= 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1000L, 1L), (2000L, 2L), (3000L, 1L), (4000L, 2L)),
      "both disjoint sparse merges land without an abort")
    // precision is liveness-only: the SAME new key still conflicts
    graft.sources.DocStore.commitRaceHook = Some(() =>
      DocStoreOps.merge(spark, dir, batch(Seq(5000L), 7L), "k"))
    val ex = intercept[Throwable] {
      try DocStoreOps.merge(spark, dir, batch(Seq(5000L), 8L), "k")
      finally { graft.sources.DocStore.commitRaceHook = None }
    }
    assert(isCme(ex), s"same-key race must still abort, got $ex")
  }

  test("concurrent DV deletes of disjoint keys in the SAME file: " +
    "losers abort on the re-mask guard, reruns converge to the union") {
    val dir = tmp("gds_soak_dv")
    spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.format("docstore").mode("overwrite").save(dir)
    val outcomes = race(4) { i =>
      val keys = spark.range(10L * i, 10L * i + 3).select(col("id").as("k"))
      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        require(attempts <= 20, s"deleter $i live-locked")
        try { DocStoreOps.deleteVectors(spark, dir, keys, "k"); done = true }
        catch { case t: Throwable if isCme(t) => () }
      }
    }
    assert(outcomes.forall(_.isEmpty),
      s"all DV deletes must eventually land: ${outcomes.flatten.headOption}")
    val gone = (0 until 4).flatMap(i => 10L * i until 10L * i + 3).toSet
    val ks = spark.read.format("docstore").load(dir)
      .collect().map(_.getLong(0)).toSet
    assert(ks == (0L until 100L).toSet -- gone,
      "every delete batch applied exactly once — no mask lost to a race")
  }
}
