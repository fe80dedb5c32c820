package graft
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): one JSON line with per-query
  * steady-state seconds over SPARK_GRAFT_SF_DIR.
  *
  * Before the timed loop, every query runs once untimed at sf0.001 —
  * JVM/JIT + whole-stage-codegen warmup — so the timed numbers measure
  * the plans, not first-call compilation (the first query otherwise
  * pays ~3-4 s of one-time cost).
  */
object Bench {

  /** Host-drift controls (VERDICT r10 #7, institutionalizing the r10d
    * rule): three pinned keys whose sf0.1 min-of-3 seconds were
    * recorded in BASELINE.md's r8 full-inventory table on an idle
    * host. Every run re-times them and reports sec/recorded ratios —
    * a regression claim against any OTHER key must first beat these
    * ratios (untouched keys inflate 1.4-1.6x under host drift, so an
    * absolute per-query comparison alone cannot distinguish a real
    * regression from a stalled VM). Chosen to span plan shapes: a
    * wide codegen'd aggregation (q_tpch_q1), a shuffle-heavy
    * band-join pipeline (q_dedup_minhash), and a window sort
    * (q_window_rank); none of the three has been re-planned since the
    * r8 recording.
    */
  val controlKeys: Map[String, Double] = Map(
    "q_tpch_q1" -> 1.436,
    "q_dedup_minhash" -> 0.686,
    "q_window_rank" -> 0.513)

  type Builder = (SparkSession, String) => DataFrame

  /** Per key: min across three INTERLEAVED passes over all
    * `builders`. The host VM stalls entire-JVM execution for tens of
    * seconds at unpredictable points; back-to-back repeats of one query
    * let a single stall poison every sample of that query (observed in
    * BENCH_r02: 26 s recorded for a 1.2 s steady-state plan), whereas a
    * time-localized stall hits DIFFERENT queries in each interleaved
    * pass, so the per-query min strips it.
    *
    * A key that throws in ANY pass gets no time — the time to a throw
    * would benchmark a broken key as a fast one — and is returned in
    * the second map with its first error instead.
    */
  private[graft] def timedPasses(spark: SparkSession, sfDir: String,
      builders: Seq[(String, Builder)])
      : (Map[String, Double], Map[String, String]) = {
    val samples = (1 to 3).flatMap { _ =>
      // clear between passes: queries persist() intermediates, and the
      // cache manager matches identical re-constructed plans — without
      // this, passes 2-3 time warm-cache reads instead of plan cost
      spark.sharedState.cacheManager.clearCache()
      builders.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink forces full computation of every output column
        // (count() would let Catalyst prune the projections being timed)
        name -> (try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          Left(e.toString.linesIterator.nextOption().getOrElse("").take(500))
        })
      }
    }
    val byKey = samples.groupMap(_._1)(_._2)
    val failed = byKey.flatMap { case (k, ss) => ss.collectFirst { case Left(e) => k -> e } }
    val times = byKey.collect { case (k, ss) if !failed.contains(k) =>
      k -> ss.collect { case Right(t) => t }.min
    }
    (times, failed)
  }

  /** The JSON line: "queries" FIRST, "failed" next to last, and
    * "metric"/"value" LAST — a reader that keeps only the tail of
    * stdout clips a line of 140+ queries, so the headline total must
    * sit at the end of the line to survive.
    * Targeted runs (`targeted` non-empty): the controls ride along for
    * drift interpretation but must NOT inflate the headline total, or
    * totals become incomparable across runs with different arg sets
    * (ADVICE r11). A failed key has no time, so it is in no total.
    */
  private[graft] def report(sfDir: String, results: Map[String, Double],
      failed: Map[String, String], targeted: Seq[String]): String = {
    def q(s: String): String =
      "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""
    val qs = results.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val controls = controlKeys.toSeq.sortBy(_._1).flatMap { case (k, rec) =>
      results.get(k).map(sec =>
        s"""${q(k)}:{"sec":$sec,"recorded":$rec,"ratio":${sec / rec}}""")
    }.mkString("{", ",", "}")
    val fails = failed.toSeq.sorted.map { case (k, e) => s"${q(k)}:${q(e)}" }
      .mkString("{", ",", "}")
    val counted =
      if (targeted.nonEmpty) results.view.filterKeys(targeted.contains).toMap
      else results
    val total = counted.values.sum
    s"""{"queries":$qs,"sf":${q(sfDir)},"controls":$controls,""" +
      s""""failed":$fails,"metric":"total","unit":"sec","value":$total}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional args restrict the run to specific keys (targeted
    // re-measurement, mirroring Verify's key filter). Unknown keys are a
    // hard error: a typo would otherwise silently shrink the run and emit
    // a partial bench file that looks legitimate.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown query keys: ${unknown.mkString(", ")}")
    // the controls ride along even in targeted runs (~2.6 s recorded
    // total): a targeted re-measurement without same-session controls
    // cannot be interpreted under host drift
    val keyed =
      if (args.nonEmpty)
        SparkEntry.queries.view
          .filterKeys(k => args.contains(k) || controlKeys.contains(k)).toMap
      else SparkEntry.queries
    val warmDir = "/root/testdata/sf0.001"
    keyed.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val (results, failed) = timedPasses(spark, sfDir, keyed.toSeq)
    failed.foreach { case (k, e) => System.err.println(s"[bench] $k failed: $e") }
    val line = report(sfDir, results, failed, args.toSeq)
    println(line)
    // the builder's own complete artifact (VERDICT r10: BENCH_r10.json
    // arrived with a truncated tail, so the judge's per-query audit ran
    // on a 69-key sample) — every run writes the full line to a file
    // the stdout buffer cannot clip
    // targeted runs default to a suffixed file so a later single-query
    // re-measurement cannot silently clobber the last full-inventory
    // artifact (ADVICE r11); the suffix carries a hash of the SORTED
    // key set, not just the count, so two same-size targeted runs over
    // different keys get distinct artifacts (ADVICE r12)
    val defaultOut =
      if (args.nonEmpty) {
        val keyHash = java.lang.Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(args.sorted.mkString(",")))
        s"BENCH_SELF_targeted_${args.length}keys_$keyHash.json"
      } else "BENCH_SELF.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
