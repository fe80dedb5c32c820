package graft

/** Scaling-exponent readout (VERDICT r14 #7): the 2x bench gate only
  * ever measures sf0.1, so the 100-TB claims rest on plan-shape
  * arguments. This main times each given key at sf0.001 / sf0.01 /
  * sf0.1 (min over three interleaved passes per SF, the Bench
  * discipline) and reports the empirical per-decade scaling slope
  * log10(t(sf0.1) / t(sf0.01)) — the top decade, where fixed
  * job-scheduling overhead has mostly amortized. Slope 1.0 = perfectly
  * linear in data volume; < 1 = overhead-dominated (per-query constant
  * cost still amortizing); > 1.3 without a written justification in
  * BASELINE.md = next round's top fix.
  *
  * Usage: runMain graft.Scaling q_key1 q_key2 ...  (no args = the
  * heaviest-key default set). Writes SCALING.json.
  */
object Scaling {
  val defaultKeys: Seq[String] = Seq(
    "q_ann_hnsw_delta", "q_ann_hnsw_layered_persisted", "q_ann_hnsw_layered",
    "q_ann_hnsw", "q_betweenness", "q_ann_delete", "q_dedup_substring_exact",
    "q_pagerank", "q_louvain", "q_kcore", "q_dedup_span", "q_ann_compact",
    // r16: re-planned diagonal equi-join — the slope should read ~0 past
    // the rollup (the series is calendar-sized, not corpus-sized)
    "q_matrix_profile",
    // r17 wave 2: fixed-round BSP (3 doubling rounds however big the
    // corpus) — the slope should read job-overhead-dominated at toy SF
    // like the HNSW family
    "q_suffix_array")

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session()
    val keys = if (args.nonEmpty) args.toSeq else defaultKeys
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown query keys: ${unknown.mkString(", ")}")
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    // one untimed warmup pass at the smallest SF (JIT + codegen)
    LocalSpark.warmUp(spark, keys.map(k => k -> SparkEntry.queries(k)), sfs.head)
      .foreach { case (k, e) => System.err.println(s"[scaling] $k warm-up failed: $e") }
    // per (sf, key): min over three interleaved passes. A failed pass
    // records None, NOT a near-zero elapsed time (ADVICE r15: timing an
    // exception as a measurement silently reports a bogus slope) — a
    // key that failed at any SF emits "failed" in the JSON instead of
    // numbers.
    val times: Map[(String, String), Option[Double]] = (1 to 3).flatMap { _ =>
      spark.sharedState.cacheManager.clearCache()
      sfs.flatMap { sf =>
        keys.map { k =>
          val t0 = System.nanoTime()
          val ok =
            try {
              LocalSpark.noop(SparkEntry.queries(k)(spark, sf))
              true
            } catch { case e: Throwable =>
              System.err.println(s"[scaling] $k failed at $sf: ${e.getMessage}")
              false
            }
          (sf, k) -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
        }
      }
    }.groupBy(_._1).map { case (sk, ts) =>
      // all three passes must succeed — a key that throws is flaky or
      // broken at that SF, and a min over the surviving passes would
      // still hide the failure
      val vs = ts.map(_._2)
      sk -> (if (vs.forall(_.isDefined)) Some(vs.flatten.min) else None)
    }
    val lines = keys.map { k =>
      (times((sfs(0), k)), times((sfs(1), k)), times((sfs(2), k))) match {
        case (Some(t1), Some(t2), Some(t3)) =>
          val slope = math.log10(t3 / t2) // per-decade exponent, top decade
          val slopeLow = math.log10(t2 / t1)
          f"""  "$k": {"t_sf0001": $t1%.3f, "t_sf001": $t2%.3f, "t_sf01": $t3%.3f, "slope_top": $slope%.3f, "slope_low": $slopeLow%.3f}"""
        case _ =>
          s"""  "$k": "failed""""
      }
    }
    val json = "{\n" + lines.mkString(",\n") + "\n}\n"
    print(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALING.json"), json)
    spark.stop()
  }
}
