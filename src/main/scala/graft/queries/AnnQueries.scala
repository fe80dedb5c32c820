package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.util.Det._

/** Approximate-nearest-neighbor inventory (north-star "similarity
  * search"): brute-force cosine top-k as the exact baseline, and an
  * IVF (inverted-file) variant as the sub-linear scale path — probe the
  * top-2 nearest coarse centroids, scan only those clusters.
  *
  * Scale design: brute force = broadcast probes × partition-parallel
  * corpus scan (linear, embarrassingly parallel); IVF = the same with
  * the corpus pre-partitioned by cluster id, so each probe touches
  * ~2/k of the data. Centroids here are the per-label mean vectors
  * (labels play the role of a trained coarse quantizer).
  */
object AnnQueries {

  /** Shared oracle fragment: per-label exact-decimal centroids and the
    * top-2-nearest-centroid probe assignment, from the raw embeddings
    * table. Used by q_ann_ivf AND q_ann_recall so a quantizer change
    * (cluster count, rounding grid, tie-break) cannot desynchronize
    * the index from its recall measurement.
    */
  private val ivfQuantizerDuck =
    """expl AS (
      |  SELECT label, unnest(generate_series(1, len(embedding))) AS ord,
      |         unnest(embedding) AS val
      |  FROM embeddings),
      |cent_long AS (
      |  SELECT label, ord,
      |         round(CAST(sum(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c
      |  FROM expl GROUP BY label, ord),
      |cent AS (SELECT label, list(c ORDER BY ord) AS ce FROM cent_long GROUP BY label),
      |iprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
      |pc AS (
      |  SELECT probe_id, label,
      |    round(list_sum(list_transform(list_zip(pe, ce), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6) AS d2c
      |  FROM iprobes CROSS JOIN cent),
      |top2 AS (SELECT probe_id, label FROM (
      |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d2c, label) AS cr FROM pc) t
      |  WHERE cr <= 2)""".stripMargin

  /** Spark twin of [[ivfQuantizerDuck]]'s `cent`: per-label centroids
    * as exact-decimal means, dims reassembled in order.
    */
  private def ivfCentroids(e: org.apache.spark.sql.DataFrame) = e
    .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
    .groupBy("label", "pos")
    .agg(round(dbl(sum(col("val").cast("decimal(20,10)"))) / count(lit(1)), 6).as("c"))
    .groupBy("label")
    .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("ce"))

  /** Spark twin of [[ivfQuantizerDuck]]'s `top2`: the 2 nearest coarse
    * centroids per probe, carrying the probe vector —
    * (probe_id, pe, label). `cent` is the centroid table — computed
    * in-plan ([[ivfCentroids]]) or read back from a persisted index
    * (q_ann_persisted), which is exactly the seam a build/probe
    * lifecycle needs.
    */
  private def ivfTop2Cent(cent: org.apache.spark.sql.DataFrame,
                          probes: org.apache.spark.sql.DataFrame) = {
    val wc = Window.partitionBy("probe_id").orderBy(col("d2c"), col("label"))
    probes.join(broadcast(cent))
      .withColumn("d2c", round(l2sq("pe", "ce"), 6))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= 2)
      .select("probe_id", "pe", "label")
  }

  private def ivfTop2(e: org.apache.spark.sql.DataFrame,
                      probes: org.apache.spark.sql.DataFrame) =
    ivfTop2Cent(ivfCentroids(e), probes)

  /** The q_ann_ivf search given an arbitrary centroid source: top-2
    * clusters per probe, exact top-10 within them. Exposed so
    * AnnPersistSpec can drive the PROBE plan alone against a
    * persisted index table.
    */
  private[graft] def ivfSearch(e: org.apache.spark.sql.DataFrame,
                               cent: org.apache.spark.sql.DataFrame) = {
    val probes = annProbes(e)
    val top2 = ivfTop2Cent(cent, probes)
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
    e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("label"))
      .join(broadcast(top2), "label")
      .withColumn("d2", round(l2sq("pe", "ce"), 6))
      .withColumn("rk", lng(row_number().over(w)))
      .filter(col("rk") <= 10)
      .select("probe_id", "rk", "cand_id", "label", "d2")
      .orderBy("probe_id", "rk")
  }

  /** Shared oracle fragment: the exact full-corpus L2 top-10 per probe
    * (`exact(probe_id, cand_id)`) with its own whole-vector
    * `wprobes` / `corpus` CTEs. The ground-truth arm both recall
    * measurements (IVF and PQ) are judged against — shared so the
    * truth cannot drift between them.
    */
  private val exactL2Top10Duck =
    """wprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
      |corpus AS (SELECT vec_id AS cand_id, embedding AS ce2, label FROM embeddings WHERE vec_id >= 5),
      |exact AS (SELECT probe_id, cand_id FROM (
      |  SELECT p.probe_id, c.cand_id,
      |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
      |      round(list_sum(list_transform(list_zip(p.pe, c.ce2), q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)) * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)))), 6), c.cand_id) AS rk
      |  FROM wprobes p CROSS JOIN corpus c) s WHERE rk <= 10)""".stripMargin

  /** The fixed probe set (vec_id < 5) as (probe_id, pe). */
  private def annProbes(e: DataFrame) = e.filter(col("vec_id") < 5)
    .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))

  /** The searched corpus (vec_id >= 5) as (vec_id, embedding, label). */
  private def annCorpus(e: DataFrame) = e.filter(col("vec_id") >= 5)
    .select(col("vec_id"), col("embedding"), col("label"))

  /** Spark twin of [[exactL2Top10Duck]]: (probe_id, cand_id), the exact
    * L2 top-10 of `cands` (vec_id, embedding) per probe — by default
    * the whole corpus; the delete paths pass the survivors.
    */
  private def exactL2Top10(probes: DataFrame, cands: DataFrame) = {
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
    cands.select(col("vec_id").as("cand_id"), col("embedding").as("ce2"))
      .join(broadcast(probes))
      .withColumn("d2", round(l2sq("pe", "ce2"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("probe_id", "cand_id")
  }

  /** Per probe, one hit count per `(top, name)`: how many of that
    * (probe_id, cand_id) top-10's rows are in the exact top-10 of
    * `cands` — the readout every recall key shares.
    */
  private def hitsVsExact(probes: DataFrame, cands: DataFrame,
      tops: (DataFrame, String)*): DataFrame = {
    val exact = exactL2Top10(probes, cands)
    tops.map { case (top, n) => exact
        .join(top.withColumn("hit", lit(1)), Seq("probe_id", "cand_id"), "left")
        .groupBy("probe_id").agg(lng(count(col("hit"))).as(n))
    }.reduce(_.join(_, "probe_id"))
  }

  /** hits/10 on the 6-grid. */
  private def recall(hits: String): Column = round(dbl(col(hits)) / lit(10.0), 6)

  /** Recall@10 of a (probe_id, cand_id) top-10 against the full-corpus
    * exact arm: (probe_id, hits, recall_at_10).
    */
  private def recallAt10(e: DataFrame, top: DataFrame): DataFrame =
    hitsVsExact(annProbes(e), annCorpus(e), top -> "hits")
      .withColumn("recall_at_10", recall("hits"))

  private val annCosine = QueryDef(
    "q_ann_cosine",
    "Exact brute-force cosine top-10 per probe (the correctness " +
      "baseline every ANN variant is judged against).",
    Some("""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
           |corpus AS (SELECT vec_id AS cand_id, embedding AS ce, label FROM embeddings WHERE vec_id >= 5),
           |scored AS (
           |  SELECT probe_id, cand_id, label,
           |    round(list_sum(list_transform(list_zip(pe, ce), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |          (sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |           sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
           |  FROM probes CROSS JOIN corpus),
           |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rk
           |           FROM scored)
           |SELECT probe_id, rk, cand_id, label, cos_sim
           |FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val corpus = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("label"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("cand_id"))
      corpus.join(broadcast(probes))
        .withColumn("cos_sim", round(cosine("pe", "ce"), 6))
        .withColumn("rk", lng(row_number().over(w)))
        .filter(col("rk") <= 10)
        .select("probe_id", "rk", "cand_id", "label", "cos_sim")
        .orderBy("probe_id", "rk")
    }
  )

  private val annIvf = QueryDef(
    "q_ann_ivf",
    "IVF-style ANN: per-label centroids as the coarse quantizer; each " +
      "probe ranks centroids by L2, scans only the top-2 clusters, " +
      "then exact top-10 within them. Sub-linear: ~2/10 of the corpus " +
      "touched per probe.",
    Some(s"""WITH $ivfQuantizerDuck,
            |search AS (
            |  SELECT p.probe_id, e.vec_id AS cand_id, e.label,
            |    round(list_sum(list_transform(list_zip(p.pe, e.embedding), q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)) * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)))), 6) AS d2
            |  FROM top2 t
            |  JOIN iprobes p ON p.probe_id = t.probe_id
            |  JOIN embeddings e ON e.label = t.label AND e.vec_id >= 5),
            |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d2, cand_id) AS BIGINT) AS rk
            |           FROM search)
            |SELECT probe_id, rk, cand_id, label, d2
            |FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      ivfSearch(e, ivfCentroids(e))
    }
  )

  /** Persisted-index build/probe lifecycle (VERDICT r10 #3): every
    * other ANN key builds and consumes its index inside ONE plan, but
    * production separates them — an index is built once (a job),
    * persisted as a table, and probed by later queries that must not
    * re-run any build stage. This key makes that lifecycle literal:
    * the BUILD step writes the IVF centroid table as parquet into the
    * session warehouse (the q_join_bucketed persistence seam, keyed
    * by sf tag), and the PROBE is [[ivfSearch]] over a FRESH SCAN of
    * that table — a plan whose only inputs are the corpus and the
    * index file (AnnPersistSpec pins: no Generate/posexplode build
    * stages in the probe plan, and the index path appears in its
    * scan). Results must match q_ann_ivf row-for-row (same oracle),
    * proving the index survives the plan that built it.
    *
    * Scale: the build is the one-pass centroid aggregation; the
    * probe reads a labels-sized parquet table and broadcasts it —
    * at 100 TB the build amortizes over every query that probes.
    */
  private val annPersisted = QueryDef(
    "q_ann_persisted",
    "Build-then-probe ANN index lifecycle: the IVF centroid table is " +
      "written to a parquet index file by a separate build job, and " +
      "the probe plan reads it back with a fresh scan (no build " +
      "stages) — top-2-cluster search identical to q_ann_ivf " +
      "row-for-row.",
    annIvf.oracle,
    (s, d) => {
      val e = embeddings(s, d)
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val idxPath = s"$wh/graft_ivf_cent_$sfTag"
      // BUILD: its own job, its own plan; overwrite keeps the index
      // honest if the underlying table changed (labels-sized write)
      ivfCentroids(e).write.mode("overwrite").parquet(idxPath)
      // PROBE: only the corpus scan + the persisted index scan
      ivfSearch(e, s.read.parquet(idxPath))
    }
  )

  /** Shared oracle fragment: the hyperplane-LSH band keys and the
    * probe↔corpus band-sharing candidate set (`cand(probe_id,
    * cand_id)`). Used by q_ann_lsh AND q_lsh_recall so a bucketing
    * change (groups, bits, hash) cannot desynchronize the index from
    * its recall measurement — the ivfQuantizerDuck discipline.
    */
  private val lshCandDuck =
    """keyed AS (
      |  SELECT vec_id, embedding, unnest(
      |    list_transform(generate_series(0, 3), g -> g * 256 +
      |      list_reduce(list_prepend(0, list_transform(generate_series(0, 7),
      |        p -> CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip(embedding, generate_series(1, len(embedding))),
      |                       q -> CAST(q[1] AS DOUBLE) * (((((g * 8 + p) * 64 + (q[2] - 1)) * 2654435761) % 97) - 48))),
      |                       (acc, v) -> acc + v) > 0
      |                  THEN 1 ELSE 0 END)), (a, b) -> a * 2 + b))) AS band_key
      |  FROM embeddings),
      |cand AS (
      |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
      |  FROM keyed p JOIN keyed c ON p.band_key = c.band_key
      |  WHERE p.vec_id < 5 AND c.vec_id >= 5)""".stripMargin

  /** Spark twin of [[lshCandDuck]]: the distinct (probe_id, cand_id)
    * band-sharing candidate set — probes' keys broadcast into the
    * band-partitioned corpus keys.
    */
  private def lshCandidates(e: org.apache.spark.sql.DataFrame) = {
    import graft.functions.VectorFunctions._
    def keyed(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      explode(hyperplaneLshKeys(col("embedding"), 4, 8, 64)).as("band_key"))
    keyed(e.filter(col("vec_id") >= 5)).as("c")
      .join(broadcast(keyed(e.filter(col("vec_id") < 5)).as("p")), "band_key")
      .select(col("p.vec_id").as("probe_id"), col("c.vec_id").as("cand_id"))
      .distinct()
  }

  private val annLsh = QueryDef(
    "q_ann_lsh",
    "LSH-bucketed ANN: random-hyperplane band keys (4 groups × 8 sign " +
      "bits, native HyperplaneLshKeys expression) bucket the corpus; " +
      "each probe scans only vectors sharing at least one band key, " +
      "then exact cosine top-10 within the candidates. The bucket join " +
      "replaces the all-pairs scan — at scale the corpus is hash-" +
      "partitioned by band_key and probes broadcast.",
    Some(s"""WITH $lshCandDuck,
           |scored AS (
           |  SELECT cand.probe_id, cand.cand_id, ce.label,
           |    round(list_sum(list_transform(list_zip(pe.embedding, ce.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
           |          (sqrt(list_sum(list_transform(pe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
           |           sqrt(list_sum(list_transform(ce.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
           |  FROM cand
           |  JOIN embeddings pe ON pe.vec_id = cand.probe_id
           |  JOIN embeddings ce ON ce.vec_id = cand.cand_id),
           |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rk
           |           FROM scored)
           |SELECT probe_id, rk, cand_id, label, cos_sim
           |FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val cand = lshCandidates(e)
      val w = Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("cand_id"))
      cand
        .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
          col("label")), "cand_id")
        .join(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))), "probe_id")
        .withColumn("cos_sim", round(cosine("pe", "ce"), 6))
        .withColumn("rk", lng(row_number().over(w)))
        .filter(col("rk") <= 10)
        .select("probe_id", "rk", "cand_id", "label", "cos_sim")
        .orderBy("probe_id", "rk")
    }
  )

  /** Same result as [[annCosine]] (same DuckDB twin), computed through
    * the map-side partial top-k [[graft.functions.TopKByScore]]
    * Aggregator instead of a window sort: each map task reduces its
    * partition to k candidates per probe *before* the shuffle, so the
    * exchange carries O(partitions·k) rows per probe instead of the full
    * N·M score matrix — the shape that survives 100 TB.
    */
  private val annTopkAgg = QueryDef(
    "q_ann_topk_agg",
    "Brute-force cosine top-10 via partial-aggregating TopKByScore " +
      "Aggregator (map-side combine replaces the window sort's full " +
      "shuffle of the score matrix).",
    annCosine.oracle,
    (s, d) => {
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val corpus = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("label"))
      val topk = graft.functions.TopKByScore.topK(10)
      corpus.join(broadcast(probes))
        .withColumn("cos_sim", round(cosine("pe", "ce"), 6))
        .groupBy("probe_id")
        .agg(topk(col("cand_id"), col("label"), col("cos_sim")).as("top"))
        .select(col("probe_id"), posexplode(col("top")).as(Seq("p0", "c")))
        .select(col("probe_id"), lng(col("p0") + 1).as("rk"),
          col("c.cand_id").as("cand_id"), col("c.label").as("label"),
          col("c.score").as("cos_sim"))
        .orderBy("probe_id", "rk")
    }
  )

  /** ANN quality evaluation: recall@10 of the IVF arm against the exact
    * full-corpus L2 top-10. Every production ANN deployment carries this
    * measurement next to the index (the quantizer is only as good as its
    * measured recall). Both arms reuse the inventory's own shapes: exact
    * = broadcast-probe corpus scan, IVF = top-2-cluster probe; the final
    * comparison is a LEFT JOIN of two 50-row top-k sets — driver-trivial.
    * hits/10 is one IEEE division of small integers, bit-identical in
    * both engines.
    */
  private val annRecall = QueryDef(
    "q_ann_recall",
    "Recall@10 of IVF ANN vs exact L2 top-10 per probe: count of " +
      "approximate results appearing in the exact top-10. The " +
      "measurement operator that closes the ANN loop — index quality " +
      "as a number, not a hope.",
    Some(s"""WITH $ivfQuantizerDuck,
           |$exactL2Top10Duck,
           |ivf AS (SELECT probe_id, cand_id FROM (
           |  SELECT t.probe_id, c.cand_id,
           |    row_number() OVER (PARTITION BY t.probe_id ORDER BY
           |      round(list_sum(list_transform(list_zip(p.pe, c.ce2), q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)) * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)))), 6), c.cand_id) AS rk
           |  FROM top2 t JOIN iprobes p ON p.probe_id = t.probe_id
           |  JOIN corpus c ON c.label = t.label) s WHERE rk <= 10)
           |SELECT e.probe_id, CAST(count(i.cand_id) AS BIGINT) AS hits,
           |       round(count(i.cand_id) / 10.0, 6) AS recall_at_10
           |FROM exact e LEFT JOIN ivf i ON e.probe_id = i.probe_id AND e.cand_id = i.cand_id
           |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val corpus = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce2"), col("label"))
      val top2 = ivfTop2(e, probes)
      val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
      val ivf = corpus.join(broadcast(top2), "label")
        .withColumn("d2", round(l2sq("pe", "ce2"), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      recallAt10(e, ivf).orderBy("probe_id")
    }
  )

  /** Recall@10 of the LSH-bucketed arm (VERDICT r11 #4): IVF, PQ,
    * IVF-PQ and the graph index all price themselves through the
    * shared exact arm; this closes the four-family comparison table
    * (prune = IVF, hash = LSH, compress = PQ, graph = HNSW). The LSH
    * candidate set comes from the SAME [[lshCandDuck]]/
    * [[lshCandidates]] fragments q_ann_lsh searches with, ranked by
    * the shared exact L2 within candidates, top-10, hit-counted
    * against [[exactL2Top10Duck]] — so bucketing recall is measured
    * on exactly the index the search uses.
    *
    * Scale: candidates are band-join-bounded (never all-pairs), the
    * exact arm is the broadcast-probe corpus scan, and the final
    * comparison joins two 50-row top-k sets.
    */
  private val lshRecall = QueryDef(
    "q_lsh_recall",
    "Recall@10 of the LSH band-bucketed candidate arm vs the shared " +
      "exact L2 top-10 per probe — completes the four-index-family " +
      "pricing table (IVF prune / LSH hash / PQ compress / HNSW graph).",
    Some(s"""WITH $lshCandDuck,
            |$exactL2Top10Duck,
            |lsh AS (SELECT probe_id, cand_id FROM (
            |  SELECT c.probe_id, c.cand_id,
            |    row_number() OVER (PARTITION BY c.probe_id ORDER BY ${d2Duck("p.pe", "co.ce2")}, c.cand_id) AS rk
            |  FROM cand c JOIN wprobes p ON p.probe_id = c.probe_id
            |  JOIN corpus co ON co.cand_id = c.cand_id) s WHERE rk <= 10)
            |SELECT e.probe_id, CAST(count(l.cand_id) AS BIGINT) AS hits,
            |       round(count(l.cand_id) / 10.0, 6) AS recall_at_10
            |FROM exact e LEFT JOIN lsh l ON e.probe_id = l.probe_id AND e.cand_id = l.cand_id
            |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val corpus = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce2"))
      val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
      val lsh = lshCandidates(e)
        .join(corpus, "cand_id")
        .join(broadcast(probes), "probe_id")
        .withColumn("d2", round(l2sq("pe", "ce2"), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      recallAt10(e, lsh).orderBy("probe_id")
    }
  )

  /** Filtered ANN (VERDICT r11 #5): a metadata predicate composed
    * with the vector search — the pre-filter/post-filter recall trade
    * every production vector store documents. The predicate is
    * vec_id % 3 = 0 (a ~1/3-selective metadata filter orthogonal to
    * the geometry, the source/date-filter shape). PRE-FILTER searches
    * the top-2 IVF clusters restricted to matching vectors (the
    * filter pushes INTO the candidate scan); POST-FILTER takes the
    * unfiltered top-10 and drops non-matching rows (≤ 10 survive).
    * Both are measured as recall@10 against the exact truth over the
    * FILTERED corpus. post ⊆ pre structurally (a post survivor is a
    * matching cluster candidate whose filtered rank ≤ its unfiltered
    * rank ≤ 10), so post_recall ≤ pre_recall per probe — pinned by
    * FilteredAnnSpec.
    *
    * Scale: both arms ride the existing broadcast-probe cluster scan;
    * the filtered truth is the broadcast-probe filtered-corpus scan.
    * The quantizer assignment (top2) computes once and is tiny.
    */
  private val annFiltered = QueryDef(
    "q_ann_filtered",
    "Filtered ANN: a 1/3-selective metadata predicate composed with " +
      "the IVF top-10 search — pre-filter (predicate pushed into the " +
      "cluster scan) vs post-filter (predicate applied to the " +
      "unfiltered top-10) recall@10 against the filtered exact truth.",
    Some(s"""WITH $ivfQuantizerDuck,
            |fcorp AS (SELECT vec_id AS cand_id, embedding AS ce2, label
            |          FROM embeddings WHERE vec_id >= 5 AND vec_id % 3 = 0),
            |fexact AS (SELECT probe_id, cand_id FROM (
            |  SELECT p.probe_id, c.cand_id,
            |    row_number() OVER (PARTITION BY p.probe_id ORDER BY ${d2Duck("p.pe", "c.ce2")}, c.cand_id) AS rk
            |  FROM iprobes p CROSS JOIN fcorp c) s WHERE rk <= 10),
            |pre AS (SELECT probe_id, cand_id FROM (
            |  SELECT t.probe_id, c.cand_id,
            |    row_number() OVER (PARTITION BY t.probe_id ORDER BY ${d2Duck("p.pe", "c.ce2")}, c.cand_id) AS rk
            |  FROM top2 t JOIN iprobes p ON p.probe_id = t.probe_id
            |  JOIN fcorp c ON c.label = t.label) s WHERE rk <= 10),
            |full10 AS (SELECT probe_id, cand_id FROM (
            |  SELECT t.probe_id, c.vec_id AS cand_id,
            |    row_number() OVER (PARTITION BY t.probe_id ORDER BY ${d2Duck("p.pe", "c.embedding")}, c.vec_id) AS rk
            |  FROM top2 t JOIN iprobes p ON p.probe_id = t.probe_id
            |  JOIN embeddings c ON c.label = t.label AND c.vec_id >= 5) s WHERE rk <= 10),
            |post AS (SELECT probe_id, cand_id FROM full10 WHERE cand_id % 3 = 0)
            |SELECT e.probe_id,
            |       CAST(count(pr.cand_id) AS BIGINT) AS pre_hits,
            |       round(count(pr.cand_id) / 10.0, 6) AS pre_recall,
            |       CAST(count(po.cand_id) AS BIGINT) AS post_hits,
            |       round(count(po.cand_id) / 10.0, 6) AS post_recall
            |FROM fexact e
            |LEFT JOIN pre pr ON pr.probe_id = e.probe_id AND pr.cand_id = e.cand_id
            |LEFT JOIN post po ON po.probe_id = e.probe_id AND po.cand_id = e.cand_id
            |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val pred = col("cand_id") % 3 === 0
      val probes = annProbes(e)
      val corpusAll = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce2"),
          col("label"))
      val fcorp = corpusAll.filter(pred)
      val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
      val fexact = fcorp.drop("label").join(broadcast(probes))
        .withColumn("d2", round(l2sq("pe", "ce2"), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      val top2 = ivfTop2(e, probes).persist()
      def clusterTop10(c: org.apache.spark.sql.DataFrame) = c
        .join(broadcast(top2), "label")
        .withColumn("d2", round(l2sq("pe", "ce2"), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      val pre = clusterTop10(fcorp)
      val post = clusterTop10(corpusAll).filter(pred)
      fexact
        .join(pre.withColumn("preh", lit(1)), Seq("probe_id", "cand_id"), "left")
        .join(post.withColumn("posth", lit(1)), Seq("probe_id", "cand_id"), "left")
        .groupBy("probe_id")
        .agg(lng(count(col("preh"))).as("pre_hits"),
          round(dbl(count(col("preh"))) / lit(10.0), 6).as("pre_recall"),
          lng(count(col("posth"))).as("post_hits"),
          round(dbl(count(col("posth"))) / lit(10.0), 6).as("post_recall"))
        .transform(materializeThenRelease(_, top2))
        .orderBy("probe_id")
    }
  )

  /** Incremental index maintenance (VERDICT r11 #8 stretch): the
    * daily-ingestion story for the ANN index, the way
    * q_dedup_incremental is for dedup. q_ann_persisted rebuilds the
    * centroid table from the full corpus on every build; here the
    * persisted index is the per-(label, dim) EXACT-DECIMAL sum/count
    * partials (the q_incr_agg merge discipline), and a new batch
    * (vec_id % 7 = 0, ~14%) refreshes it by partial-sum merge — the
    * refresh scans ONLY the delta and the labels×dims-sized partial
    * table, never the base corpus. Decimal addition is associative,
    * so refreshed centroids equal full-rebuild centroids EXACTLY and
    * the probe is row-identical to q_ann_ivf (same oracle) — pinned
    * by IvfRefreshSpec.
    *
    * Scale: at 100 TB the base build runs once; each ingestion batch
    * costs one delta aggregation + a tiny merge, and every downstream
    * probe reads the refreshed labels-sized index.
    */
  private val annIvfRefresh = QueryDef(
    "q_ann_ivf_refresh",
    "Incremental ANN index refresh: persisted per-(label, dim) exact " +
      "decimal sum/count partials merged with a new-batch delta (no " +
      "base re-scan); refreshed centroids probe row-identically to " +
      "the full rebuild.",
    annIvf.oracle,
    (s, d) => {
      val e = embeddings(s, d)
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val idxPath = s"$wh/graft_ivf_partials_$sfTag"
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy("label", "pos")
        .agg(sum(col("val").cast("decimal(20,10)")).as("sv"),
          count(lit(1)).as("n"))
      // BUILD job: base partials persisted (labels×dims-sized write)
      partials(e.filter(col("vec_id") % 7 =!= 0))
        .write.mode("overwrite").parquet(idxPath)
      // REFRESH job: delta partials + persisted base, merged by exact
      // decimal addition — associativity makes refresh == rebuild
      val merged = s.read.parquet(idxPath)
        .unionByName(partials(e.filter(col("vec_id") % 7 === 0)))
        .groupBy("label", "pos")
        .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      val cent = merged
        .select(col("label"), col("pos"),
          round(dbl(col("sv")) / col("n"), 6).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("ce"))
      // PROBE: the q_ann_ivf search over the refreshed centroids
      ivfSearch(e, cent)
    }
  )

  /** Product quantization — THE memory-bounded ANN path at 100 TB: a
    * 64-dim float vector (256 bytes) compresses to 8 one-byte codes;
    * the scan phase touches only the code table plus a per-probe
    * 8×16 distance table (asymmetric distance computation). Pipeline:
    * deterministic seeds (vec_ids 5..20) → one Lloyd step (assign +
    * exact-decimal re-mean) → encode → ADC top-10. Every stage is a
    * broadcast join (codebook = 128 rows) + partitioned window or
    * aggregation; the corpus shuffles once per stage, never all-pairs.
    * ADC sums go through DECIMAL(18,6) so adding 8 per-subspace
    * distances is order-exact.
    */
  /** Shared oracle fragment: the full PQ pipeline — subvector slicing,
    * deterministic-seed init, one Lloyd step, corpus encoding, and the
    * ADC distance table — ending in `adc(probe_id, cand_id, adc_d2)`.
    * Used by q_ann_pq AND q_pq_recall so a pipeline change (subspace
    * count, codebook size, seeding) cannot desynchronize the index
    * from its recall measurement. (`probes` here is the SUBVECTOR
    * probe table; the exact arm's whole-vector probes live in
    * [[exactL2Top10Duck]] as `wprobes`.)
    */
  private val pqAdcDuck =
    """sub AS (SELECT unnest(generate_series(0, 7)) AS sid),
      |vecs AS (
      |  SELECT vec_id, sid, list_transform(embedding[1 + sid*8 : 8 + sid*8], x -> CAST(x AS DOUBLE)) AS sv
      |  FROM embeddings CROSS JOIN sub),
      |init AS (
      |  SELECT sid, vec_id - 5 AS cw, sv AS cv FROM vecs WHERE vec_id >= 5 AND vec_id < 21),
      |assign AS (
      |  SELECT vec_id, sid, cw, sv FROM (
      |    SELECT v.vec_id, v.sid, i.cw, v.sv,
      |      row_number() OVER (PARTITION BY v.vec_id, v.sid ORDER BY
      |        round(list_sum(list_transform(list_zip(v.sv, i.cv), p -> (p[1]-p[2])*(p[1]-p[2]))), 6), i.cw) AS rk
      |    FROM vecs v JOIN init i ON i.sid = v.sid
      |    WHERE v.vec_id >= 5) t WHERE rk = 1),
      |cb_long AS (
      |  SELECT sid, cw, d.ord,
      |    round(CAST(sum(CAST(sv[d.ord] AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c
      |  FROM assign CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS ord) d
      |  GROUP BY 1, 2, 3),
      |cb AS (SELECT sid, cw, list(c ORDER BY ord) AS cv FROM cb_long GROUP BY sid, cw),
      |enc AS (
      |  SELECT vec_id, sid, cw FROM (
      |    SELECT v.vec_id, v.sid, c.cw,
      |      row_number() OVER (PARTITION BY v.vec_id, v.sid ORDER BY
      |        round(list_sum(list_transform(list_zip(v.sv, c.cv), p -> (p[1]-p[2])*(p[1]-p[2]))), 6), c.cw) AS rk
      |    FROM vecs v JOIN cb c ON c.sid = v.sid
      |    WHERE v.vec_id >= 5) t WHERE rk = 1),
      |probes AS (SELECT vec_id AS probe_id, sid, sv FROM vecs WHERE vec_id < 5),
      |dist AS (
      |  SELECT p.probe_id, c.sid, c.cw,
      |    round(list_sum(list_transform(list_zip(p.sv, c.cv), q -> (q[1]-q[2])*(q[1]-q[2]))), 6) AS d2
      |  FROM probes p JOIN cb c ON c.sid = p.sid),
      |adc AS (
      |  SELECT d.probe_id, e.vec_id AS cand_id,
      |         CAST(sum(CAST(d.d2 AS DECIMAL(18,6))) AS DOUBLE) AS adc_d2
      |  FROM enc e JOIN dist d ON d.sid = e.sid AND d.cw = e.cw
      |  GROUP BY 1, 2)""".stripMargin

  /** Spark twin of [[pqAdcDuck]]: (probe_id, cand_id, adc_d2).
    * `restrict` (probe_id, cand_id) — when present — prunes the
    * candidate set with a semi-join BEFORE the per-pair 8-term ADC
    * aggregation runs, so a coarse index (q_ann_ivfpq's IVF stage) cuts
    * the ADC work, not just the output.
    */
  private def pqAdc(e: org.apache.spark.sql.DataFrame,
                    restrict: Option[org.apache.spark.sql.DataFrame] = None) = {
    // slice every vector into 8 double-promoted subvectors
    val vecs = e.select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("sid"),
        col("embedding"))
      .withColumn("sv", expr(
        "transform(slice(embedding, 1 + sid * 8, 8), x -> CAST(x AS DOUBLE))"))
      .select("vec_id", "sid", "sv")
    val corpus = vecs.filter(col("vec_id") >= 5)
    val init = vecs.filter(col("vec_id") >= 5 && col("vec_id") < 21)
      .select(col("sid"), (col("vec_id") - 5).as("cw"), col("sv").as("cv"))
    val wAsg = Window.partitionBy("vec_id", "sid").orderBy(col("d2"), col("cw"))
    val assign = corpus.join(broadcast(init), "sid")
      .withColumn("d2", round(l2sq("sv", "cv"), 6))
      .withColumn("rk", row_number().over(wAsg))
      .filter(col("rk") === 1)
      .select("vec_id", "sid", "cw", "sv")
    // one Lloyd step: exact-decimal re-mean per (sid, cw, dim)
    val cb = assign
      .select(col("sid"), col("cw"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("sid", "cw", "pos")
      .agg(round(dbl(sum(col("v").cast("decimal(20,10)"))) / count(lit(1)), 6).as("c"))
      .groupBy("sid", "cw")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .persist()
    val enc = corpus.join(broadcast(cb), "sid")
      .withColumn("d2", round(l2sq("sv", "cv"), 6))
      .withColumn("rk", row_number().over(wAsg))
      .filter(col("rk") === 1)
      .select("vec_id", "sid", "cw")
    val dist = vecs.filter(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "probe_id")
      .join(broadcast(cb), "sid")
      .withColumn("d2", round(l2sq("sv", "cv"), 6))
      .select("probe_id", "sid", "cw", "d2")
    val joined = enc.join(broadcast(dist), Seq("sid", "cw"))
    val pruned = restrict match {
      case Some(r) => joined.join(
        r.select(col("probe_id"), col("cand_id").as("vec_id")),
        Seq("probe_id", "vec_id"), "left_semi")
      case None => joined
    }
    pruned
      .groupBy(col("probe_id"), col("vec_id").as("cand_id"))
      .agg(dbl(sum(col("d2").cast("decimal(18,6)"))).as("adc_d2"))
  }

  private val annPq = QueryDef(
    "q_ann_pq",
    "PQ ANN: 8 subspaces × 16 codewords (1 Lloyd step from " +
      "deterministic seeds), corpus encoded to 8 codes/vector, " +
      "asymmetric-distance top-10 per probe from the broadcast " +
      "probe×codeword distance table.",
    Some(s"""WITH $pqAdcDuck
            |SELECT probe_id, rk, cand_id, adc_d2 FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, cand_id) AS BIGINT) AS rk
            |  FROM adc) t WHERE rk <= 10 ORDER BY probe_id, rk""".stripMargin),
    (s, d) => {
      val wTop = Window.partitionBy("probe_id").orderBy(col("adc_d2"), col("cand_id"))
      pqAdc(embeddings(s, d))
        .withColumn("rk", lng(row_number().over(wTop)))
        .filter(col("rk") <= 10)
        .select("probe_id", "rk", "cand_id", "adc_d2")
        .orderBy("probe_id", "rk")
    }
  )

  /** Recall@10 of the PQ arm vs the same exact ground truth q_ann_recall
    * uses — together the two recall keys read out the accuracy cost of
    * each compression axis (IVF prunes candidates, PQ compresses
    * geometry), which is exactly the comparison an index-tuning pass
    * makes.
    */
  private val pqRecall = QueryDef(
    "q_pq_recall",
    "Recall@10 of PQ ADC vs exact L2 top-10 per probe — the " +
      "measurement that prices the 32× vector compression in lost " +
      "neighbors.",
    Some(s"""WITH $pqAdcDuck,
            |$exactL2Top10Duck,
            |pq10 AS (SELECT probe_id, cand_id FROM (
            |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, cand_id) AS rk
            |  FROM adc) t WHERE rk <= 10)
            |SELECT e.probe_id, CAST(count(p.cand_id) AS BIGINT) AS hits,
            |       round(count(p.cand_id) / 10.0, 6) AS recall_at_10
            |FROM exact e LEFT JOIN pq10 p ON e.probe_id = p.probe_id AND e.cand_id = p.cand_id
            |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val wTop = Window.partitionBy("probe_id").orderBy(col("adc_d2"), col("cand_id"))
      val pq10 = pqAdc(e)
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      recallAt10(e, pq10).orderBy("probe_id")
    }
  )

  /** IVF-PQ composition — the production ANN memory/latency shape:
    * the coarse quantizer prunes candidates to the probe's top-2
    * clusters AND the fine quantizer compresses geometry to 8 codes,
    * so the scan touches ~2/10 of the corpus at 1/32 the bytes. Both
    * stages are the inventory's own shared helpers (ivfTop2 / pqAdc
    * with its restrict hook; ivfQuantizerDuck / pqAdcDuck in the
    * oracle) so neither index arm can drift from its standalone
    * readout, and recall is judged through the same shared exact arm
    * (exactL2Top10) as q_ann_recall / q_pq_recall — the three recall
    * rows price each axis (prune, compress, both) comparably.
    */
  private val annIvfPq = QueryDef(
    "q_ann_ivfpq",
    "IVF-PQ ANN: top-2-cluster pruning (q_ann_ivf quantizer) composed " +
      "with PQ ADC scanning (q_ann_pq codes) — candidates pruned AND " +
      "compressed; per probe reports the pruned candidate count and " +
      "recall@10 vs the shared exact L2 arm.",
    Some(s"""WITH $pqAdcDuck,
            |$ivfQuantizerDuck,
            |$exactL2Top10Duck,
            |allowed AS (
            |  SELECT t.probe_id, e.vec_id AS cand_id
            |  FROM top2 t JOIN embeddings e ON e.label = t.label AND e.vec_id >= 5),
            |pruned AS (
            |  SELECT a.probe_id, a.cand_id, a.adc_d2
            |  FROM adc a JOIN allowed w ON w.probe_id = a.probe_id AND w.cand_id = a.cand_id),
            |top10 AS (SELECT probe_id, cand_id FROM (
            |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_d2, cand_id) AS rk
            |  FROM pruned) t WHERE rk <= 10),
            |nc AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cand FROM pruned GROUP BY 1)
            |SELECT e.probe_id, nc.n_cand, CAST(count(p.cand_id) AS BIGINT) AS hits,
            |       round(count(p.cand_id) / 10.0, 6) AS recall_at_10
            |FROM exact e JOIN nc ON nc.probe_id = e.probe_id
            |LEFT JOIN top10 p ON e.probe_id = p.probe_id AND e.cand_id = p.cand_id
            |GROUP BY e.probe_id, nc.n_cand ORDER BY e.probe_id""".stripMargin),
    (s, d) => {
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val allowed = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("label"))
        .join(broadcast(ivfTop2(e, probes).select("probe_id", "label")), "label")
        .select("probe_id", "cand_id")
      val pruned = pqAdc(e, Some(allowed))
        // persist: reused by the candidate count and the top-10 rank
        .persist()
      val wTop = Window.partitionBy("probe_id").orderBy(col("adc_d2"), col("cand_id"))
      val top10 = pruned
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select("probe_id", "cand_id")
      val nc = pruned.groupBy("probe_id").agg(lng(count(lit(1))).as("n_cand"))
      val out = recallAt10(e, top10)
        .join(nc, "probe_id")
        .select(col("probe_id"), col("n_cand"), col("hits"), col("recall_at_10"))
        .persist()
      out.count()
      pruned.unpersist()
      out.orderBy("probe_id")
    }
  )

  /** DuckDB cosine fragment between two list columns (the q_ann_cosine
    * arithmetic, extracted for reuse): sequential left-fold sums, so
    * both engines accumulate in identical element order.
    */
  private def cosDuck(a: String, b: String): String =
    s"(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"

  /** Number of MMR selection rounds (result size per probe). */
  private val MmrK = 5

  private val mmrDuck: String = {
    val head =
      s"""probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
         |corpus AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
         |cand AS (SELECT probe_id, cand_id, simq, ce FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY simq DESC, cand_id) AS rk
         |  FROM (SELECT p.probe_id, c.cand_id, c.ce, round(${cosDuck("p.pe", "c.ce")}, 6) AS simq
         |        FROM probes p CROSS JOIN corpus c) s0) t WHERE rk <= 20),
         |sel1 AS (SELECT probe_id, cand_id, simq, ce, simq AS mmr, 1 AS step FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY simq DESC, cand_id) AS rk FROM cand) t WHERE rk = 1)""".stripMargin
    val steps = (2 to MmrK).map { t =>
      val p = t - 1
      s"""rem$t AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM sel$p s WHERE s.probe_id = c.probe_id AND s.cand_id = c.cand_id)),
         |ms$t AS (SELECT r.probe_id, r.cand_id, max(round(${cosDuck("r.ce", "s.ce")}, 6)) AS ms
         |        FROM rem$t r JOIN sel$p s ON s.probe_id = r.probe_id GROUP BY 1, 2),
         |pick$t AS (SELECT probe_id, cand_id, simq, ce, mmr, $t AS step FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY mmr DESC, cand_id) AS rk
         |  FROM (SELECT r.probe_id, r.cand_id, r.simq, r.ce, 0.5*r.simq - 0.5*m.ms AS mmr
         |        FROM rem$t r JOIN ms$t m ON m.probe_id = r.probe_id AND m.cand_id = r.cand_id) s0) t WHERE rk = 1),
         |sel$t AS (SELECT * FROM sel$p UNION ALL SELECT * FROM pick$t)""".stripMargin
    }
    s"WITH $head,\n${steps.mkString(",\n")}\n" +
      s"""SELECT probe_id, CAST(step AS BIGINT) AS step, cand_id, simq, round(mmr, 6) AS mmr
         |FROM sel$MmrK ORDER BY probe_id, step""".stripMargin
  }

  /** MMR (Maximal Marginal Relevance) diversified re-ranking — the
    * retrieval post-processing step a RAG serving path runs so the k
    * returned passages aren't k near-copies: greedily select
    * [[MmrK]] of the top-20 candidates, each round maximizing
    * 0.5·sim(query, d) − 0.5·max_{s∈selected} sim(d, s).
    *
    * Scale: candidate generation IS q_ann_cosine's broadcast-probe ×
    * corpus-scan shape (top-20 per probe) — that is the corpus-scale
    * half, and it is one pass. The greedy rerank then runs DRIVER-SIDE
    * on the collected candidate slice (≤ probes×20 rows — a constant
    * independent of corpus size, the rankTiny bounded-collect
    * convention), exactly where a real serving tier puts it: MMR over
    * a top-k slice is O(k²·d) in-memory arithmetic, and expressing the
    * [[MmrK]] sequential argmax rounds as distributed joins costs ~15
    * shuffles for 100 rows (measured 18–22 s at sf0.1 vs sub-second
    * collected — job-count overhead, the q_pca_power lesson).
    *
    * Float parity: similarities are computed with the identical
    * left-fold double arithmetic the engines use and round to the
    * 6-decimal grid (BigDecimal HALF_UP ≡ both engines' round) before
    * max/compare; 0.5·x is an exponent shift (exact); argmax ties
    * break on cand_id.
    */
  private val mmrRerank = QueryDef(
    "q_mmr_rerank",
    "MMR diversified re-ranking: top-20 cosine candidates per probe, " +
      "then 5 greedy rounds of 0.5*sim(q,d) - 0.5*max sim(d, selected) " +
      "with 6-decimal-grid similarities and cand_id tie-breaks.",
    Some(mmrDuck),
    (s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val probes = annProbes(e)
      val corpus = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      val wSim = Window.partitionBy("probe_id").orderBy(col("simq").desc, col("cand_id"))
      // corpus-scale half: one broadcast-probe × corpus-scan pass
      val cand = corpus.join(broadcast(probes))
        .withColumn("simq", round(cosine("pe", "ce"), 6))
        .withColumn("rk", row_number().over(wSim))
        .filter(col("rk") <= 20)
        .select("probe_id", "cand_id", "simq", "ce")
        .collect() // bounded: ≤ probes×20 rows regardless of corpus size
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getSeq[Float](3).toVector))
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def cos(a: Vector[Float], b: Vector[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val out = cand.groupBy(_._1).toSeq.flatMap { case (probe, csAll) =>
        val cs = csAll.sortBy(c => (-c._3, c._2))
        val first = cs.head
        var selected = Vector((1L, first._2, first._3, first._4, first._3))
        for (t <- 2 to MmrK) {
          val chosen = selected.map(_._2).toSet
          val pick = cs.filterNot(c => chosen(c._2)).map { c =>
            val ms = selected.map(sd => r6(cos(c._4, sd._4))).max
            (c, 0.5 * c._3 - 0.5 * ms)
          }.minBy { case (c, mmr) => (-mmr, c._2) }
          selected :+= ((t.toLong, pick._1._2, pick._1._3, pick._1._4, pick._2))
        }
        selected.map { case (step, id, simq, _, mmr) =>
          (probe, step, id, simq, r6(mmr))
        }
      }
      out.toDF("probe_id", "step", "cand_id", "simq", "mmr")
        .orderBy("probe_id", "step")
    }
  )

  // ------------------------------------------------------------- graph ANN

  /** Graph-ANN build/search constants (shared by the Spark builder,
    * the generated oracle and HnswSpec so the two engines and the
    * spec cannot drift): M in-cluster neighbors per node, HubK
    * fan-out per hub landmark, Seeds entry points, Beam width,
    * Rounds expansion steps.
    */
  private[graft] val HnswM = 6
  private[graft] val HnswLshM = 6
  private[graft] val HnswHubK = 32
  private[graft] val HnswSeeds = 4
  private[graft] val HnswBeam = 32
  private[graft] val HnswRounds = 3

  /** DuckDB squared-L2 fragment between two list columns (the shared
    * left-fold double arithmetic, 6-grid).
    */
  private def d2Duck(a: String, b: String): String =
    s"round(list_sum(list_transform(list_zip($a, $b), q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)) * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE)))), 6)"

  /** Deterministic bounded-degree navigable graph over the corpus —
    * the build half of q_ann_hnsw, exposed so HnswSpec can prove the
    * edge set is a pure function of the data (invariant under input
    * partitioning). Edges come from TWO orthogonal bounded candidate
    * generators — per node its [[HnswM]] nearest same-label neighbors
    * (the label quantizer playing the coarse role it plays for IVF)
    * and its [[HnswLshM]] nearest among nodes sharing a hyperplane-LSH
    * band key (the q_ann_lsh bucketing; measured at sf0.1, the second
    * generator lifts mean recall@10 0.42 → 0.82 because true
    * neighborhoods cross labels) — both SYMMETRIZED (the NSW
    * convention: reverse links are what let greedy descent enter a
    * neighborhood from outside), plus [[HnswHubK]] fan-out links from
    * each of the 16 fixed hub landmarks (vec_ids 5..20 — the PQ seed
    * convention) to their nearest nodes corpus-wide, the long-range
    * links an upper HNSW layer provides. Degrees are bounded by
    * construction: ≤ 2·(M + LshM) + (in-links from ≤ 16 hubs); no
    * candidate generator is ever all-pairs.
    */
  private[graft] def hnswEdges(corpus: DataFrame): DataFrame =
    hnswLists(corpus, corpus).distinct()

  /** The per-node candidate lists behind [[hnswEdges]], for the `src`
    * rows against the `dst` rows (both vec_id, embedding, label; src ⊆
    * dst), not yet deduplicated: label 6-NN and LSH-band 6-NN (both
    * symmetrized) plus the hub fan-out of the `src` hubs. [[hnswEdges]]
    * is this over (corpus, corpus); tombstone compaction recomputes
    * only the affected nodes' lists, (affected, survivors).
    */
  private def hnswLists(src: DataFrame, dst: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.hyperplaneLshKeys
    val wSrc = Window.partitionBy("src").orderBy(col("d2"), col("dst"))
    def nearest(pairs: DataFrame, m: Int) = pairs
      .withColumn("d2", round(l2sq("se", "de"), 6))
      .withColumn("rk", row_number().over(wSrc))
      .filter(col("rk") <= m)
      .select("src", "dst")
    val knn = nearest(src.select(col("label"), col("vec_id").as("src"),
        col("embedding").as("se"))
      .join(dst.select(col("label"), col("vec_id").as("dst"),
        col("embedding").as("de")), "label")
      .filter(col("src") =!= col("dst")), HnswM)
    // second generator: LSH-band-bounded candidates (the q_ann_lsh
    // keys), distinct pairs then per-src top-LshM — bridges the
    // neighborhoods the label grouping splits
    def keyed(df: DataFrame) = df.select(col("vec_id"),
      explode(hyperplaneLshKeys(col("embedding"), 4, 8, 64)).as("band_key"))
    val knn2 = nearest(keyed(src).select(col("band_key"), col("vec_id").as("src"))
      .join(keyed(dst).select(col("band_key"), col("vec_id").as("dst")), "band_key")
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .join(dst.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
      .join(dst.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst"),
      HnswLshM)
    // hub fan-out through the partial-aggregating TopKByScore (k rows
    // per hub per map task cross the exchange, never the hub×corpus
    // score matrix — the q_ann_topk_agg shape)
    val topk = graft.functions.TopKByScore.topK(HnswHubK)
    val hubs = src.filter(col("vec_id") < 21)
      .select(col("vec_id").as("hub"), col("embedding").as("he"))
    val h2n = dst.join(broadcast(hubs))
      .filter(col("vec_id") =!= col("hub"))
      .withColumn("score", -round(l2sq("he", "embedding"), 6))
      .groupBy("hub")
      .agg(topk(col("vec_id"), lit(""), col("score")).as("top"))
      .select(col("hub").as("src"), explode(col("top")).as("c"))
      .select(col("src"), col("c.cand_id").as("dst"))
    knn.unionAll(knn.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(knn2)
      .unionAll(knn2.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(h2n)
  }

  /** The graph-build CTE chain (the [[hnswEdges]] Duck twin) over an
    * arbitrary corpus CTE — factored so q_ann_hnsw's oracle and the
    * delta oracle's BASE graph cannot drift (the lshCandDuck sharing
    * discipline). Emits `\${p}edges`; the caller defines `$hubs`.
    */
  private def hnswEdgesDuck(corpus: String, hubs: String, p: String): String =
    s"""${p}knn AS (SELECT src, dst FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2Duck("a.embedding", "b.embedding")}, b.vec_id) AS rk
       |  FROM $corpus a JOIN $corpus b ON a.label = b.label AND a.vec_id <> b.vec_id) t
       | WHERE rk <= $HnswM),
       |${p}keyed AS (
       |  SELECT vec_id, unnest(
       |    list_transform(generate_series(0, 3), g -> g * 256 +
       |      list_reduce(list_prepend(0, list_transform(generate_series(0, 7),
       |        p -> CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip(embedding, generate_series(1, len(embedding))),
       |                       q -> CAST(q[1] AS DOUBLE) * (((((g * 8 + p) * 64 + (q[2] - 1)) * 2654435761) % 97) - 48))),
       |                       (acc, v) -> acc + v) > 0
       |                  THEN 1 ELSE 0 END)), (a, b) -> a * 2 + b))) AS band_key
       |  FROM $corpus),
       |${p}candl AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM ${p}keyed a JOIN ${p}keyed b ON a.band_key = b.band_key AND a.vec_id <> b.vec_id),
       |${p}knn2 AS (SELECT src, dst FROM (
       |  SELECT c.src, c.dst,
       |    row_number() OVER (PARTITION BY c.src ORDER BY ${d2Duck("a.embedding", "b.embedding")}, c.dst) AS rk
       |  FROM ${p}candl c JOIN $corpus a ON a.vec_id = c.src JOIN $corpus b ON b.vec_id = c.dst) t
       | WHERE rk <= $HnswLshM),
       |${p}h2n AS (SELECT src, dst FROM (
       |  SELECT h.vec_id AS src, v.vec_id AS dst,
       |    row_number() OVER (PARTITION BY h.vec_id ORDER BY ${d2Duck("h.embedding", "v.embedding")}, v.vec_id) AS rk
       |  FROM $hubs h JOIN $corpus v ON v.vec_id <> h.vec_id) t
       | WHERE rk <= $HnswHubK),
       |${p}edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ${p}knn
       |  UNION ALL SELECT dst, src FROM ${p}knn
       |  UNION ALL SELECT src, dst FROM ${p}knn2
       |  UNION ALL SELECT dst, src FROM ${p}knn2
       |  UNION ALL SELECT src, dst FROM ${p}h2n))""".stripMargin

  /** Beam-expansion round CTEs (the [[hnswSearch]] loop's Duck twin):
    * `\${pfx}x1`/`\${pfx}c1` .. round `rounds`, expanding from
    * `\${pfx}c0` over `$edges`, scored against `$corpus` rows joined
    * through `$probes (probe_id, pe)`. Beam width and round count are
    * parameters so the layered search's narrower upper-layer beams
    * share this one generator.
    */
  private def hnswRoundsDuck(pfx: String, probes: String, edges: String,
      corpus: String, rounds: Int = HnswRounds,
      beam: Int = HnswBeam): String =
    (1 to rounds).map { t =>
      val p = t - 1
      s"""${pfx}x$t AS (SELECT DISTINCT probe_id, node FROM (
         |  SELECT probe_id, node FROM ${pfx}c$p
         |  UNION ALL SELECT c.probe_id, e.dst FROM ${pfx}c$p c JOIN $edges e ON e.src = c.node)),
         |${pfx}c$t AS (SELECT probe_id, node FROM (
         |  SELECT x.probe_id, x.node,
         |    row_number() OVER (PARTITION BY x.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, x.node) AS rk
         |  FROM ${pfx}x$t x JOIN $probes p ON p.probe_id = x.probe_id
         |  JOIN $corpus v ON v.vec_id = x.node) t WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")

  /** [[hnswRoundsDuck]] with FRONTIER-ONLY expansion and a per-round
    * beam schedule — the layered search's Duck twin: round t expands
    * only `\${pfx}f\$t` (beam members never expanded before in this
    * layer, accumulated in `\${pfx}fa\$t`), so each node's out-edges
    * are followed at most once per layer.
    */
  private def hnswFrontierRoundsDuck(pfx: String, probes: String,
      edges: String, corpus: String, beams: Seq[Int]): String =
    beams.zipWithIndex.map { case (beam, i) =>
      val t = i + 1
      val p = t - 1
      val frontier =
        if (t == 1) s"${pfx}f1 AS MATERIALIZED (SELECT probe_id, node FROM ${pfx}c0)"
        else s"""${pfx}f$t AS MATERIALIZED (SELECT probe_id, node FROM ${pfx}c$p
                |  EXCEPT SELECT probe_id, node FROM ${pfx}fa$p)""".stripMargin
      val acc =
        if (t == 1) s"${pfx}fa1 AS MATERIALIZED (SELECT probe_id, node FROM ${pfx}f1)"
        else s"""${pfx}fa$t AS MATERIALIZED (SELECT probe_id, node FROM ${pfx}fa$p
                |  UNION SELECT probe_id, node FROM ${pfx}f$t)""".stripMargin
      s"""$frontier,
         |${pfx}x$t AS MATERIALIZED (SELECT DISTINCT probe_id, node FROM (
         |  SELECT probe_id, node FROM ${pfx}c$p
         |  UNION ALL SELECT c.probe_id, e.dst FROM ${pfx}f$t c JOIN $edges e ON e.src = c.node)),
         |$acc,
         |${pfx}c$t AS MATERIALIZED (SELECT probe_id, node FROM (
         |  SELECT x.probe_id, x.node,
         |    row_number() OVER (PARTITION BY x.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, x.node) AS rk
         |  FROM ${pfx}x$t x JOIN $probes p ON p.probe_id = x.probe_id
         |  JOIN $corpus v ON v.vec_id = x.node) t WHERE rk <= $beam)""".stripMargin
    }.mkString(",\n")

  /** Hub-seed CTE: the `k` nearest of `$hubs` per probe. */
  private def hnswSeedDuck(name: String, probes: String, hubs: String,
      k: Int = HnswSeeds): String =
    s"""$name AS (SELECT probe_id, node FROM (
       |  SELECT p.probe_id, h.vec_id AS node,
       |    row_number() OVER (PARTITION BY p.probe_id ORDER BY ${d2Duck("p.pe", "h.embedding")}, h.vec_id) AS rk
       |  FROM $probes p CROSS JOIN $hubs h) t WHERE rk <= $k)""".stripMargin

  /** The measurement tail: top-10 from the final beam, visited counts,
    * recall vs the shared exact arm. `visitedSelects` are the SELECT
    * bodies UNIONed into the visited set (the flat search passes its
    * gx-round sets; the layered one adds its upper-layer scans and
    * beams); `finalBeam` is the CTE holding the last layer-0 beam.
    */
  private def hnswReadoutDuck(visitedSelects: Seq[String],
      finalBeam: String): String = {
    val visited = visitedSelects.mkString(" UNION ")
    s"""gvisited AS ($visited),
       |gtop10 AS (SELECT probe_id, node FROM (
       |  SELECT c.probe_id, c.node,
       |    row_number() OVER (PARTITION BY c.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, c.node) AS rk
       |  FROM $finalBeam c JOIN gprobes p ON p.probe_id = c.probe_id
       |  JOIN gcorp v ON v.vec_id = c.node) t WHERE rk <= 10),
       |gnv AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_visited FROM gvisited GROUP BY 1),
       |$exactL2Top10Duck
       |SELECT e.probe_id, gnv.n_visited, CAST(count(t.node) AS BIGINT) AS hits,
       |       round(count(t.node) / 10.0, 6) AS recall_at_10
       |FROM exact e JOIN gnv ON gnv.probe_id = e.probe_id
       |LEFT JOIN gtop10 t ON t.probe_id = e.probe_id AND t.node = e.cand_id
       |GROUP BY e.probe_id, gnv.n_visited ORDER BY e.probe_id""".stripMargin
  }

  private def flatVisitedSelects: Seq[String] =
    (1 to HnswRounds).map(t => s"SELECT probe_id, node FROM gx$t")

  private val hnswDuck: String =
    s"""WITH gcorp AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
       |gprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
       |ghubs AS (SELECT vec_id, embedding FROM gcorp WHERE vec_id < 21),
       |${hnswEdgesDuck("gcorp", "ghubs", "g")},
       |${hnswSeedDuck("gc0", "gprobes", "ghubs")},
       |${hnswRoundsDuck("g", "gprobes", "gedges", "gcorp")},
       |${hnswReadoutDuck(flatVisitedSelects, s"gc$HnswRounds")}""".stripMargin

  /** Navigable-graph ANN — the production-default index family
    * (HNSW/NSW; the reference's faiss dependency anchors it,
    * rag_chatbot/main.py:27) and the one ANN shape the inventory
    * lacked (VERDICT r10 #1). Randomized insertion-order construction
    * is replaced by a deterministic equivalent (the q_random_walk
    * discipline: determinism via fixed landmarks and id tie-breaks,
    * not RNG): [[hnswEdges]] builds the bounded-degree graph, and the
    * search is [[HnswRounds]] rounds of beam expansion — frontier ⋈
    * edges, score against the probe, keep the [[HnswBeam]] best —
    * seeded from the [[HnswSeeds]] nearest hub landmarks (the role of
    * HNSW's upper layers). Recall@10 is measured through the SAME
    * shared exact arm as q_ann_recall/q_pq_recall, so the four index
    * families (prune, hash, compress, graph) price comparably, and
    * n_visited is the search-cost readout (beam search touches
    * visited ≪ corpus nodes vs IVF's 2-cluster scan).
    *
    * Scale: the build is cluster-bounded candidate generation (label
    * equi-join) + a broadcast(16)×corpus pass reduced map-side by
    * TopKByScore — never all-pairs; the search per round joins a
    * beam-bounded frontier (≤ probes × Beam rows, broadcastable)
    * against the src-partitioned edge table. At 100 TB the graph is
    * the big object and it shuffles once at build; probes ride
    * broadcast joins.
    */
  private val annHnsw = QueryDef(
    "q_ann_hnsw",
    "Graph ANN (deterministic NSW/HNSW-style): bounded-degree " +
      "navigable graph (per-node 6-NN within its label cluster + 6-NN " +
      "among LSH-band-sharing nodes, both symmetrized, + 32-fan-out " +
      "links from 16 fixed hub landmarks), searched by 3 beam-32 " +
      "expansion rounds seeded at the 4 nearest hubs; per probe the " +
      "visited-node count and recall@10 vs the shared exact L2 arm.",
    Some(hnswDuck),
    (s, d) => {
      val e = embeddings(s, d)
      val corpus = annCorpus(e)
      val edges = hnswEdges(corpus).persist()
      val res = hnswSearch(e, edges)
      // res is materialized inside hnswSearch, so releasing the build
      // frame here cannot trigger a rebuild
      edges.unpersist()
      res
    }
  )

  /** The one beam search behind the HNSW family (flat, persisted,
    * delta re-link, layered, delete mask, compaction twins). Per probe
    * it seeds at the `seeds` nearest `nodes` rows matching `entry`, then
    * per layer `(edges, beams)` runs one round per beam width: expand
    * the beam through `edges`, take the distinct union with the beam,
    * score it against the probe over `nodes`, keep the `width` best.
    * `nodes` (vec_id, embedding) is the scored set — the corpus, or the
    * survivors in the delete paths, so a node missing from it can
    * neither rank nor expand. Returns the `topK` best of the last beam
    * (probe_id, cand_id) and every round's expansion set (probe_id,
    * node), the visited readout.
    *
    *  - `bcast`: broadcast the probes and the beam (≤ probes × beam
    *    rows) into the src-partitioned edge join. Off for the delta
    *    re-link, whose probe batch grows with ingestion (AQE picks
    *    broadcast when it is small).
    *  - `frontierOnly`: expand only beam members not yet expanded in
    *    this layer (the ef-search discipline; the expanded set resets
    *    per layer) instead of the full beam every round.
    *  - `keep`: applied to every per-round frame — `persist()` (the
    *    caller releases the returned sets after materializing its
    *    output), `localCheckpoint()` (the q_kcore discipline: truncates
    *    the union/except lineage Catalyst would otherwise re-analyze
    *    at double size per round) or `identity`. It sets the key's job
    *    count, so each key keeps the choice it was measured with.
    */
  private def beamSearch(probes: DataFrame, nodes: DataFrame,
      layers: Seq[(DataFrame, Seq[Int])], keep: DataFrame => DataFrame,
      topK: Int = 10, bcast: Boolean = true, frontierOnly: Boolean = false,
      entry: Column = col("vec_id") < 21, seeds: Int = HnswSeeds)
      : (DataFrame, Seq[DataFrame]) = {
    def bc(df: DataFrame) = if (bcast) broadcast(df) else df
    val byId = nodes.select(col("vec_id").as("node"), col("embedding").as("ve"))
    val entries = nodes.filter(entry)
      .select(col("vec_id").as("node"), col("embedding").as("ve"))
    val d2 = round(l2sq("pe", "ve"), 6)
    def score(ids: DataFrame) =
      ids.join(byId, "node").join(bc(probes), "probe_id").withColumn("d2", d2)
    val wBeam = Window.partitionBy("probe_id").orderBy(col("d2"), col("node"))
    def cut(scored: DataFrame, k: Int) = scored
      .withColumn("rk", row_number().over(wBeam))
      .filter(col("rk") <= k)
      .select("probe_id", "node")
    var beam = cut((if (bcast) entries.join(broadcast(probes))
      else probes.join(broadcast(entries))).withColumn("d2", d2), seeds)
    val visited = Seq.newBuilder[DataFrame]
    for ((edges, widths) <- layers) {
      var expandedAll: DataFrame = null
      for (width <- widths) {
        val from =
          if (!frontierOnly) beam
          else keep(if (expandedAll == null) beam else beam.except(expandedAll))
        val expanded = bc(from)
          .join(edges, from("node") === edges("src"))
          .select(col("probe_id"), col("dst").as("node"))
        val xt = keep(beam.unionAll(expanded).distinct())
        visited += xt
        if (frontierOnly)
          expandedAll = if (expandedAll == null) from
            else keep(expandedAll.unionAll(from).distinct())
        beam = cut(score(xt), width)
      }
    }
    (cut(score(beam), topK).withColumnRenamed("node", "cand_id"),
      visited.result())
  }

  /** The flat search's single layer: [[HnswRounds]] rounds of
    * beam-[[HnswBeam]] expansion over `edges`.
    */
  private def flatRounds(edges: DataFrame) =
    Seq(edges -> Seq.fill(HnswRounds)(HnswBeam))

  /** Per probe, the distinct nodes across the `visited` sets. */
  private def visitedCount(visited: Seq[DataFrame], name: String) =
    visited.reduce(_.unionAll(_)).distinct()
      .groupBy("probe_id").agg(lng(count(lit(1))).as(name))

  /** The searches' readout: (probe_id, n_visited, hits, recall_at_10). */
  private def hnswReadout(e: DataFrame, top: DataFrame,
      visited: Seq[DataFrame]) = recallAt10(e, top)
    .join(visitedCount(visited, "n_visited"), "probe_id")
    .select("probe_id", "n_visited", "hits", "recall_at_10")

  /** The q_ann_hnsw beam search given an arbitrary edge-table source —
    * in-plan ([[hnswEdges]], q_ann_hnsw) or a fresh scan of a persisted
    * index file (q_ann_hnsw_persisted). Exposed so HnswPersistSpec can
    * gate the probe plan against the persisted graph. Returns the
    * per-probe (n_visited, hits, recall@10) readout, materialized; the
    * persisted per-round frames (each feeds both the next beam and the
    * visited union) are released once it is.
    */
  private[graft] def hnswSearch(e: DataFrame, edges: DataFrame): DataFrame = {
    val (top, visited) =
      beamSearch(annProbes(e), annCorpus(e), flatRounds(edges), _.persist())
    materializeThenRelease(hnswReadout(e, top, visited), visited: _*)
      .orderBy("probe_id")
  }

  /** Persisted graph-index lifecycle (VERDICT r11 #2): q_ann_hnsw
    * rebuilds the navigable graph — the expensive half, one corpus
    * shuffle at 100 TB — inside every query, but production graph ANN
    * is build-once/probe-many. Here the edge table ([[hnswEdges]]) is
    * written as a parquet index file by a separate build job (the
    * q_ann_persisted warehouse seam, keyed by sf tag) and the probe is
    * [[hnswSearch]] over a FRESH SCAN of that file — a plan whose only
    * inputs are the corpus and the index table (HnswPersistSpec pins:
    * no TopKByScore hub fan-out, no LSH band-key Generate, no label
    * self-join build stages in the probe plan). Results must match
    * q_ann_hnsw row-for-row (same oracle), proving the graph survives
    * the plan that built it.
    *
    * Scale: the build is the bounded candidate generation + one
    * broadcast(16)×corpus pass; the probe per round broadcasts a
    * ≤ probes×beam frontier into the src-partitioned edge scan. At
    * 100 TB the 7-second-dominant build amortizes over every probing
    * query — the best-recall index in the inventory (0.82@10 at
    * sf0.1) becomes consumable the way production uses it.
    */
  private val annHnswPersisted = QueryDef(
    "q_ann_hnsw_persisted",
    "Build-then-probe graph-ANN lifecycle: the deterministic NSW edge " +
      "table is written to a parquet index file by a separate build " +
      "job, and the beam-search probe reads it back with a fresh scan " +
      "(no build stages) — row-identical to q_ann_hnsw.",
    annHnsw.oracle,
    (s, d) => {
      val e = embeddings(s, d)
      val corpus = annCorpus(e)
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val idxPath = s"$wh/graft_hnsw_edges_$sfTag"
      // BUILD: its own job, its own plan (edge-table-sized write)
      hnswEdges(corpus).write.mode("overwrite").parquet(idxPath)
      // PROBE: only the corpus scan + the persisted edge-table scan
      hnswSearch(e, s.read.parquet(idxPath))
    }
  )

  /** Greedy re-link of a delta batch into an existing navigable graph
    * (the real HNSW insert algorithm, deterministic): each new node
    * beam-searches the BASE graph for its neighborhood — seed at the
    * [[HnswSeeds]] nearest base hubs, [[HnswRounds]] rounds of
    * beam-[[HnswBeam]] expansion over the persisted base edges — and
    * links to its [[HnswM]] nearest base nodes from the final beam,
    * SYMMETRIZED (the reverse links are what make the new node
    * reachable by later searches). No forced broadcasts: the delta
    * batch grows with ingestion, so every join is key-partitioned and
    * AQE picks broadcast when the batch is small (the VERDICT r12 #4
    * frontier rule). Base edges are never rewritten — the refresh is
    * base ∪ new links, the O(batch · beam) insert cost the full
    * rebuild's corpus shuffle amortizes into.
    */
  private[graft] def hnswLinkEdges(delta: DataFrame, base: DataFrame,
      baseEdges: DataFrame): DataFrame = {
    val probes = delta.select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"))
    val (linked, _) = beamSearch(probes, base, flatRounds(baseEdges),
      identity, topK = HnswM, bcast = false)
    linked.select(col("probe_id").as("src"), col("cand_id").as("dst"))
      .unionAll(linked.select(col("cand_id").as("src"), col("probe_id").as("dst")))
  }

  private val hnswDeltaDuck: String =
    s"""WITH gcorp AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
       |gprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
       |gbase AS (SELECT vec_id, embedding, label FROM gcorp
       |          WHERE NOT (vec_id >= 100 AND vec_id % 11 = 0)),
       |gdelta AS (SELECT vec_id AS probe_id, embedding AS pe FROM gcorp
       |           WHERE vec_id >= 100 AND vec_id % 11 = 0),
       |ghubs AS (SELECT vec_id, embedding FROM gbase WHERE vec_id < 21),
       |${hnswEdgesDuck("gbase", "ghubs", "b")},
       |${hnswSeedDuck("ic0", "gdelta", "ghubs")},
       |${hnswRoundsDuck("i", "gdelta", "bedges", "gbase")},
       |ilink AS (SELECT probe_id, node FROM (
       |  SELECT c.probe_id, c.node,
       |    row_number() OVER (PARTITION BY c.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, c.node) AS rk
       |  FROM ic$HnswRounds c JOIN gdelta p ON p.probe_id = c.probe_id
       |  JOIN gbase v ON v.vec_id = c.node) t WHERE rk <= $HnswM),
       |redges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM bedges
       |  UNION ALL SELECT probe_id AS src, node AS dst FROM ilink
       |  UNION ALL SELECT node AS src, probe_id AS dst FROM ilink)),
       |${hnswSeedDuck("gc0", "gprobes", "ghubs")},
       |${hnswRoundsDuck("g", "gprobes", "redges", "gcorp")},
       |${hnswReadoutDuck(flatVisitedSelects, s"gc$HnswRounds")}""".stripMargin

  /** Incremental graph-index maintenance (VERDICT r12 #9 — the graph
    * twin of q_ann_ivf_refresh's partial-sum refresh and
    * q_dedup_incremental's delta-vs-index probe): the persisted NSW
    * edge table absorbs a new-vector batch (vec_id ≥ 100, mod-11
    * slice — hubs and probes always stay base) by GREEDY RE-LINK
    * ([[hnswLinkEdges]]) instead of a full rebuild, then the standard
    * beam search probes the refreshed graph over the FULL corpus.
    * Unlike IVF's decimal partials, a graph refresh is NOT exactly
    * the rebuild (insertion order matters in real HNSW too) — so the
    * contract is recall parity, not row identity: HnswDeltaSpec pins
    * mean recall@10 within ε of the full-rebuild q_ann_hnsw and that
    * new edges only ever touch delta endpoints.
    *
    * Scale: the insert costs O(batch · beam) broadcast-frontier work
    * against the src-partitioned base edges — daily ingestion never
    * re-shuffles the standing corpus; the base build amortizes the
    * way q_ann_hnsw_persisted prices it.
    */
  private val annHnswDelta = QueryDef(
    "q_ann_hnsw_delta",
    "Incremental HNSW: a delta batch is inserted into the persisted " +
      "NSW edge table by greedy beam-search re-link (no base " +
      "rebuild), and the refreshed graph serves the standard top-10 " +
      "probe over the full corpus; per probe the visited count and " +
      "recall@10 vs the shared exact arm.",
    Some(hnswDeltaDuck),
    (s, d) => {
      val e = embeddings(s, d)
      val corpus = annCorpus(e)
      val isDelta = col("vec_id") >= 100 && col("vec_id") % 11 === 0
      val base = corpus.filter(!isDelta)
      val delta = corpus.filter(isDelta)
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val idxPath = s"$wh/graft_hnsw_base_$sfTag"
      // BASE BUILD: its own job (in production this ran yesterday)
      hnswEdges(base).write.mode("overwrite").parquet(idxPath)
      val baseEdges = s.read.parquet(idxPath)
      // INSERT: beam re-link of the batch written as its OWN small
      // delta edge file — the base index is untouched on disk, and
      // materializing here keeps the insert-beam lineage out of the
      // probe plan (the search joins the edge table once per round; an
      // unmaterialized insert would re-execute per round). New edges
      // always touch a delta endpoint, base edges never do, so the
      // union needs no dedup.
      val deltaPath = s"$wh/graft_hnsw_deltaedges_$sfTag"
      hnswLinkEdges(delta, base, baseEdges)
        .write.mode("overwrite").parquet(deltaPath)
      val refreshed = baseEdges.unionAll(s.read.parquet(deltaPath))
      hnswSearch(e, refreshed)
    }
  )

  // ------------------------------------------------- hierarchical HNSW

  /** Layer constants: membership is a PURE FUNCTION of vec_id
    * (vec_id % 8 == 0 → layer 1, % 64 == 0 → layer 2; L2 ⊂ L1 ⊂ L0
    * by construction), the deterministic stand-in for HNSW's
    * geometric level draw — rebuildable, shardable, and identical in
    * both engines with no RNG state. Upper layers descend with a
    * NARROW beam ([[HnswL1Beam]]) for [[HnswL1Rounds]] rounds; the
    * rich entry set they hand layer 0 is what lets the base search
    * run a beam of 18 (vs the flat search's 32) — the visited-work
    * saving the hierarchy exists for. Base rounds are frontier-only,
    * so [[HnswL0Beams]].length = 5 runs them to convergence (measured:
    * a 6th round adds zero visited — every beam member is already
    * expanded).
    */
  private[graft] val HnswL1Mod = 8
  private[graft] val HnswL2Mod = 64
  private[graft] val HnswL1Beam = 12
  private[graft] val HnswL1Rounds = 2
  private[graft] val HnswL0Beams = Seq(18, 18, 18, 18, 18)

  /** Per-node out-degree of the navigable (2-cluster kNN) graph; the
    * upper layers use the sparser M — they only position the entry,
    * and their expansion sets are counted as visited.
    */
  private[graft] val HnswNavM = 12
  private[graft] val HnswNavMUpper = 8

  /** Navigable bounded-degree graph for the LAYERED index — the edge
    * generator upgrade the hierarchy needs: [[hnswEdges]]'s label-only
    * kNN can't link a node to a true neighbor in an adjacent cluster
    * (measured: some top-10 targets' best in-edge came from rank-100+
    * nodes, which is why flat search must over-explore to reach 0.82).
    * Here the IVF coarse quantizer bounds the build instead: each node
    * takes its [[HnswNavM]] nearest among the members of its 2 NEAREST
    * label-centroids (the q_ann_ivf probe rule applied to the build) —
    * near-true kNN links that cross cluster boundaries, symmetrized.
    * Candidates per node are bounded by 2 cluster sizes — never
    * all-pairs.
    */
  private[graft] def hnswNavEdges(corpus: org.apache.spark.sql.DataFrame,
      m: Int = HnswNavM): org.apache.spark.sql.DataFrame = {
    val cent = corpus
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy("label", "pos")
      .agg(round(dbl(sum(col("val").cast("decimal(20,10)"))) / count(lit(1)), 6).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("ce"))
    val wc = Window.partitionBy("src").orderBy(col("d2c"), col("clabel"))
    val top2 = corpus.select(col("vec_id").as("src"), col("embedding").as("se"))
      .join(broadcast(cent.select(col("label").as("clabel"), col("ce"))))
      .withColumn("d2c", round(l2sq("se", "ce"), 6))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= 2)
      .select("src", "se", "clabel")
    val wSrc = Window.partitionBy("src").orderBy(col("d2"), col("dst"))
    val knn = top2
      .join(corpus.select(col("label").as("clabel"), col("vec_id").as("dst"),
        col("embedding").as("de")), "clabel")
      .filter(col("src") =!= col("dst"))
      .withColumn("d2", round(l2sq("se", "de"), 6))
      .withColumn("rk", row_number().over(wSrc))
      .filter(col("rk") <= m)
      .select("src", "dst")
    // NO hub fan-out here: the hierarchy's upper layers ARE the
    // long-range entry mechanism, and hub edges measurably only
    // injected far nodes into the expansion sets (score cost counted
    // as visited) without ever surviving the beam
    knn.unionAll(knn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Duck twin of [[hnswNavEdges]] — emits `\${p}edges`. */
  private def hnswNavEdgesDuck(corpus: String, p: String,
      m: Int = HnswNavM): String =
    s"""${p}centl AS (SELECT label, ord,
       |    round(CAST(sum(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c
       |  FROM (SELECT label, unnest(generate_series(1, len(embedding))) AS ord,
       |          unnest(embedding) AS val FROM $corpus) t GROUP BY label, ord),
       |${p}cent AS (SELECT label, list(c ORDER BY ord) AS ce FROM ${p}centl GROUP BY label),
       |${p}top2 AS (SELECT vec_id, clabel FROM (
       |  SELECT v.vec_id, c.label AS clabel,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${d2Duck("v.embedding", "c.ce")}, c.label) AS cr
       |  FROM $corpus v CROSS JOIN ${p}cent c) t WHERE cr <= 2),
       |${p}knn AS (SELECT src, dst FROM (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY ${d2Duck("a.embedding", "b.embedding")}, b.vec_id) AS rk
       |  FROM ${p}top2 tt JOIN $corpus a ON a.vec_id = tt.vec_id
       |  JOIN $corpus b ON b.label = tt.clabel AND b.vec_id <> a.vec_id) t
       | WHERE rk <= $m),
       |${p}edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM ${p}knn
       |  UNION ALL SELECT dst, src FROM ${p}knn))""".stripMargin

  private val hnswLayeredDuck: String = {
    val l2Scan = "SELECT probe_id, vec_id AS node FROM gprobes, l2corp"
    val visited = Seq(l2Scan) ++
      (1 to HnswL1Rounds).map(t => s"SELECT probe_id, node FROM lx$t") ++
      HnswL0Beams.indices.map(t => s"SELECT probe_id, node FROM gx${t + 1}")
    s"""WITH gcorp AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
       |gprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
       |ghubs AS (SELECT vec_id, embedding FROM gcorp WHERE vec_id < 21),
       |${hnswNavEdgesDuck("gcorp", "g")},
       |l1corp AS (SELECT vec_id, embedding, label FROM gcorp WHERE vec_id % $HnswL1Mod = 0),
       |l1hubs AS (SELECT vec_id, embedding FROM l1corp WHERE vec_id < 21),
       |${hnswNavEdgesDuck("l1corp", "l", HnswNavMUpper)},
       |l2corp AS (SELECT vec_id, embedding FROM gcorp WHERE vec_id % $HnswL2Mod = 0),
       |${hnswSeedDuck("lc0", "gprobes", "l2corp", HnswL1Beam)},
       |${hnswFrontierRoundsDuck("l", "gprobes", "ledges", "gcorp", Seq.fill(HnswL1Rounds)(HnswL1Beam))},
       |gc0 AS (SELECT probe_id, node FROM lc$HnswL1Rounds),
       |${hnswFrontierRoundsDuck("g", "gprobes", "gedges", "gcorp", HnswL0Beams)},
       |${hnswReadoutDuck(visited, s"gc${HnswL0Beams.length}")}""".stripMargin
  }

  /** Layered beam search: scan the tiny top layer for entries, descend
    * through layer 1 with a narrow beam, then run frontier-only
    * base-layer rounds from the entries the hierarchy found. Visited
    * accounting COUNTS the top-layer scan (the flat search does not
    * count its 16-hub seeding scan, so the comparison is conservative
    * against the hierarchy) — HnswSpec pins strictly better mean
    * recall at strictly fewer total visited than the flat search.
    */
  private[graft] def hnswLayeredSearch(e: DataFrame, l0Edges: DataFrame,
      l1Edges: DataFrame): DataFrame = {
    val probes = annProbes(e)
    val corpus = annCorpus(e)
    val l2 = col("vec_id") % HnswL2Mod === 0
    // TOP LAYER: the N/64-sized entry set seeds the narrow layer-1
    // descent; its FULL final beam (not just HnswSeeds entries) seeds
    // the frontier-only rounds over the navigable base graph — the
    // diversity of the nearby entries is what replaces hub seeding.
    // The beam is monotone (x_t ⊇ c_{t-1}), so the final beam already
    // holds the 10 best nodes ever scored — final-beam readout ≡
    // best-of-visited (verified equal), and cheaper
    val (top, visited) = beamSearch(probes, corpus,
      Seq(l1Edges -> Seq.fill(HnswL1Rounds)(HnswL1Beam), l0Edges -> HnswL0Beams),
      _.localCheckpoint(), frontierOnly = true, entry = l2, seeds = HnswL1Beam)
    // the top-layer scan counts as visited
    val l2Scan = corpus.filter(l2).select(col("vec_id").as("node"))
      .join(broadcast(probes)).select("probe_id", "node")
    // materialize before returning so the checkpointed round RDDs are
    // droppable by the ContextCleaner once this frame is consumed
    materializeThenRelease(hnswReadout(e, top, l2Scan +: visited))
      .orderBy("probe_id")
  }

  /** True hierarchical HNSW (VERDICT r13 #2): q_ann_hnsw's single flat
    * graph seeds at fixed hub landmarks — a constant-size fake upper
    * layer. Here the hierarchy is real, with THREE upgrades over flat:
    * (1) layer membership is a pure function of vec_id (mod 8 /
    * mod 64 — the deterministic geometric level assignment), each
    * layer carrying its own bounded-degree graph; (2) the edge
    * generator is [[hnswNavEdges]] — 2-nearest-cluster kNN links that
    * cross cluster boundaries, with NO hub edges (the hierarchy IS the
    * long-range mechanism); (3) base-layer rounds are FRONTIER-ONLY
    * (each node expanded at most once per layer — the real ef-search
    * discipline), so rounds run to convergence instead of a fixed
    * width×3 sweep. Measured at sf0.001 the hierarchy strictly
    * dominates flat (mean recall 0.98 vs 0.92 at 5% fewer total
    * visited, entry scan COUNTED); at sf0.1 it ties flat's 0.82 mean
    * recall with a higher per-probe minimum at ~2% fewer mean visited
    * — both searches sit on a shared recall-per-visited frontier on
    * this near-random synthetic corpus, and the hierarchy's win is
    * the better frontier POINT plus build/probe structure (no hub
    * maintenance, per-layer shardable builds). HnswSpec pins the
    * dominance; the oracle replays every round.
    *
    * Scale: upper layers shrink geometrically (N/8, N/64 — at 100×,
    * add a third layer: same pure-function assignment, same plan
    * shape), their builds reuse the bounded 2-cluster candidate
    * generation, and every search join is a broadcast frontier into a
    * src-partitioned layer edge table.
    */
  private val annHnswLayered = QueryDef(
    "q_ann_hnsw_layered",
    "Hierarchical HNSW: deterministic layer assignment (vec_id mod " +
      "8 / mod 64), per-layer navigable graphs (2-nearest-cluster " +
      "kNN links, no hubs), log-style descent (top-layer scan, " +
      "narrow layer-1 beam, frontier-only base rounds run to " +
      "convergence) — better mean recall than flat q_ann_hnsw at " +
      "fewer total visited nodes (entry scan counted); per probe " +
      "the visited count and recall@10 vs the shared exact arm.",
    Some(hnswLayeredDuck),
    (s, d) => {
      val e = embeddings(s, d)
      val corpus = annCorpus(e)
      val l0 = hnswNavEdges(corpus).persist()
      val l1 = hnswNavEdges(corpus.filter(col("vec_id") % HnswL1Mod === 0),
        HnswNavMUpper).persist()
      val res = hnswLayeredSearch(e, l0, l1)
      l0.unpersist()
      l1.unpersist()
      res
    }
  )

  /** Persisted HIERARCHICAL graph-index lifecycle — the layered twin
    * of [[annHnswPersisted]], so every index family in the inventory
    * (IVF, flat NSW, hierarchical HNSW) has the build-once/probe-many
    * story: BOTH layer edge tables are written as parquet index files
    * by a separate build job, and the probe is [[hnswLayeredSearch]]
    * over fresh scans of those files — row-identical to
    * q_ann_hnsw_layered (same oracle; HnswSpec also pins the parity
    * directly). Unlike the flat probe, whose cached readout still
    * carries the round plans down to the edge scan, there is no plan to
    * gate (the frontier-only rounds localCheckpoint, which cuts the
    * lineage), so the spec contract is row parity + the index files
    * being the probe's only non-corpus inputs by construction.
    *
    * Scale: the layered build is per-layer shardable (each layer's
    * 2-nearest-cluster kNN generation is independent), and upper
    * layers shrink geometrically — at 100 TB the build amortizes over
    * every probing query exactly as the flat persisted row argues.
    */
  private val annHnswLayeredPersisted = QueryDef(
    "q_ann_hnsw_layered_persisted",
    "Build-then-probe HIERARCHICAL graph-ANN lifecycle: both layer " +
      "edge tables (base navigable graph + mod-8 upper layer) are " +
      "written to parquet index files by a separate build job, and " +
      "the log-style descent probe reads them back with fresh scans " +
      "(no build stages) — row-identical to q_ann_hnsw_layered.",
    annHnswLayered.oracle,
    (s, d) => {
      val e = embeddings(s, d)
      val corpus = annCorpus(e)
      val sfTag = new java.io.File(d).getName.replace('.', '_')
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val l0Path = s"$wh/graft_hnswl_l0_$sfTag"
      val l1Path = s"$wh/graft_hnswl_l1_$sfTag"
      // BUILD: two independent jobs, one per layer graph
      hnswNavEdges(corpus).write.mode("overwrite").parquet(l0Path)
      hnswNavEdges(corpus.filter(col("vec_id") % HnswL1Mod === 0),
        HnswNavMUpper).write.mode("overwrite").parquet(l1Path)
      // PROBE: corpus scan + the two persisted layer-edge scans. The
      // index scans are cached for the descent's rounds (the in-query
      // twin persists its built edges the same way) — the search
      // materializes its output before returning, so the unpersist is
      // safe
      val l0 = s.read.parquet(l0Path).persist()
      val l1 = s.read.parquet(l1Path).persist()
      val res = hnswLayeredSearch(e, l0, l1)
      l0.unpersist()
      l1.unpersist()
      res
    }
  )

  // ------------------------------------------------------- ANN deletes

  /** Deterministic tombstone slice: past the probes (< 5) and hub
    * landmarks (< 21), every 17th vector — ~5.5% of the corpus, the
    * daily takedown/dedup-removal batch.
    */
  private[graft] val annDelPred = "vec_id >= 100 AND vec_id % 17 = 0"

  /** The delete paths for both persisted index families, exposed so
    * AnnDeleteSpec can assert zero tombstoned ids in any top-10.
    * Returns (readout, ivfTop10, graphTop10, tombstones).
    */
  private[graft] def annDeleteParts(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = embeddings(s, d)
    val corpus = annCorpus(e)
    val probes = annProbes(e)
    val sfTag = new java.io.File(d).getName.replace('.', '_')
    val wh = s.conf.get("spark.sql.warehouse.dir")
    // deletes arrive as a tombstone FILE (takedown list), not a filter
    val tombPath = s"$wh/graft_ann_tombstones_$sfTag"
    corpus.filter(expr(annDelPred)).select(col("vec_id"))
      .write.mode("overwrite").parquet(tombPath)
    val tombs = s.read.parquet(tombPath)
    val survivors = corpus.join(tombs, Seq("vec_id"), "left_anti")

    // ---- IVF arm: persisted per-(label, dim) decimal partials (built
    // BEFORE the delete, over the full corpus) refreshed by partial-sum
    // SUBTRACT of the tombstoned rows — decimal addition is associative,
    // so refreshed centroids equal a survivors-only rebuild EXACTLY
    def partials(df: org.apache.spark.sql.DataFrame) = df
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy("label", "pos")
      .agg(sum(col("val").cast("decimal(20,10)")).as("sv"), count(lit(1)).as("n"))
    val basePath = s"$wh/graft_ann_del_partials_$sfTag"
    partials(corpus).write.mode("overwrite").parquet(basePath)
    val delRows = corpus.join(tombs, Seq("vec_id"), "left_semi")
    val cent = s.read.parquet(basePath)
      .unionByName(partials(delRows)
        .select(col("label"), col("pos"), (-col("sv")).as("sv"), (-col("n")).as("n")))
      .groupBy("label", "pos")
      .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      .select(col("label"), col("pos"), round(dbl(col("sv")) / col("n"), 6).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("ce"))
    val top2 = ivfTop2Cent(cent, probes)
    val w = Window.partitionBy("probe_id").orderBy(col("d2"), col("cand_id"))
    // candidate scan anti-joined the tombstone table upstream: a
    // deleted id cannot appear in any result
    val ivfTop10 = survivors
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce2"), col("label"))
      .join(broadcast(top2), "label")
      .withColumn("d2", round(l2sq("pe", "ce2"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("probe_id", "cand_id")

    // ---- graph arm: the persisted base edge table (built pre-delete)
    // is NOT rewritten — the probe filters tombstones at search time by
    // scoring only survivor nodes (the survivor join drops deleted
    // nodes before any beam, so they can neither rank nor expand)
    val edgePath = s"$wh/graft_ann_del_edges_$sfTag"
    hnswEdges(corpus).write.mode("overwrite").parquet(edgePath)
    val (gTop10, _) = beamSearch(probes, survivors,
      flatRounds(s.read.parquet(edgePath)), _.localCheckpoint())

    // ---- readout: recall of each arm vs the exact arm on SURVIVORS
    val out = hitsVsExact(probes, survivors,
        ivfTop10 -> "ivf_hits", gTop10 -> "g_hits")
      .select(col("probe_id"), col("ivf_hits"), recall("ivf_hits").as("ivf_recall"),
        col("g_hits"), recall("g_hits").as("g_recall"))
      .orderBy("probe_id")
    (out, ivfTop10, gTop10, tombs)
  }

  private val annDeleteDuck: String =
    s"""WITH gcorp AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
       |gprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
       |ghubs AS (SELECT vec_id, embedding FROM gcorp WHERE vec_id < 21),
       |gsurv AS (SELECT * FROM gcorp WHERE NOT ($annDelPred)),
       |scentl AS (SELECT label, ord,
       |    round(CAST(sum(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c
       |  FROM (SELECT label, unnest(generate_series(1, len(embedding))) AS ord,
       |          unnest(embedding) AS val FROM gsurv) t GROUP BY label, ord),
       |scent AS (SELECT label, list(c ORDER BY ord) AS ce FROM scentl GROUP BY label),
       |stop2 AS (SELECT probe_id, clabel FROM (
       |  SELECT p.probe_id, c.label AS clabel,
       |    row_number() OVER (PARTITION BY p.probe_id ORDER BY ${d2Duck("p.pe", "c.ce")}, c.label) AS cr
       |  FROM gprobes p CROSS JOIN scent c) t WHERE cr <= 2),
       |itop10 AS (SELECT probe_id, cand_id FROM (
       |  SELECT t.probe_id, v.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY t.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, v.vec_id) AS rk
       |  FROM stop2 t JOIN gprobes p ON p.probe_id = t.probe_id
       |  JOIN gsurv v ON v.label = t.clabel) t WHERE rk <= 10),
       |${hnswEdgesDuck("gcorp", "ghubs", "g")},
       |${hnswSeedDuck("gc0", "gprobes", "ghubs")},
       |${hnswRoundsDuck("g", "gprobes", "gedges", "gsurv")},
       |gtop10 AS (SELECT probe_id, node AS cand_id FROM (
       |  SELECT c.probe_id, c.node,
       |    row_number() OVER (PARTITION BY c.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, c.node) AS rk
       |  FROM gc$HnswRounds c JOIN gprobes p ON p.probe_id = c.probe_id
       |  JOIN gsurv v ON v.vec_id = c.node) t WHERE rk <= 10),
       |sexact AS (SELECT probe_id, cand_id FROM (
       |  SELECT p.probe_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY p.probe_id ORDER BY ${d2Duck("p.pe", "c.embedding")}, c.vec_id) AS rk
       |  FROM gprobes p CROSS JOIN gsurv c) t WHERE rk <= 10),
       |ivfh AS (SELECT e.probe_id, CAST(count(t.cand_id) AS BIGINT) AS ivf_hits
       |  FROM sexact e LEFT JOIN itop10 t
       |    ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id GROUP BY 1),
       |gh AS (SELECT e.probe_id, CAST(count(t.cand_id) AS BIGINT) AS g_hits
       |  FROM sexact e LEFT JOIN gtop10 t
       |    ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id GROUP BY 1)
       |SELECT i.probe_id, i.ivf_hits, round(i.ivf_hits / 10.0, 6) AS ivf_recall,
       |       g.g_hits, round(g.g_hits / 10.0, 6) AS g_recall
       |FROM ivfh i JOIN gh g ON g.probe_id = i.probe_id
       |ORDER BY i.probe_id""".stripMargin

  /** Delete/tombstone path for the persisted ANN indexes (VERDICT r13
    * #3): inserts have refresh stories (q_ann_ivf_refresh partial-sum
    * merge, q_ann_hnsw_delta greedy re-link) — this closes the other
    * half of daily index maintenance. The IVF partial table absorbs a
    * tombstone batch by partial-sum SUBTRACT (decimal associativity ⇒
    * refreshed centroids equal a survivors-only rebuild EXACTLY — the
    * oracle computes them from survivors); the graph's persisted edge
    * table is NOT rewritten — the probe filters tombstones at search
    * time (survivor-join before any beam), the standard
    * tombstone-mask-at-read design every production index uses.
    * AnnDeleteSpec pins zero deleted ids in any top-10 and recall
    * floors on the surviving corpus.
    *
    * Scale: the refresh touches O(tombstones) rows + the labels×dims
    * partial table; the graph delete is O(0) write — the mask rides
    * the probe's survivor join; periodic re-link compaction is the
    * q_ann_hnsw_delta machinery run in reverse.
    */
  private val annDelete = QueryDef(
    "q_ann_delete",
    "ANN index deletes: a deterministic tombstone slice (vec_id >= " +
      "100, every 17th) leaves the persisted indexes consistent — " +
      "IVF per-(label,dim) partials refreshed by exact decimal " +
      "SUBTRACT (== survivors-only rebuild), the persisted NSW edge " +
      "table untouched with tombstones masked at search time; per " +
      "probe each arm's hits and recall@10 vs the exact arm on the " +
      "SURVIVING corpus.",
    Some(annDeleteDuck),
    (s, d) => annDeleteParts(s, d)._1
  )

  private val annCompactDuck: String = {
    def visitedCte(name: String, pfx: String, alias: String) =
      s"""$name AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS $alias FROM (
         |  ${(1 to HnswRounds).map(t => s"SELECT probe_id, node FROM ${pfx}x$t")
             .mkString(" UNION ")}) GROUP BY 1)""".stripMargin
    def topCte(name: String, beam: String) =
      s"""$name AS (SELECT probe_id, node AS cand_id FROM (
         |  SELECT c.probe_id, c.node,
         |    row_number() OVER (PARTITION BY c.probe_id ORDER BY ${d2Duck("p.pe", "v.embedding")}, c.node) AS rk
         |  FROM $beam c JOIN gprobes p ON p.probe_id = c.probe_id
         |  JOIN gsurv v ON v.vec_id = c.node) t WHERE rk <= 10)""".stripMargin
    s"""WITH gcorp AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
       |gprobes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
       |ghubs AS (SELECT vec_id, embedding FROM gcorp WHERE vec_id < 21),
       |gsurv AS (SELECT * FROM gcorp WHERE NOT ($annDelPred)),
       |shubs AS (SELECT vec_id, embedding FROM gsurv WHERE vec_id < 21),
       |${hnswEdgesDuck("gcorp", "ghubs", "g")},
       |${hnswEdgesDuck("gsurv", "shubs", "s")},
       |${hnswSeedDuck("mc0", "gprobes", "shubs")},
       |${hnswRoundsDuck("m", "gprobes", "gedges", "gsurv")},
       |${hnswSeedDuck("cc0", "gprobes", "shubs")},
       |${hnswRoundsDuck("c", "gprobes", "sedges", "gsurv")},
       |${visitedCte("mnv", "m", "m_visited")},
       |${visitedCte("cnv", "c", "c_visited")},
       |${topCte("mtop10", s"mc$HnswRounds")},
       |${topCte("ctop10", s"cc$HnswRounds")},
       |sexact AS (SELECT probe_id, cand_id FROM (
       |  SELECT p.probe_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY p.probe_id ORDER BY ${d2Duck("p.pe", "c.embedding")}, c.vec_id) AS rk
       |  FROM gprobes p CROSS JOIN gsurv c) t WHERE rk <= 10),
       |mh AS (SELECT e.probe_id, CAST(count(t.cand_id) AS BIGINT) AS m_hits
       |  FROM sexact e LEFT JOIN mtop10 t
       |    ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id GROUP BY 1),
       |ch AS (SELECT e.probe_id, CAST(count(t.cand_id) AS BIGINT) AS c_hits
       |  FROM sexact e LEFT JOIN ctop10 t
       |    ON t.probe_id = e.probe_id AND t.cand_id = e.cand_id GROUP BY 1)
       |SELECT mh.probe_id, mnv.m_visited, mh.m_hits,
       |       round(mh.m_hits / 10.0, 6) AS m_recall,
       |       cnv.c_visited, ch.c_hits, round(ch.c_hits / 10.0, 6) AS c_recall
       |FROM mh JOIN ch ON ch.probe_id = mh.probe_id
       |JOIN mnv ON mnv.probe_id = mh.probe_id
       |JOIN cnv ON cnv.probe_id = mh.probe_id
       |ORDER BY mh.probe_id""".stripMargin
  }

  /** The compaction + twin-probe paths, exposed so AnnCompactSpec can
    * assert the purge (zero tombstoned ids in the compacted edge table)
    * and incremental == survivors-rebuild equality directly. Returns
    * (readout, compactedEdges, baseEdges, tombstones).
    */
  private[graft] def annCompactParts(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = embeddings(s, d)
    val corpus = annCorpus(e)
    val probes = annProbes(e)
    val sfTag = new java.io.File(d).getName.replace('.', '_')
    val wh = s.conf.get("spark.sql.warehouse.dir")
    // the pre-delete persisted index + the tombstone takedown file —
    // the q_ann_delete starting state, rebuilt here so the key is
    // self-contained
    val tombPath = s"$wh/graft_ann_cmp_tombs_$sfTag"
    corpus.filter(expr(annDelPred)).select(col("vec_id"))
      .write.mode("overwrite").parquet(tombPath)
    val tombs = s.read.parquet(tombPath)
    val basePath = s"$wh/graft_ann_cmp_base_$sfTag"
    hnswEdges(corpus).write.mode("overwrite").parquet(basePath)
    val base = s.read.parquet(basePath).persist()
    val survivors = corpus.join(tombs, Seq("vec_id"), "left_anti").persist()

    // ---- COMPACTION (incremental; provably == a survivors-only
    // rebuild, which is what the oracle computes — the hash match IS
    // the equality proof at fixture SF):
    // (1) keep every persisted edge between survivors: each came from
    //     some node's top-k list, and a surviving member of a top-k
    //     list stays in that list when rows are only REMOVED (at most
    //     k-1 nodes were closer before, so at most k-1 survivors are
    //     closer after);
    // (2) nodes whose own lists LOST a tombstoned entry are exactly
    //     the srcs of tombstone-pointing edges (every per-node list
    //     edge is persisted src→member) — recompute only THEIR lists
    //     over survivors, O(affected × candidates), never the corpus
    //     rebuild.
    val kept = base
      .join(tombs.withColumnRenamed("vec_id", "src"), Seq("src"), "left_anti")
      .join(tombs.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_anti")
      // using-column joins move the join key first — restore (src, dst)
      // before the POSITIONAL unionAll below
      .select("src", "dst")
    val aff = base
      .join(tombs.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
      .select(col("src").as("vec_id")).distinct()
      .join(tombs, Seq("vec_id"), "left_anti")
    val affRows = survivors.join(aff, Seq("vec_id"), "left_semi").persist()
    val cmpPath = s"$wh/graft_ann_cmp_edges_$sfTag"
    kept.unionAll(hnswLists(affRows, survivors)).distinct()
      .write.mode("overwrite").parquet(cmpPath)
    val cedges = s.read.parquet(cmpPath).persist()

    // ---- twin probes: identical beam search, survivor scoring; the
    // masked arm walks the UNREWRITTEN base graph (the q_ann_delete
    // steady state), the compact arm the rewritten index. Visited =
    // the union of raw pre-score expansion sets, so the masked arm
    // pays for every tombstone its frontier touches.
    def probe(edges: DataFrame, visitedName: String) = {
      val (top, visited) = beamSearch(probes, survivors, flatRounds(edges),
        _.localCheckpoint())
      (top, visitedCount(visited, visitedName))
    }
    val (mTop, mNv) = probe(base, "m_visited")
    val (cTop, cNv) = probe(cedges, "c_visited")
    val out = hitsVsExact(probes, survivors, mTop -> "m_hits", cTop -> "c_hits")
      .join(mNv, "probe_id")
      .join(cNv, "probe_id")
      .select(col("probe_id"), col("m_visited"), col("m_hits"),
        recall("m_hits").as("m_recall"),
        col("c_visited"), col("c_hits"), recall("c_hits").as("c_recall"))
      .orderBy("probe_id")
    (materializeThenRelease(out, base, survivors, affRows, cedges),
      cedges, base, tombs)
  }

  /** Tombstone COMPACTION for the persisted graph index (VERDICT r14
    * #5): q_ann_delete masks tombstones at read forever — correct, but
    * every probe pays beam slots and edge expansions for dead nodes.
    * This key runs the periodic compaction job: rewrite the persisted
    * edge table to the survivors-only graph INCREMENTALLY — keep every
    * surviving edge (a surviving top-k member stays top-k under pure
    * deletion), recompute lists only for nodes adjacent to a tombstone
    * — and prove via the oracle (which builds the survivors graph from
    * scratch) that the incremental rewrite equals a full rebuild
    * EXACTLY. The readout probes both the masked base graph and the
    * compacted one with the identical beam search: recall can only go
    * up (promoted replacement edges restore connectivity the masks
    * severed) while visited counts stop paying the tombstone tax.
    *
    * Scale: the rewrite is O(tombstone-adjacent nodes × their bounded
    * candidate sets) + a filter over the edge table — the daily
    * compaction cost is proportional to the takedown batch, not the
    * corpus; the full rebuild it provably equals would shuffle the
    * whole corpus.
    */
  private val annCompact = QueryDef(
    "q_ann_compact",
    "Persisted graph-index tombstone compaction: the q_ann_delete " +
      "takedown slice is PURGED from the persisted NSW edge table by " +
      "an incremental rewrite (keep surviving edges, recompute only " +
      "tombstone-adjacent nodes' lists over survivors) that exactly " +
      "equals a survivors-only rebuild; per probe, visited counts and " +
      "recall@10 vs the exact survivor arm for the masked base graph " +
      "and the compacted graph side by side.",
    Some(annCompactDuck),
    (s, d) => annCompactParts(s, d)._1
  )

  /** Late-interaction (ColBERT-style MaxSim) retrieval — the
    * MULTI-VECTOR scoring model next to the single-vector families
    * above: a document is a BAG of token vectors, and score(q, d) =
    * Σ_{query token} max_{doc token} ⟨qt, dt⟩, which preserves
    * token-level matching that pooled single vectors average away.
    * Token bags derive deterministically by slicing each 64-d
    * embedding into 8 contiguous 8-d token vectors (the fixture
    * convention — at production scale the bag IS the per-token
    * encoder output).
    *
    * Plan shape: the probe token table (probes × 8 rows) BROADCASTS
    * into the corpus token table (corpus × 8, partitioned with the
    * corpus — token explosion never shuffles the corpus); the inner
    * max is a map-side-combinable (probe, cand, ti) aggregate, the
    * outer sum an exact DECIMAL(18,6) fold over the 8 rounded maxima
    * (order-independent, engine-identical). At 100 TB the exact
    * MaxSim runs over a candidate set from a first-stage filter
    * (q_ann_ivf / q_ann_hnsw supply it) — the ColBERTv2/PLAID
    * two-stage shape; the scoring plan here is unchanged by that
    * composition, only its input shrinks.
    */
  private val annMaxsim = QueryDef(
    "q_ann_maxsim",
    "Late-interaction multi-vector retrieval (ColBERT MaxSim): each " +
      "vector sliced into 8 token vectors of 8 dims; score(q,d) = " +
      "sum over query tokens of the max dot product over doc tokens; " +
      "exact top-3 docs per probe. Probe tokens broadcast, the inner " +
      "max map-side combines, the outer sum folds exact decimals.",
    Some("""WITH toks AS (SELECT i FROM unnest(generate_series(0, 7)) AS t(i)),
           |pt AS (SELECT vec_id AS probe_id, i AS ti,
           |              embedding[i*8+1:i*8+8] AS pv
           |       FROM embeddings, toks WHERE vec_id < 5),
           |ct AS (SELECT vec_id AS cand_id, i AS tj,
           |              embedding[i*8+1:i*8+8] AS cv
           |       FROM embeddings, toks WHERE vec_id >= 5),
           |best AS (SELECT probe_id, cand_id, ti,
           |    max(round(list_sum(list_transform(list_zip(pv, cv),
           |          q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))), 6)) AS b
           |  FROM pt, ct GROUP BY 1, 2, 3),
           |scored AS (SELECT probe_id, cand_id,
           |    CAST(sum(CAST(b AS DECIMAL(18,6))) AS DOUBLE) AS score
           |  FROM best GROUP BY 1, 2),
           |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
           |    ORDER BY score DESC, cand_id) AS BIGINT) AS rk FROM scored)
           |SELECT probe_id, rk, cand_id, score
           |FROM ranked WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin),
    (s, d) => {
      import graft.functions.VectorFunctions.vecDot
      val e = embeddings(s, d)
      def tokens(df: org.apache.spark.sql.DataFrame, id: String, ti: String,
          tv: String) = df
        .select(col("vec_id").as(id), explode(sequence(lit(0), lit(7))).as(ti),
          col("embedding"))
        .withColumn(tv, slice(col("embedding"), col(ti) * 8 + 1, lit(8)))
        .drop("embedding")
      val pt = tokens(e.filter(col("vec_id") < 5), "probe_id", "ti", "pv")
      val ct = tokens(e.filter(col("vec_id") >= 5), "cand_id", "tj", "cv")
      val best = ct.join(broadcast(pt))
        .select(col("probe_id"), col("cand_id"), col("ti"),
          round(vecDot(col("pv"), col("cv")), 6).as("dot"))
        .groupBy("probe_id", "cand_id", "ti")
        .agg(max(col("dot")).as("b"))
      val scored = best.groupBy("probe_id", "cand_id")
        .agg(dbl(sum(col("b").cast(
          org.apache.spark.sql.types.DecimalType(18, 6)))).as("score"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("cand_id"))
      scored.withColumn("rk", lng(row_number().over(w)))
        .filter(col("rk") <= 3)
        .select("probe_id", "rk", "cand_id", "score")
        .orderBy("probe_id", "rk")
    }
  )

  val defs: Seq[QueryDef] = Seq(annCosine, annIvf, annLsh, annTopkAgg, annRecall,
    lshRecall, annFiltered, annPq, pqRecall, annIvfPq, annHnsw,
    annHnswPersisted, annHnswDelta, annHnswLayered, annHnswLayeredPersisted,
    annPersisted, annIvfRefresh, annDelete, annCompact, mmrRerank, annMaxsim)
}
