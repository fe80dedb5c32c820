package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{sf, spark}
import graft.queries.AnnQueries

/** Persisted graph-index lifecycle gates (q_ann_hnsw_persisted): the
  * probe must be a pure consumer of the persisted edge table — same
  * rows as the intra-query twin, and a probe plan with NO graph-build
  * stages (no TopKByScore hub fan-out, no LSH band-key explode, no
  * label self-join candidate generation).
  */
class HnswPersistSpec extends AnyFunSuite {

  private def canon(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("persisted probe matches the intra-query HNSW twin row-for-row") {
    val persisted = SparkEntry.queries("q_ann_hnsw_persisted")(spark, sf).collect()
    val twin = SparkEntry.queries("q_ann_hnsw")(spark, sf).collect()
    assert(persisted.nonEmpty)
    assert(canon(persisted) == canon(twin))
  }

  test("probe plan reads the edge table and contains no build stages") {
    // run the builder once so the index file exists
    SparkEntry.queries("q_ann_hnsw_persisted")(spark, sf).collect()
    val sfTag = new java.io.File(sf).getName.replace('.', '_')
    val idxPath =
      s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_hnsw_edges_$sfTag"
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val probe = AnnQueries.hnswSearch(e, spark.read.parquet(idxPath))
    val plan = probe.queryExecution.executedPlan.toString
    // the edge table is scanned...
    assert(plan.contains("graft_hnsw_edges_"),
      "probe plan does not scan the persisted edge table")
    // ...and no build stage leaked into the probe: the build is the
    // TopKByScore hub fan-out + the LSH band-key explode (Generate)
    // + the label self-join candidate generation
    assert(!plan.contains("TopKByScore"), "probe plan re-runs the hub fan-out")
    assert(!plan.contains("hyperplane_lsh_keys"),
      "probe plan re-runs the LSH candidate generator")
    assert(!plan.contains("Generate"), "probe plan re-runs the index build")
  }
}
