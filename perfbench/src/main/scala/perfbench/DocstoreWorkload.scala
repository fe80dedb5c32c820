package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{DocStore, DocStoreOps}

/** Writes beside reads on one docstore table that every run rebuilds from
  * the seed. Each cycle is a seeded shuffle of a fixed op mix (appends,
  * one merge, one delete, point lookups, one full aggregate), then
  * compaction and vacuum, so the file set stays bounded and several
  * cycles fit in a run. An in-memory model of the generated ops checks
  * every lookup and aggregate, and the final full scan.
  */
final class DocstoreWorkload(o: Main.Opts) extends Workload {
  import DocstoreWorkload._

  val nominalColdS = 4.7
  val nominalPassS = 2.1
  private val rng = new Random(o.seed)
  private var dir: String = _
  private val model = new Model
  private var plantPending = o.plant == "wrong"

  override def prepare(spark: SparkSession, cycle: Int): Unit = {
    dir = s"${o.root}/table-$cycle"
    val base = new Random(o.seed)
    val rows = (0 until BaseRows).map(_ => model.fresh(base))
    model.put(rows)
    frame(spark, rows)
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("id"))
      .write.format("docstore").mode("overwrite").save(dir)
  }

  def pass(spark: SparkSession, tr: Tracer, p: Span, index: Int,
      traced: Boolean): Unit = {
    def commit(s: Span): Unit =
      if (traced) s.attrs("data_files") = dataFiles(dir).size
    rng.shuffle(CycleMix).foreach {
      case "append" =>
        val batch = (0 until AppendRows).map(_ => model.fresh(rng))
        val s = Main.op(spark, tr, p, "append", "append", "write")(frame(spark, batch)) {
          _.write.format("docstore").mode("append").save(dir)
        }
        if (ok(s)) model.put(batch)
        commit(s)
      case "merge" =>
        val batch = model.pick(rng, MergeRows / 2).map(id => Rec.gen(rng, id)) ++
          (0 until MergeRows / 2).map(_ => model.fresh(rng))
        val s = Main.op(spark, tr, p, "merge", "merge", "merge")(frame(spark, batch)) {
          DocStoreOps.merge(spark, dir, _, "id")
        }
        if (ok(s)) model.put(batch)
        commit(s)
      case "delete" =>
        val ids = model.pick(rng, DeleteRows)
        val s = Main.op(spark, tr, p, "delete", "delete", "delete") {
          spark.createDataFrame(ids.map(Row(_)).asJava,
            StructType(Seq(StructField("id", LongType, nullable = false))))
        } {
          DocStoreOps.delete(spark, dir, _, "id")
        }
        if (ok(s)) model.remove(ids)
        commit(s)
      case "lookup" =>
        val id = rng.nextLong(model.nextId)
        var got: Seq[Row] = Nil
        val s = Main.op(spark, tr, p, "lookup", "lookup", "collect") {
          spark.read.format("docstore").load(dir).where(col("id") === id)
            .select(Schema.fieldNames.map(col).toSeq: _*)
        } { df => got = df.collect().toSeq }
        var want = model.rows.get(id).map(_.row).toSeq
        if (plantPending) { want = Seq(Row(id, -1L, -1.0, "planted")); plantPending = false }
        s.attrs("rows") = got.size
        verify(s, got == want, s"lookup $id: got $got, want $want")
      case "scan" =>
        var got: Row = null
        val s = Main.op(spark, tr, p, "scan", "scan", "collect") {
          spark.read.format("docstore").load(dir)
            .agg(count(lit(1)), sum("score"), sum(length(col("body"))), sum("id"))
        } { df => got = df.collect().head }
        val want = model.aggregate
        verify(s, got == want, s"scan: got $got, want $want")
    }
    val before = if (traced) dataFiles(dir) else Set.empty[String]
    val c = Main.op(spark, tr, p, "compact", "compact", "compact")(()) { _ =>
      DocStoreOps.compact(spark, dir, TargetBytes)
    }
    Main.op(spark, tr, p, "vacuum", "vacuum", "vacuum")(()) { _ =>
      DocStore.vacuum(dir)
    }
    if (traced) c.attrs("files_rewritten") = before.diff(dataFiles(dir)).size
  }

  def check(spark: SparkSession, tr: Tracer, run: Span): Seq[Map[String, Any]] = {
    var got: Seq[Row] = Nil
    val s = Main.op(spark, tr, run, "check", "final_scan", "collect") {
      spark.read.format("docstore").load(dir)
        .select(Schema.fieldNames.map(col).toSeq: _*)
    } { df => got = df.collect().toSeq }
    val want = model.rows.values.map(_.row).toSeq
    verify(s, got.size == want.size && got.toSet == want.toSet,
      s"final scan: ${got.size} rows, model holds ${want.size}")
    Seq(Map("key" -> "final_scan", "ok" -> s.attrs("ok"),
      "error" -> s.attrs.getOrElse("error", null)))
  }

  override def extra(spark: SparkSession): Map[String, Any] = {
    val files = new File(dir).listFiles().filter(_.isFile)
    Map(
      "data_files" -> files.count(_.getName.endsWith(".gds")),
      "manifests" -> files.count(_.getName.startsWith("_manifest")),
      "bytes_on_disk" -> files.map(_.length).sum,
      "user_bytes" -> model.rows.values.map(_.bytes).sum)
  }

  private def ok(s: Span): Boolean = s.attrs("ok") == true

  private def verify(s: Span, good: Boolean, msg: => String): Unit =
    if (ok(s) && !good) {
      s.attrs("ok") = false
      s.attrs("error") = s"wrong answer: $msg"
    }
}

object DocstoreWorkload {
  val BaseRows = 20000
  val AppendRows = 200
  val MergeRows = 100
  val DeleteRows = 50
  /** Files below this size are merged by compaction. */
  val TargetBytes: Long = 1L << 20
  /** One cycle's op mix, after the 4 appends : 1 merge : 12 lookups ratio
    * of the probe, plus one delete and one full aggregate.
    */
  val CycleMix: Seq[String] =
    Seq.fill(4)("append") ++ Seq("merge", "delete", "scan") ++ Seq.fill(12)("lookup")

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("body", StringType, nullable = false)))

  private val Words = Array("alpha", "beta", "gamma", "delta", "table",
    "commit", "page", "chunk", "window", "vector", "merge", "scan")

  final case class Rec(id: Long, grp: Long, score: Double, body: String) {
    def row: Row = Row(id, grp, score, body)
    def bytes: Long = 8 + 8 + 8 + body.getBytes("UTF-8").length
  }

  object Rec {
    /** Scores are whole numbers, so sums are exact in any order. */
    def gen(r: Random, id: Long): Rec = Rec(id, r.nextInt(100).toLong,
      r.nextInt(1000000).toDouble,
      Seq.fill(4 + r.nextInt(20))(Words(r.nextInt(Words.length))).mkString(" "))
  }

  def frame(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(recs.map(_.row).asJava, Schema)

  def dataFiles(dir: String): Set[String] =
    new File(dir).list().filter(_.endsWith(".gds")).toSet

  /** The expected table: live rows by id, with O(1) random picks. */
  final class Model {
    val rows: mutable.HashMap[Long, Rec] = mutable.HashMap()
    private val live = mutable.ArrayBuffer[Long]()
    private val slot = mutable.HashMap[Long, Int]()
    var nextId = 0L

    def fresh(r: Random): Rec = { nextId += 1; Rec.gen(r, nextId - 1) }

    def put(recs: Seq[Rec]): Unit = recs.foreach { rec =>
      if (!rows.contains(rec.id)) { slot(rec.id) = live.size; live += rec.id }
      rows(rec.id) = rec
    }

    def remove(ids: Seq[Long]): Unit = ids.foreach { id =>
      rows.remove(id)
      slot.remove(id).foreach { i =>
        val last = live.remove(live.size - 1)
        if (last != id) { live(i) = last; slot(last) = i }
      }
    }

    /** `n` distinct live ids. */
    def pick(r: Random, n: Int): Seq[Long] = {
      val at = mutable.LinkedHashSet[Int]()
      while (at.size < math.min(n, live.size)) at += r.nextInt(live.size)
      at.toSeq.map(live)
    }

    def aggregate: Row = {
      val rs = rows.values
      Row(rs.size.toLong, rs.map(_.score).sum,
        rs.map(_.body.length.toLong).sum, rs.map(_.id).sum)
    }
  }
}
