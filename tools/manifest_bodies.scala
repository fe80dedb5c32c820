// Docstore manifest bodies of one fixed op script, normalised for diffing
// two builds. Runs every commit kind past v24 (checkpoints at v8, v16 and
// v24, a branch, then a vacuum floor checkpoint and a shallow clone) and
// writes every manifest, branch manifest and checkpoint body, in name
// order, before and after the vacuum, to $OUT/bodies.txt. Batch writes set `commitTimestamp`; the wall-clock
// `#ts` of the other ops reads `WALL`. File-name tokens (the job UUID
// prefix in data and DV file names) read `T<n>`, numbered in the order
// the manifests add them.
//
//   OUT=/tmp/bodies spark-shell --master local[2] \
//     --driver-class-path target/scala-2.13/classes -i tools/manifest_bodies.scala
//
// Run it once per build and `diff` the two bodies.txt files.
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{DocStore, DocStoreBranch, DocStoreOps, DocStoreStreamingWrite}

val out = sys.env("OUT")
val dir = s"$out/table"
val cloneDir = s"$out/clone"
var ts = 0L
def w(df: org.apache.spark.sql.DataFrame, mode: String = "append",
    opts: Map[String, String] = Map.empty): Unit = {
  ts += 1000L
  df.write.format("docstore").mode(mode).options(opts)
    .option("commitTimestamp", ts.toString).save(dir)
}
def rows(ks: Seq[Long]) =
  ks.map(k => (k, k % 4, k, s"s$k")).toDF("k", "grp", "v", "s").coalesce(2)
def narrow(ks: Seq[Long]) = ks.map(k => (k, k % 4, k)).toDF("k", "grp", "v").coalesce(1)
def epoch(ddl: String, id: Long, r: Seq[Any]): Unit = {
  val sw = new DocStoreStreamingWrite(dir, StructType.fromDDL(ddl), "q1")
  val wr = sw.createStreamingWriterFactory(
    new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
    .createWriter(0, 0L, id)
  wr.write(new GenericInternalRow(r.map {
    case s: String => UTF8String.fromString(s)
    case x => x
  }.toArray))
  sw.commit(id, Array(wr.commit()))
}

w(rows(0L until 400L), "overwrite",
  Map("partitionCols" -> "grp", "bloomCols" -> "k"))          // v1
w(rows(400L until 420L))                                       // v2
DocStoreOps.merge(spark, dir, rows(Seq(10L, 1000L)), "k")      // v3
DocStoreOps.delete(spark, dir, Seq(20L, 21L).toDF("k"), "k")   // v4
DocStoreOps.renameColumn(dir, "s", "t")                        // v5
DocStoreOps.addCheck(dir, "v", 0L, 100000L)                    // v6
epoch("k BIGINT, grp BIGINT, v BIGINT, t STRING", 0L,
  Seq(2000L, 0L, 2000L, "e"))                                  // v7
DocStoreOps.deleteVectors(spark, dir, Seq(30L, 31L).toDF("k"), "k") // v8
DocStoreOps.dropCheck(dir, "v")                                // v9
DocStoreBranch.create(dir, "b")
ts += 1000L
Seq((3000L, 1L, 3000L, "b")).toDF("k", "grp", "v", "t").coalesce(1)
  .write.format("docstore").mode("append").option("branch", "b")
  .option("commitTimestamp", ts.toString).save(dir)
DocStoreBranch.publish(dir, "b", Some(ts + 500L))              // v10
DocStoreOps.restore(dir, 9L)                                   // v11
DocStoreOps.dropColumn(dir, "t")                               // v12
w(narrow(500L until 510L), opts = Map("partitionCols" -> "grp")) // v13
DocStoreOps.merge(spark, dir, narrow(Seq(501L, 502L)), "k")    // v14
epoch("k BIGINT, grp BIGINT, v BIGINT", 1L, Seq(2001L, 1L, 2001L)) // v15
DocStoreOps.deleteVectors(spark, dir, Seq(40L, 41L).toDF("k"), "k") // v16
DocStoreOps.purgeDvs(spark, dir, 0.0)                          // v17
DocStoreOps.compact(spark, dir, 1L << 20)                      // v18
DocStoreOps.zorder(spark, dir, "k", "v", 2)                    // v19
w(narrow(0L until 300L), "overwrite")                          // v20
w(narrow(300L until 320L))                                     // v21
DocStoreOps.merge(spark, dir, narrow(Seq(5L, 900L)), "k")      // v22
DocStoreOps.deleteVectors(spark, dir, Seq(6L).toDF("k"), "k")  // v23
DocStoreOps.restore(dir, 21L)                                  // v24

val tokens = scala.collection.mutable.LinkedHashMap.empty[String, String]
val Tok = """part-\d+-\d+-([0-9a-f]{8})|\.dv([0-9a-f]{8})""".r
def normalise(l: String): String = {
  val t = Tok.replaceAllIn(l, m => {
    val tok = Option(m.group(1)).getOrElse(m.group(2))
    val id = tokens.getOrElseUpdate(tok, s"T${tokens.size}")
    java.util.regex.Matcher.quoteReplacement(m.matched.replace(tok, id))
  })
  val Ts = """#ts\t(\d+)""".r
  t match {
    case Ts(v) if v.toLong > 1000000000000L => "#ts\tWALL"
    case x => x.replace(out, "$OUT")
  }
}
def bodyNames(d: String): Seq[String] =
  Files.list(Paths.get(d)).iterator.asScala.map(_.getFileName.toString)
    .filter(n => n.startsWith("_") && !n.contains(".tmp")).toSeq.sorted
// number the tokens in commit order first
bodyNames(dir).filter(_.startsWith("_manifest-v"))
  .foreach(n => Files.readAllLines(Paths.get(dir, n)).asScala.foreach(normalise))
def dump(stage: String, d: String): Seq[String] =
  bodyNames(d).map { n =>
    s"== $stage ${d.stripPrefix(out)}/$n\n" +
      Files.readAllLines(Paths.get(d, n)).asScala.map(normalise).mkString("\n")
  }
val before = dump("v24", dir)
DocStoreBranch.drop(dir, "b")
DocStore.vacuum(dir, retainLast = 3)
DocStoreOps.shallowClone(dir, cloneDir)
val bodies = before ++ dump("vacuumed", dir) ++ dump("clone", cloneDir)
Files.write(Paths.get(out, "bodies.txt"), (bodies.mkString("\n") + "\n").getBytes("UTF-8"))
println(s"[bodies] ${bodies.size} bodies -> $out/bodies.txt")
System.exit(0)
