package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocStore, DocStoreOps}

/** The local file system, counting `listStatus` calls on one directory. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    if (CountingLocalFileSystem.dir.contains(f.toUri.getPath.stripSuffix("/")))
      CountingLocalFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  @volatile var dir: Option[String] = None
  val listings = new AtomicLong
}

/** Directory listings per docstore operation. The table directory holds
  * every data file, DV sidecar, manifest and checkpoint, so a listing
  * costs O(table files) on an object store; each operation resolves its
  * snapshot once and lists at most what that needs. Pins, with a
  * counting `FileSystem` installed in `DocStore.hconf` for the suite:
  *
  *  - a point lookup lists the table directory at most twice (schema
  *    inference, scan planning), an aggregate scan the same even when
  *    `pushAggregation` runs, an append commit once;
  *  - vacuum lists once, whatever it classifies.
  */
class DocStoreListingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def listingsOf(dir: String)(body: => Any): Long = {
    val conf = DocStore.hconf
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val old = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFileSystem.dir = Some(new Path(dir).toUri.getPath.stripSuffix("/"))
    CountingLocalFileSystem.listings.set(0L)
    try { body; CountingLocalFileSystem.listings.get() }
    finally {
      CountingLocalFileSystem.dir = None
      old.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("a point lookup, an aggregate scan and an append commit list the " +
    "table directory at most 2, 2 and 1 times; vacuum lists it once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gds_listings").toString
    (0L until 2000L).map(k => (k, k % 7, s"b$k")).toDF("id", "grp", "body")
      .repartitionByRange(4, col("id"))
      .write.format("docstore").mode("overwrite").save(dir)
    (1 to 3).foreach { i =>
      Seq((5000L + i, 1L, "a")).toDF("id", "grp", "body")
        .write.format("docstore").mode("append").save(dir)
    }
    DocStoreOps.merge(spark, dir, Seq((7L, 2L, "m")).toDF("id", "grp", "body"), "id")
    val lookup = listingsOf(dir) {
      val got = spark.read.format("docstore").load(dir)
        .where(col("id") === 7L).select("body").collect()
      assert(got.map(_.getString(0)).toSeq == Seq("m"))
    }
    assert(lookup <= 2, s"point lookup listed the table $lookup times")
    val scan = listingsOf(dir) {
      val r = spark.read.format("docstore").load(dir)
        .agg(count(lit(1)), sum("grp")).head()
      assert(r.getLong(0) == 2003L)
    }
    assert(scan <= 2, s"aggregate scan listed the table $scan times")
    val pushed = listingsOf(dir) {
      assert(spark.read.format("docstore").load(dir).count() == 2003L)
    }
    assert(pushed <= 2, s"pushed COUNT(*) listed the table $pushed times")
    val append = listingsOf(dir) {
      Seq((6000L, 1L, "x")).toDF("id", "grp", "body")
        .write.format("docstore").mode("append").save(dir)
    }
    assert(append == 1, s"append commit listed the table $append times")
    val vacuum = listingsOf(dir) {
      val r = DocStore.vacuum(dir)
      assert(r.dataFiles > 0 && r.manifests > 0)
    }
    assert(vacuum == 1, s"vacuum listed the table $vacuum times")
    assert(spark.read.format("docstore").load(dir).count() == 2004L)
  }
}
