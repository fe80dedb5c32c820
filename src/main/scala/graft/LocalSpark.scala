package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session, noop sink and sf0.001 warm-up shared by the
  * `Bench`, `Verify`, `Scaling` and `ProfileQuery` mains.
  */
object LocalSpark {

  /** An inventory query builder: (session, sf dir) => final frame. */
  type Builder = (SparkSession, String) => DataFrame

  /** `local[$SPARK_GRAFT_CPUS]` (default 32) with one shuffle partition
    * per core, UTC session time zone, no UI and WARN logging.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Computes every output column (count() would let Catalyst prune
    * the projections being measured) and writes nothing.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The first line of a failure, capped at 500 chars. */
  def firstLine(e: Throwable): String =
    e.toString.linesIterator.nextOption().getOrElse("").take(500)

  /** The sf0.001 fixture set beside `sfDir`: the warm-up input. */
  def warmDir(sfDir: String): String =
    new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001").getPath

  /** One untimed pass of each builder at `dir` (JVM/JIT and
    * whole-stage-codegen warm-up, so timed numbers measure plans, not
    * first-call compilation). Returns each builder that threw with its
    * first error line, in `builders` order; the caller reports them and
    * still times those keys.
    */
  def warmUp(spark: SparkSession, builders: Seq[(String, Builder)],
      dir: String): Seq[(String, String)] =
    builders.flatMap { case (name, fn) =>
      try { noop(fn(spark, dir)); None }
      catch { case e: Throwable => Some(name -> firstLine(e)) }
    }
}
