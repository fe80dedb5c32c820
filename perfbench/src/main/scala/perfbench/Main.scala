package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM: sets up the session, runs one
  * workload as a closed loop from this single client thread, runs the
  * untimed output checks, and writes every span and sample to
  * `<root>/record.json`. `perfbench/run.py` builds this program, starts
  * it, checks key outputs against DuckDB and turns the record into
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR --data DIR [--cycle N] [--setup-only 1] [--plant throw|wrong]
  */
object Main {
  /** `cycle` numbers the JVMs of one run; with `setupOnly` this JVM only
    * sets up, reports when it is ready, and exits.
    */
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, data: String, plant: String,
      cycle: Int, setupOnly: Boolean)

  /** Warm passes per run. Passes keep speeding up as the JIT warms, so
    * the count is fixed for a given `--seconds` rather than driven by the
    * clock: every run then samples the same points of the warm-up curve,
    * and a slower host does not also get fewer, earlier passes. It is
    * sized from the workload's nominal cold and warm pass times on the
    * reference host, so the timed phase lasts about `--seconds` there. A
    * traced run has at least four, two traced and two untraced.
    */
  def warmPasses(w: Workload, seconds: Double, traced: Boolean): Int =
    math.max(if (traced) 4 else 3,
      math.round((seconds - w.nominalColdS) / w.nominalPassS).toInt)

  /** Warm passes of a traced run go untraced, traced, traced, untraced and
    * repeat, so the traced and the untraced passes sit equally early on
    * average and JIT warm-up does not bias the tracing overhead.
    */
  def tracedPass(index: Int): Boolean = index > 0 && Set(1, 2)((index - 1) % 4)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(a("--workload"), a("--seed").toLong, a("--seconds").toDouble,
      a("--trace") == "1", a("--root"), a("--data"), a.getOrElse("--plant", ""),
      a.getOrElse("--cycle", "0").toInt, a.get("--setup-only").contains("1"))
    val workload: Workload = o.workload match {
      case "etl_sf001" =>
        new KeyWorkload(Workloads.Etl, s"${o.data}/sf0.01", o, 9.0, 2.5)
      case "docstore_rw" => new DocstoreWorkload(o)
      case w => sys.error(s"unknown workload $w")
    }
    val tr = new Tracer(f"${o.workload}-${o.seed}%d")
    val cores = Runtime.getRuntime.availableProcessors()
    val run = tr.add("workload", o.workload, null,
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

    // set-up, from JVM start until the session (and the workload's inputs)
    // are ready. The ready time goes to a file at once: run.py times set-up
    // from process start to that moment, over this JVM and the set-up-only
    // ones of the same run.
    val setup = tr.add("setup", "setup", run.id, run.start)
    val spark = session(o.root, cores)
    spark.range(1).count()
    workload.prepare(spark, o.cycle)
    tr.close(setup)
    val ready = java.time.Instant.now()
    Files.writeString(Paths.get(o.root, s"ready-${o.cycle}"),
      f"${ready.getEpochSecond}%d.${ready.getNano / 1000}%06d")
    if (o.setupOnly) { spark.stop(); return }

    val listeners = if (o.trace) Some(new SparkTrace(tr)) else None
    val passes = 1 + warmPasses(workload, o.seconds, o.trace)
    (0 until passes).foreach { pass =>
      val traced = listeners.isDefined && tracedPass(pass)
      // every pass starts from a collected heap, so no pass pays for the
      // garbage of the one before, and every warm pass once the JIT is idle
      System.gc()
      val quietMs = if (pass > 0) jitQuiet() else 0L
      if (traced) listeners.get.attach(spark)
      val p = tr.open("pass", s"pass-$pass", run)
      val gc0 = gcMs
      workload.pass(spark, tr, p, pass, traced)
      p.attrs ++= Seq("index" -> pass, "traced" -> traced, "gc_ms" -> (gcMs - gc0),
        "quiet_ms" -> quietMs)
      tr.close(p)
      if (traced) listeners.get.detach(spark)
    }
    val checks = workload.check(spark, tr, run)
    tr.close(run)
    val record = Map(
      "run_id" -> tr.runId, "workload" -> o.workload, "seed" -> o.seed,
      "trace" -> o.trace, "cores" -> cores,
      "rss_peak_mb" -> vmHwmKb / 1024.0,
      "checks" -> checks, "extra" -> workload.extra(spark),
      "spans" -> tr.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs)))
    spark.stop()
    Files.writeString(Paths.get(o.root, "record.json"), Json(record))
  }

  def session(root: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Waits until the JIT has finished no compilation for `quietMs`, or
    * `capMs` at most, and returns the time waited. A warm pass then does
    * not share the cores with compilations that the pass before it
    * queued, so where a pass sits on the warm-up curve depends on how many
    * passes ran, not on how fast the host ran them.
    */
  def jitQuiet(quietMs: Long = 200, capMs: Long = 1500): Long = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime
    def ms(since: Long) = (System.nanoTime - since) / 1000000
    var compiled = jit.getTotalCompilationTime
    var idleSince = t0
    while (ms(idleSince) < quietMs && ms(t0) < capMs) {
      Thread.sleep(5)
      val now = jit.getTotalCompilationTime
      if (now != compiled) { compiled = now; idleSince = System.nanoTime }
    }
    ms(t0)
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def vmHwmKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)

  /** Runs one op as a span with a `build` child (constructing what the
    * action consumes) and an action child, each under a job group named
    * after its span. A throwing op is marked failed with its error; the
    * report never times it.
    */
  def op[T](spark: SparkSession, tr: Tracer, parent: Span, cls: String,
      name: String, actionName: String)(build: => T)(action: T => Unit): Span = {
    val sc = spark.sparkContext
    val s = tr.open("op", name, parent)
    s.attrs("class") = cls
    try {
      val b = tr.open("build", "build", s)
      sc.setJobGroup(b.id, name)
      val built = build
      tr.close(b)
      // the built frame was analysed during the build, outside any action
      built match {
        case df: DataFrame =>
          df.queryExecution.tracker.phases.get("analysis").foreach { ph =>
            b.attrs("analysis_ms") = ph.durationMs
            b.attrs("qe") = System.identityHashCode(df.queryExecution)
          }
        case _ =>
      }
      val a = tr.open("action", actionName, s)
      sc.setJobGroup(a.id, name)
      action(built)
      tr.close(a)
      s.attrs("ok") = true
    } catch {
      case NonFatal(e) =>
        s.attrs("ok") = false
        s.attrs("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally sc.clearJobGroup()
    tr.close(s)
    s
  }
}

trait Workload {
  /** Cold and warm pass seconds on the reference host (4 vCPUs). */
  def nominalColdS: Double
  def nominalPassS: Double
  /** Set-up work beyond creating the session; `cycle` numbers the JVM. */
  def prepare(spark: SparkSession, cycle: Int): Unit = ()
  /** One timed pass; index 0 is the cold pass. */
  def pass(spark: SparkSession, tr: Tracer, p: Span, index: Int,
      traced: Boolean): Unit
  /** Untimed output checks; returns one record per checked output. */
  def check(spark: SparkSession, tr: Tracer, run: Span): Seq[Map[String, Any]]
  /** Workload-specific end-of-run facts for the record. */
  def extra(spark: SparkSession): Map[String, Any] = Map.empty
}

/** A fixed key set from the query inventory, run through the noop sink.
  * The seed shuffles key order within every pass.
  */
final class KeyWorkload(keys: Seq[String], dir: String, o: Main.Opts,
    val nominalColdS: Double, val nominalPassS: Double) extends Workload {
  private val builders: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k -> graft.queries.Inventory.queries(k)).toMap ++
      (if (o.plant == "throw") Map("planted_throw" -> Workloads.plantedThrow)
       else Map.empty)

  def pass(spark: SparkSession, tr: Tracer, p: Span, index: Int,
      traced: Boolean): Unit = {
    // the cold pass runs in a fixed order, so first-call costs fall on the
    // same keys in every run; the seed orders the warm passes
    val sorted = builders.keys.toSeq.sorted
    val order = if (index == 0) sorted else new Random(o.seed * 1000 + index).shuffle(sorted)
    order.foreach { k =>
      val s = Main.op(spark, tr, p, "key", k, "sink")(builders(k)(spark, dir)) {
        _.write.format("noop").mode("overwrite").save()
      }
      val sc = spark.sparkContext
      if (traced) {
        s.attrs("cache_rdds") = sc.getPersistentRDDs.size
        s.attrs("cache_bytes") =
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      }
      // no later pass may time a cache hit left by this one
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  def check(spark: SparkSession, tr: Tracer, run: Span): Seq[Map[String, Any]] =
    builders.keys.toSeq.sorted.map { k =>
      val out = s"${o.root}/out/$k"
      val s = Main.op(spark, tr, run, "check", k, "write")(builders(k)(spark, dir)) {
        _.coalesce(1).write.mode("overwrite").parquet(out)
      }
      spark.catalog.clearCache()
      Map("key" -> k, "out" -> out, "ok" -> s.attrs("ok"),
        "error" -> s.attrs.getOrElse("error", null),
        "oracle" -> graft.queries.Inventory.oracleSql.getOrElse(k, null))
    }
}

object Workloads {
  /** Data-bound keys at sf0.01: the reference pipeline, curation and
    * relational work, where executor time and shuffle dominate.
    */
  val Etl: Seq[String] = Seq(
    "q_pipeline_qa", "q_dedup_substring_exact", "q_tpch_q1")

  val plantedThrow: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("planted failure")
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
