package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool (optimization rounds): per-query job/stage breakdown plus the
  * `.explain("formatted")` plan, for the keys given on the command line.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <outDir> key [key ...]
  *
  * For each key it runs the query once to a noop sink (guide §1.4) with a
  * listener attached, then writes `<outDir>/<key>.txt` containing
  *   - per-job wall seconds, stage count, call site (`callSite.short`
  *     of the user-code action that started the job: the SQL
  *     execution's description, else the result stage's name) and,
  *     when the code under test set one, job description — so a change
  *     in job count can be traced to the line that added or removed
  *     jobs by diffing two profiles,
  *   - every stage's task time / shuffle read+write bytes / records,
  *     sorted by task time,
  *   - the formatted plan of the final frame.
  * Construction time (driver-side work before the first action of the
  * timed sink) is reported separately — several builders run bounded
  * fixture jobs inside `build`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val keys = args.drop(2).toSeq
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()

    case class JobRow(id: Int, desc: String, callSite: String, start: Long,
        var end: Long = -1,
        stages: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer())
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    case class StageRow(id: Int, name: String, tasks: Int, taskTimeMs: Long,
        shufReadMB: Double, shufWriteMB: Double, recsIn: Long, recsOut: Long)
    val stages = mutable.LinkedHashMap[Int, StageRow]()
    // SQL execution id → call site of the action that started it
    val sqlSites = mutable.Map[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized {
          sqlSites(s.executionId) = s.description
        }
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        def prop(k: String) = Option(js.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        // a job an SQL action runs (AQE runs each stage as its own job,
        // from a pool thread) takes the action's call site; any other
        // job's result stage is named after the job's own call site
        val site = prop("spark.sql.execution.id").toLongOption
          .flatMap(sqlSites.get)
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("")
        jobs(js.jobId) = JobRow(js.jobId, prop("spark.job.description"),
          site, js.time,
          stages = mutable.ArrayBuffer(js.stageIds: _*).asInstanceOf[mutable.ArrayBuffer[Int]])
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages(si.stageId) = StageRow(si.stageId, si.name, si.numTasks,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // one untimed warmup pass at sf0.001 so JIT/codegen cost does not
    // pollute the first profiled key (mirrors Bench)
    LocalSpark.warmUp(spark, keys.map(k => k -> SparkEntry.queries(k)),
        LocalSpark.warmDir(sfDir))
      .foreach { case (k, e) => System.err.println(s"[profile] $k warm-up failed: $e") }
    spark.sharedState.cacheManager.clearCache()

    keys.foreach { k =>
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      val tBuild = System.nanoTime()
      LocalSpark.noop(df)
      val tEnd = System.nanoTime()
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(300)
      val sb = new StringBuilder
      sb ++= f"==== $k ====%n"
      sb ++= f"build (construction incl. bounded driver jobs): ${(tBuild - t0) / 1e9}%.3f s%n"
      sb ++= f"sink (noop write action):                      ${(tEnd - tBuild) / 1e9}%.3f s%n"
      sb ++= f"total:                                         ${(tEnd - t0) / 1e9}%.3f s%n%n"
      sb ++= f"-- jobs (${jobs.size}) --%n"
      jobs.values.foreach { j =>
        val dur = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
        sb ++= f"job ${j.id}%4d  ${dur}%8.3f s  stages=${j.stages.size}%3d  " +
          s"${j.callSite}${if (j.desc.nonEmpty) s"  [${j.desc}]" else ""}\n"
      }
      sb ++= f"%n-- stages (${stages.size}, by task time) --%n"
      stages.values.toSeq.sortBy(-_.taskTimeMs).foreach { s =>
        sb ++= f"stage ${s.id}%4d taskTime=${s.taskTimeMs / 1e3}%8.2f s tasks=${s.tasks}%4d " +
          f"shufR=${s.shufReadMB}%8.2f MB (${s.recsIn}%9d rec) shufW=${s.shufWriteMB}%8.2f MB " +
          f"(${s.recsOut}%9d rec)  ${s.name.take(90)}%n"
      }
      sb ++= "\n-- plan (formatted) --\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= "\n"
      Files.writeString(Paths.get(s"$outDir/$k.txt"), sb.toString)
      println(f"[profile] $k%-28s build=${(tBuild - t0) / 1e9}%7.3f sink=${(tEnd - tBuild) / 1e9}%7.3f jobs=${jobs.size}%4d stages=${stages.size}%4d")
    }
    spark.stop()
  }
}
