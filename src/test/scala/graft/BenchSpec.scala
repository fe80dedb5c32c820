package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench must never time a key that throws: the time to a throw
  * would benchmark a broken key as a fast one. A key that throws in
  * any timed pass is out of "queries" and of the total, and listed with
  * its error under "failed", ahead of the "metric"/"value" tail.
  */
class BenchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a key throwing in any timed pass is reported failed, never timed") {
    var calls = 0
    val builders = Seq[(String, Bench.Builder)](
      "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "q_boom" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted \"failure\"")),
      // fine in pass 1, throws in pass 2: one bad pass is enough
      "q_late" -> ((s: SparkSession, _: String) => {
        calls += 1
        if (calls == 2) throw new IllegalStateException("late")
        s.range(5).toDF(): DataFrame
      }))
    val (times, failed) = Bench.timedPasses(spark, TestSpark.sf, builders)
    assert(times.keySet === Set("q_ok"))
    assert(failed.keySet === Set("q_boom", "q_late"))
    assert(failed("q_boom").contains("planted \"failure\""), failed)

    val line = Bench.report(TestSpark.sf, times, failed, Nil)
    val json = new ObjectMapper().readTree(line)
    assert(json.get("queries").fieldNames().asScala.toSet === Set("q_ok"))
    assert(json.get("failed").get("q_late").asText().contains("late"))
    assert(json.get("value").asDouble() === times("q_ok"))
    val fields = json.fieldNames().asScala.toSeq
    assert(fields.takeRight(4) === Seq("failed", "metric", "unit", "value"), line)
  }
}
