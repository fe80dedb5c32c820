package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.queries.DedupQueries

/** q_dedup_substring_exact (SURVEY.md §2.28): the every-offset window
  * join must find ALL planted ≥64-char shared passages — recall 1.0,
  * the guarantee the content-defined q_dedup_substring trades away —
  * including copies at DIFFERENT offsets in the two documents, and
  * must not fire on overlaps one character short of the window.
  */
class ExactSubstringSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 70-char passage with no internal period (so its windows cannot
  // collide with the periodic fillers below)
  private val passage =
    "THEQUICKBROWNFOXJUMPSOVERTHELAZYDOG0123456789abcdefghijklmnopqrstuvwxyz"
      .take(70)

  // per-doc filler: one UNIQUE character per doc (Latin-Extended, never
  // in the passage), so no cross-doc window can straddle a
  // filler/passage boundary — boundary windows were exactly how the
  // first fixture draft manufactured REAL extra shared substrings
  // (matching filler suffixes extended the planted passage)
  private def filler(seed: Int, n: Int): String =
    (0x100 + seed).toChar.toString * n

  test("planted misaligned >=64-char copies are all found; 63-char overlap is not") {
    val docs = Seq(
      // pair (1, 2): 70-char passage at offset 10 vs offset 37
      (1L, filler(1, 10) + passage + filler(1, 40)),
      (2L, filler(2, 37) + passage + filler(2, 11)),
      // pair (3, 4): EXACTLY 64 shared chars, different offsets
      (3L, filler(3, 5) + passage.take(64) + filler(3, 33)),
      (4L, filler(4, 29) + passage.take(64) + filler(4, 7)),
      // doc 5: 63-char prefix of the passage — one short of the window,
      // must NOT pair with anyone
      (5L, filler(5, 20) + passage.take(63) + filler(5, 30))
    ).toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a 70-char shared passage has 70-63 = 7 distinct shared windows;
    // a 64-char one has exactly 1. Docs 1,2 contain passage.take(64)
    // too, so (1,3),(1,4),(2,3),(2,4) each share that one window.
    // Doc 5 (63-char prefix, one short of the window) pairs nobody.
    assert(got === Set((1L, 2L, 7L), (3L, 4L, 1L),
      (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L), (2L, 4L, 1L)),
      s"got $got")
  }

  test("boilerplate guard: a window shared by >32 docs pairs nobody") {
    val many = (100 to 139).map { k =>
      (k.toLong, filler(k, 15) + passage.take(64) + filler(k, 20))
    }.toDF("doc_id", "text")
    assert(DedupQueries.exactSubstringPairs(many).count() === 0)
  }

  // n docs sharing one 64-char window; the first doc optionally holds
  // it twice, at two offsets
  private def sharing(n: Int, repeatFirst: Boolean = false) =
    (200 until 200 + n).map { k =>
      val twice = if (repeatFirst && k == 200) filler(k, 9) + passage.take(64) else ""
      (k.toLong, filler(k, 15) + passage.take(64) + twice + filler(k, 20))
    }.toDF("doc_id", "text")

  private val both = Seq[(String, DataFrame => DataFrame)](
    "pairs" -> DedupQueries.exactSubstringPairs,
    "spans" -> DedupQueries.exactSubstringSpans)

  test("boilerplate guard boundary: 32 docs keep all C(32,2) pairs, 33 keep none") {
    for ((name, f) <- both) {
      assert(f(sharing(32)).count() === 496L, name)
      assert(f(sharing(33)).count() === 0L, name)
    }
  }

  test("boilerplate guard counts DISTINCT docs: a doc repeating the window is one doc") {
    // 33 (doc, offset) rows but 32 docs: a row count would drop the group
    for ((name, f) <- both)
      assert(f(sharing(32, repeatFirst = true)).count() === 496L, name)
  }

  test("fingerprints are derived once: one Generate outside reused exchanges") {
    // the guard is a window on the h-partitioned exchange both join
    // sides reuse; an aggregate joined back re-derives the explode +
    // md5 windows once per consumer
    def generates(p: SparkPlan): Int = p match {
      case _: ReusedExchangeExec => 0
      case a: AdaptiveSparkPlanExec => generates(a.executedPlan)
      case q: QueryStageExec => generates(q.plan)
      case g: GenerateExec => 1 + g.children.map(generates).sum
      case o => o.children.map(generates).sum
    }
    val docs = Tables.documentsSpread(spark, TestSpark.sf)
    for ((name, f) <- both) {
      val df = f(docs)
      df.collect() // the final adaptive plan exists only after the action
      val plan = df.queryExecution.executedPlan
      assert(generates(plan) === 1, s"$name:\n$plan")
    }
  }

  test("span extraction recovers planted passage lengths EXACTLY") {
    val docs = Seq(
      // 70-char passage, misaligned: max_span must be exactly 70
      (1L, filler(1, 10) + passage + filler(1, 40)),
      (2L, filler(2, 37) + passage + filler(2, 11)),
      // 64-char passage: the minimum detectable span, exactly 64
      (3L, filler(3, 5) + passage.take(64) + filler(3, 33)),
      (4L, filler(4, 29) + passage.take(64) + filler(4, 7))
    ).toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringSpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 70L, s"70-char passage span: ${got((1L, 2L))}")
    assert(got((3L, 4L)) == 64L, s"64-char passage span: ${got((3L, 4L))}")
    // cross pairs share only the 64-char prefix of the longer passage
    assert(got((1L, 3L)) == 64L && got((2L, 4L)) == 64L)
  }

  test("span extraction: two disjoint shared passages report the longer one") {
    val p2 = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210zyxwvutsrqponmlkjihgfedcba98765"
      .take(65)
    val docs = Seq(
      (6L, filler(6, 8) + passage + filler(6, 9) + p2 + filler(6, 5)),
      (7L, filler(7, 3) + p2 + filler(7, 21) + passage + filler(7, 14))
    ).toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringSpans(docs).collect()
    assert(got.length == 1)
    // passages of 70 and 65 chars: max_span = 70, total matched
    // offsets = (70-63) + (65-63) = 9
    assert(got(0).getLong(2) == 70L && got(0).getLong(3) == 9L,
      s"got span ${got(0).getLong(2)}, matched ${got(0).getLong(3)}")
  }

  test("48-bit fingerprint narrowing is collision-free at fixture SF") {
    // the r15 shuffle-key narrowing (VERDICT r14 #2): windows join on
    // 48-bit md5-prefix BIGINTs instead of 32-char md5 strings. Odds of
    // any collision are ~G²/2⁴⁹ over G distinct grams; pin ZERO at the
    // sf0.001 fixture so the cheap key provably changes no answer there
    import org.apache.spark.sql.functions._
    val grams = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(length(col("text")) >= 64)
      .select(col("text"),
        explode(expr("sequence(1, length(text) - 63)")).as("p"))
      .select(expr("substr(text, p, 64)").as("g"))
      .distinct()
    val counts = grams.select(
      countDistinct(col("g")).as("ng"),
      countDistinct(expr(
        "CAST(conv(substr(md5(g), 1, 12), 16, 10) AS BIGINT)")).as("nh"))
      .collect()(0)
    assert(counts.getLong(0) === counts.getLong(1),
      s"48-bit fingerprint collision: ${counts.getLong(0)} grams -> " +
        s"${counts.getLong(1)} fingerprints")
  }

  test("recall is 1.0 over a misalignment sweep") {
    // the same 70-char passage at every offset pairing (0..8) × (0..8):
    // every pair of docs must be found regardless of relative shift
    val docs = (0 until 9).map { k =>
      ((k + 10).toLong, filler(k + 10, k * 3) + passage + filler(k + 10, 30))
    }.toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringPairs(docs).count()
    assert(got === 36L, s"expected all C(9,2)=36 pairs, got $got")
  }
}
