package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.util.Det._

/** Event-sequence and feature-preparation operators over the `events`
  * table: the batch sessionization / cohort-retention / transition-
  * matrix / feature-scaling primitives a training-data pipeline runs
  * before any model sees a row.
  *
  * Scale shapes (PLANS.md): every window here partitions by `user_id`
  * (high-cardinality — parallelism grows with the data), never by the
  * 5-value `event_type`; the per-type statistics joins broadcast a
  * ≤5-row aggregate. Timestamps flow as epoch-µs BIGINTs end-to-end
  * (Det rule) so both engines bin and hash identically.
  */
object SessionQueries {

  private val sessionize = QueryDef(
    "q_sessionize",
    "Batch sessionization: per-user 30-minute-gap sessions via the " +
      "classic lag→break-flag→running-sum assignment, then one row per " +
      "session with its event count and µs bounds. Both windows " +
      "partition by user_id (high cardinality, scales out); ties on " +
      "identical timestamps are broken by event_id so session ids are " +
      "deterministic across engines, retries and repartitioning. The " +
      "batch twin of the streaming q_stream_session.",
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |g AS (SELECT user_id, event_id, us,
           |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
           |             THEN 1 ELSE 0 END AS brk
           |      FROM e),
           |x AS (SELECT user_id, us,
           |        sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
           |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS session_seq
           |      FROM g)
           |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |       CAST(count(*) AS BIGINT) AS n_events,
           |       min(us) AS start_us, max(us) AS end_us
           |FROM x GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsUs(s, d)
        .withColumn("brk",
          when(col("us") - lag("us", 1).over(w) > 1800000000L, 1).otherwise(0))
        .withColumn("session_seq", sum("brk").over(wRun) + 1)
        .groupBy("user_id", "session_seq")
        .agg(lng(count(lit(1))).as("n_events"),
          min("us").as("start_us"), max("us").as("end_us"))
        .select(col("user_id"), lng(col("session_seq")).as("session_seq"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy("user_id", "session_seq")
    }
  )

  private val retention = QueryDef(
    "q_retention",
    "Cohort retention: users cohorted by their first active epoch-day, " +
      "distinct active users per (cohort_day, day_offset) cell — the " +
      "standard retention-triangle input. Day buckets use the same " +
      "floor-division trick as q_gap_fill so negative epochs bin " +
      "identically in both engines. The user_id equi-join co-partitions " +
      "with the first-day aggregate; counts only, no float risk.",
    Some("""WITH e AS (SELECT user_id,
           |             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
           |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
           |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
           |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
           |FROM e JOIN f ON e.user_id = f.user_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, d) => {
      // floor division (matches DuckDB `//`), not Spark's truncating DIV
      val dayExpr =
        "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000"
      val e = events(s, d).select(col("user_id"), expr(dayExpr).as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(first, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(lng(countDistinct(col("user_id"))).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }
  )

  private val markov = QueryDef(
    "q_markov",
    "Event-transition matrix (order-1 Markov estimate): per-user " +
      "next-event via lead(), transition counts, and row-normalized " +
      "probabilities. The lead window partitions by user_id; the " +
      "normalizing sum windows over the tiny (type × type) count table. " +
      "prob = count/rowsum is a single exact-integer division — engine-" +
      "identical doubles. The sequence-modeling dataset-prep primitive.",
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |s AS (SELECT event_type,
           |        lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
           |      FROM e),
           |t AS (SELECT event_type, next_type, count(*) AS n FROM s
           |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
           |SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS prob
           |FROM t ORDER BY event_type, next_type""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val t = eventsUs(s, d)
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("event_type")
      t.select(col("event_type"), col("next_type"), lng(col("n")).as("n"),
          round(dbl(col("n")) / sum("n").over(wt), 6).as("prob"))
        .orderBy("event_type", "next_type")
    }
  )

  private val movingAvg = QueryDef(
    "q_moving_avg",
    "Time-range moving average: per-user 1-hour trailing mean of " +
      "`value` via a RANGE window over epoch-µs (not ROWS — peers at " +
      "the same instant enter together, and the frame is defined by " +
      "time, not row count). Exact DECIMAL sum over the frame, one " +
      "double division at the end (Det rule). Partitioned by user_id, " +
      "so frame state stays small and parallelism scales with users.",
    Some("""WITH e AS (SELECT event_id, user_id,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           |             CAST(value AS DECIMAL(18,2)) AS v FROM events)
           |SELECT event_id, user_id,
           |       round(CAST(sum(v) OVER w AS DOUBLE) / count(*) OVER w, 6) AS avg_1h
           |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
           |                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
           |ORDER BY event_id""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0L)
      eventsUs(s, d).withColumn("v", money(col("value")))
        .select(col("event_id"), col("user_id"),
          round(dbl(sum("v").over(w)) / count(lit(1)).over(w), 6).as("avg_1h"))
        .orderBy("event_id")
    }
  )

  private val zscore = QueryDef(
    "q_zscore",
    "Z-score outlier detection: per-type mean/variance from exact " +
      "DECIMAL moments (the q_moments discipline — native stddev is " +
      "banned, its float summation order differs between engines), " +
      "then |z| > 2.5 rows flagged. The ≤5-row moment table broadcasts; " +
      "the threshold tests the UNROUNDED z so both engines keep the " +
      "same rows, and only the output value is rounded.",
    Some("""WITH m AS (SELECT event_type, count(*) AS n,
           |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
           |  FROM events GROUP BY event_type),
           |z AS (SELECT e.event_id, e.event_type,
           |        (CAST(e.value AS DOUBLE) - m.sx / m.n)
           |          / sqrt(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n)) AS z
           |      FROM events e JOIN m ON e.event_type = m.event_type)
           |SELECT event_id, event_type, round(z, 6) AS z
           |FROM z WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin),
    (s, d) => {
      val m = events(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        dbl(sum(money(col("value")))).as("sx"),
        dbl(sum(money(col("value")) * money(col("value")))).as("sxx"))
      val z = (dbl(col("value")) - col("sx") / col("n")) /
        sqrt(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
      events(s, d).join(broadcast(m), "event_type")
        .withColumn("z", z)
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), round(col("z"), 6).as("z"))
        .orderBy("event_id")
    }
  )

  private val minmaxNorm = QueryDef(
    "q_minmax_norm",
    "Min-max feature scaling: (value - min)/(max - min) per event " +
      "type. min/max are exact (no summation-order hazard) and the " +
      "rescale is one subtraction + one division on identical doubles " +
      "— engine-exact without any DECIMAL detour. Degenerate groups " +
      "(max = min) pin to 0.5. Stats side broadcasts (≤5 rows).",
    Some("""WITH m AS (SELECT event_type, min(value) AS mn, max(value) AS mx
           |           FROM events GROUP BY event_type)
           |SELECT e.event_id, e.event_type,
           |       round(CASE WHEN m.mx = m.mn THEN 0.5
           |                  ELSE (e.value - m.mn) / (m.mx - m.mn) END, 6) AS norm
           |FROM events e JOIN m ON e.event_type = m.event_type
           |ORDER BY event_id""".stripMargin),
    (s, d) => {
      val m = events(s, d).groupBy("event_type")
        .agg(min("value").as("mn"), max("value").as("mx"))
      events(s, d).join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"),
          round(when(col("mx") === col("mn"), 0.5)
            .otherwise((col("value") - col("mn")) / (col("mx") - col("mn"))), 6)
            .as("norm"))
        .orderBy("event_id")
    }
  )

  // ------------------------------------------------------------ hmm viterbi

  /** 2-state HMM Viterbi DECODING of each user's event sequence —
    * the inference half of the sequence-model family (q_markov
    * ESTIMATES a transition matrix; this decodes the most likely
    * hidden-state path under one): browse vs buy-intent states with
    * fixed integer micronat costs (transitions sticky, intent favoring
    * purchase/cart emissions). Emitted readout is the FORWARD Viterbi
    * cost table — per user the min path cost ending in each state and
    * the argmin final state — which needs no backtrack state at all:
    * the fold carries exactly two BIGINTs per user however long the
    * sequence.
    *
    * Determinism: all costs are planted integer constants; the fold is
    * min/plus integer arithmetic in event-time order with an
    * (epoch µs, event_id) total-order tiebreak on the sort, so
    * partitioning and engine cannot move a bit (the q_holt recurrence
    * discipline; like holt, the 2-state constant-work-per-step fold is
    * the simple-fold carve-out where the interpreted HOF is fine —
    * the r8 HOF trap is about O(L²) reference blowups, not linear
    * folds).
    *
    * Scale: keys (users) scale out, per-key series are bounded by the
    * time range; one map-side-combined collect per user, then a
    * per-row linear fold. No window, no shuffle beyond the groupBy.
    */
  private val hmmViterbi = QueryDef(
    "q_hmm_viterbi",
    "2-state HMM Viterbi forward costs per user event sequence: " +
      "sticky browse/buy-intent states, planted integer micronat " +
      "transition + emission costs, min-plus fold in event-time " +
      "order; per user the cost ending in each state, the best cost " +
      "and the argmin final state — all exact BIGINTs.",
    // uniDuckChain hazard, new instance found here: DuckDB 1.0's
    // list_reduce with a STRUCT accumulator computes nondeterministic
    // results across sessions even when the lambda references only its
    // parameters (struct-acc folds were measured returning three
    // different cost tables for identical input). The rules hold: the
    // accumulator must be a FLAT LIST, so the emission costs are
    // precomputed per element by the (chunk-safe) outer list_transform
    // and the lambda is pure [BIGINT] min-plus arithmetic.
    Some("""WITH e AS (SELECT user_id, event_type,
           |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
           |           FROM events),
           |seqs AS (SELECT user_id,
           |  list_transform(list_sort(list({'us': us, 'eid': event_id, 'et': event_type})),
           |    t -> [CASE t.et WHEN 'view' THEN 500 WHEN 'click' THEN 600
           |                    WHEN 'search' THEN 900 WHEN 'cart' THEN 1800
           |                    WHEN 'purchase' THEN 2500 ELSE 2000 END,
           |          CASE t.et WHEN 'purchase' THEN 200 WHEN 'cart' THEN 400
           |                    WHEN 'search' THEN 1200 WHEN 'click' THEN 1500
           |                    WHEN 'view' THEN 1600 ELSE 2000 END]) AS em
           |  FROM e GROUP BY user_id),
           |dp AS (SELECT user_id, CAST(len(em) AS BIGINT) AS n_events,
           |         list_reduce(list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)], em),
           |           (acc, x) -> [least(acc[1] + 100, acc[2] + 900) + x[1],
           |                        least(acc[1] + 1200, acc[2] + 300) + x[2]]) AS st
           |       FROM seqs)
           |SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           |       CAST(st[1] AS BIGINT) AS cost_browse,
           |       CAST(st[2] AS BIGINT) AS cost_intent,
           |       CAST(least(st[1], st[2]) AS BIGINT) AS best_cost,
           |       CASE WHEN st[1] <= st[2] THEN 'browse' ELSE 'intent' END AS best_state
           |FROM dp ORDER BY user_id""".stripMargin),
    (s, d) => events(s, d)
      .groupBy("user_id")
      .agg(expr(
        """aggregate(
          |  transform(sort_array(collect_list(struct(unix_micros(ts) AS us, event_id AS eid, event_type AS et))),
          |            t -> t.et),
          |  named_struct('a', 0L, 'b', 0L),
          |  (acc, et) -> named_struct(
          |    'a', least(acc.a + 100L, acc.b + 900L)
          |         + CASE et WHEN 'view' THEN 500L WHEN 'click' THEN 600L
          |                   WHEN 'search' THEN 900L WHEN 'cart' THEN 1800L
          |                   WHEN 'purchase' THEN 2500L ELSE 2000L END,
          |    'b', least(acc.a + 1200L, acc.b + 300L)
          |         + CASE et WHEN 'purchase' THEN 200L WHEN 'cart' THEN 400L
          |                   WHEN 'search' THEN 1200L WHEN 'click' THEN 1500L
          |                   WHEN 'view' THEN 1600L ELSE 2000L END))""".stripMargin)
        .as("st"),
        lng(count(lit(1))).as("n_events"))
      .select(lng(col("user_id")).as("user_id"), col("n_events"),
        lng(col("st.a")).as("cost_browse"), lng(col("st.b")).as("cost_intent"),
        lng(least(col("st.a"), col("st.b"))).as("best_cost"),
        when(col("st.a") <= col("st.b"), "browse").otherwise("intent")
          .as("best_state"))
      .orderBy("user_id")
  )

  /** Interval-union coverage — the sweep-line primitive next to
    * q_sessionize (gap-split) and q_join_interval (interval⋈point):
    * each event opens an interval [ts, ts + floor(value·60) s] (value
    * minutes of activity, integer-floored — the deterministic duration
    * proxy), and the query reports per user the UNION length of those
    * overlapping intervals, the island count, and the overlap ratio
    * (sum of raw durations / covered time — how redundant the
    * activity log is). The classic "billable time from overlapping
    * work intervals" / "sensor uptime from overlapping pings" shape.
    *
    * Mechanics: the running-max-of-end sweep — per user order by
    * (start, end, event_id) (a TOTAL order, so the 1-PRECEDING frame
    * is engine-stable under ties), flag a new island when start
    * strictly exceeds the running max end of all predecessors, prefix-
    * sum the flags into island ids, then islands aggregate to
    * (max end − min start) and users sum their islands. All epoch-µs
    * BIGINT arithmetic end-to-end.
    *
    * Scale: both windows partition by user_id (high cardinality);
    * island aggregation is a map-side-combinable groupBy — nothing
    * global, no shuffle wider than the events table itself.
    */
  private val intervalCoverage = QueryDef(
    "q_interval_coverage",
    "Per-user union length of overlapping activity intervals " +
      "[ts, ts + value minutes] via the running-max sweep: covered " +
      "µs, island count, and the raw/covered overlap ratio.",
    Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
           |                   epoch_us(CAST(ts AS TIMESTAMP))
           |                   + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e_us
           |            FROM events),
           |sw AS (SELECT user_id, event_id, s_us, e_us,
           |         CASE WHEN max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
           |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |                   >= s_us
           |              THEN 0 ELSE 1 END AS brk
           |       FROM iv),
           |isl AS (SELECT user_id, s_us, e_us,
           |          sum(brk) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
           |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |        FROM sw),
           |agg AS (SELECT user_id, island, min(s_us) AS lo, max(e_us) AS hi,
           |               sum(e_us - s_us) AS raw
           |        FROM isl GROUP BY 1, 2)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           |       CAST(sum(hi - lo) AS BIGINT) AS covered_us,
           |       CAST(sum(raw) AS BIGINT) AS raw_us,
           |       round(CAST(sum(raw) AS DOUBLE) / nullif(CAST(sum(hi - lo) AS DOUBLE), 0), 6) AS overlap_ratio
           |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val iv = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts"))
          + expr("CAST(floor(value * 60) AS BIGINT)") * 1000000L).as("e_us"))
      val ord = Window.partitionBy("user_id")
        .orderBy("s_us", "e_us", "event_id")
      val prevMax = ord.rowsBetween(Window.unboundedPreceding, -1)
      val sw = iv.withColumn("brk",
        when(max("e_us").over(prevMax) >= col("s_us"), 0L).otherwise(1L))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isl = sw.withColumn("island", sum("brk").over(run))
      val agg = isl.groupBy("user_id", "island")
        .agg(min("s_us").as("lo"), max("e_us").as("hi"),
          sum(col("e_us") - col("s_us")).as("raw"))
      agg.groupBy("user_id")
        .agg(lng(count(lit(1))).as("n_islands"),
          lng(sum(col("hi") - col("lo"))).as("covered_us"),
          lng(sum("raw")).as("raw_us"),
          // nullif guard (ADVICE r12): all-zero-duration islands make
          // covered time 0 — both engines must agree NULL, not inf
          round(dbl(sum("raw"))
            / nullif(dbl(sum(col("hi") - col("lo"))), lit(0.0)), 6)
            .as("overlap_ratio"))
        .orderBy("user_id")
    }
  )

  val defs: Seq[QueryDef] = Seq(sessionize, retention, markov, movingAvg,
    zscore, minmaxNorm, hmmViterbi, intervalCoverage)
}
