package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.util.Det._

/** Ordered-event-flow operators over the `events` stream table:
  * sequence-pattern detection (the MATCH_RECOGNIZE shape) and
  * last-touch revenue attribution.
  *
  * Both are single-sort shapes: one window partitioned by `user_id`
  * (high cardinality — parallelism grows with the data) carries ALL
  * the per-user sequence state as running conditional extremes; there
  * is no self-join, no per-row subquery, no pattern automaton outside
  * the window frame. That is the only shape that survives a 100 TB
  * event log: each user's history is sorted once, within its own
  * partition, and every pattern/attribution answer falls out of the
  * same pass.
  *
  * Determinism (SURVEY.md §7.5): event order is (us, event_id) — the
  * event_id tiebreak makes same-microsecond events totally ordered in
  * both engines; attribution state is a zero-padded sortable string
  * key (max() of it is the latest touch), so no engine-specific
  * `last_value` / `arg_max` semantics are relied on.
  */
object EventFlowQueries {

  // ------------------------------------------------------------ seq pattern

  private val seqPattern = QueryDef(
    "q_seq_pattern",
    "Sequence-pattern detection (MATCH_RECOGNIZE shape): per user, " +
      "purchases that complete a click → view → purchase pattern — a " +
      "click precedes the purchase within 1 hour, and a view falls " +
      "strictly between that click and the purchase. One window per " +
      "user carries the pattern state as running conditional maxima " +
      "(last click µs, last view µs); a purchase row matches iff " +
      "last_view > last_click and purchase − last_click ≤ 1h. No self-" +
      "joins, no automaton: the funnel-with-ordering query as a single " +
      "sorted pass, the way a 100 TB event log has to run it.",
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |s AS (SELECT user_id, event_type, us,
           |        max(CASE WHEN event_type = 'click' THEN us END)
           |          OVER (PARTITION BY user_id ORDER BY us, event_id
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click,
           |        max(CASE WHEN event_type = 'view' THEN us END)
           |          OVER (PARTITION BY user_id ORDER BY us, event_id
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
           |      FROM e)
           |SELECT user_id,
           |       CAST(count(*) AS BIGINT) AS n_purchases,
           |       CAST(count(*) FILTER (WHERE last_click IS NOT NULL
           |                               AND last_view > last_click
           |                               AND us - last_click <= 3600000000) AS BIGINT) AS n_pattern
           |FROM s WHERE event_type = 'purchase'
           |GROUP BY user_id ORDER BY user_id""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val st = eventsUs(s, d)
        .withColumn("last_click",
          max(when(col("event_type") === "click", col("us"))).over(w))
        .withColumn("last_view",
          max(when(col("event_type") === "view", col("us"))).over(w))
        .filter(col("event_type") === "purchase")
      val matched = col("last_click").isNotNull &&
        col("last_view") > col("last_click") &&
        col("us") - col("last_click") <= 3600000000L
      st.groupBy("user_id")
        .agg(lng(count(lit(1))).as("n_purchases"),
          lng(count(when(matched, 1))).as("n_pattern"))
        .orderBy("user_id")
    }
  )

  // ------------------------------------------------------------ attribution

  private val attribution = QueryDef(
    "q_attribution",
    "Last-touch revenue attribution: each purchase's value is " +
      "credited to the latest preceding touch event (click / view / " +
      "signup) by the same user; purchases with no prior touch fall " +
      "into '(none)'. The latest touch rides the same per-user window " +
      "as q_seq_pattern, encoded as a zero-padded (us, event_id, type) " +
      "string whose running max IS the latest touch — portable across " +
      "engines where last_value/arg_max window semantics are not. " +
      "Credited value sums as exact DECIMAL. Output: per touch type, " +
      "attributed purchase count and revenue — the marketing-" +
      "attribution shape, one sorted pass over the log.",
    Some("""WITH e AS (SELECT user_id, event_id, event_type, value,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           |s AS (SELECT user_id, event_type, value,
           |        max(CASE WHEN event_type IN ('click','view','signup')
           |                 THEN lpad(CAST(us AS VARCHAR), 20, '0')
           |                      || lpad(CAST(event_id AS VARCHAR), 12, '0')
           |                      || event_type END)
           |          OVER (PARTITION BY user_id ORDER BY us, event_id
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_key
           |      FROM e)
           |SELECT coalesce(substr(touch_key, 33), '(none)') AS touch_type,
           |       CAST(count(*) AS BIGINT) AS n_purchases,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM s WHERE event_type = 'purchase'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val key = concat(
        lpad(col("us").cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0"),
        col("event_type"))
      val st = eventsUs(s, d)
        .withColumn("touch_key",
          max(when(col("event_type").isin("click", "view", "signup"), key))
            .over(w))
        .filter(col("event_type") === "purchase")
      st.select(
          coalesce(substring(col("touch_key"), 33, 10), lit("(none)"))
            .as("touch_type"),
          col("value"))
        .groupBy("touch_type")
        .agg(lng(count(lit(1))).as("n_purchases"),
          sumMoney(col("value")).as("revenue"))
        .orderBy("touch_type")
    }
  )

  // ------------------------------------------------------------------ ohlc

  private val ohlc = QueryDef(
    "q_ohlc",
    "Hourly OHLC bars (open/high/low/close + volume) per event type — " +
      "the time-series resample every metrics store runs. ONE " +
      "partitioned window per (event_type, hour) ordered by (µs, " +
      "event_id) carries open (first value over the full frame), " +
      "close (last over the full frame), high/low/volume as frame " +
      "aggregates; the rn=1 filter keeps one row per bar, so the " +
      "whole resample is a single sort+exchange keyed by a " +
      "cardinality that GROWS with the data. Values exact via " +
      "DECIMAL(18,2); the (µs, event_id) tiebreak makes open/close " +
      "engine-deterministic even for same-microsecond events.",
    Some("""WITH e AS (SELECT event_type, event_id,
           |             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           |             CAST(value AS DECIMAL(18,2)) AS v FROM events),
           |w AS (SELECT event_type, hour,
           |        row_number() OVER (PARTITION BY event_type, hour ORDER BY us, event_id) AS rn,
           |        first_value(v) OVER (PARTITION BY event_type, hour ORDER BY us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
           |        last_value(v) OVER (PARTITION BY event_type, hour ORDER BY us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close,
           |        max(v) OVER (PARTITION BY event_type, hour) AS high,
           |        min(v) OVER (PARTITION BY event_type, hour) AS low,
           |        count(*) OVER (PARTITION BY event_type, hour) AS volume
           |      FROM (SELECT event_type, us // 3600000000 AS hour, event_id, us, v FROM e) t)
           |SELECT event_type, CAST(hour AS BIGINT) AS hour,
           |       CAST(open AS DOUBLE) AS open, CAST(high AS DOUBLE) AS high,
           |       CAST(low AS DOUBLE) AS low, CAST(close AS DOUBLE) AS close,
           |       CAST(volume AS BIGINT) AS volume
           |FROM w WHERE rn = 1 ORDER BY event_type, hour""".stripMargin),
    (s, d) => {
      // positive epochs: DIV == floor division == DuckDB `//`
      val e = events(s, d).select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), money(col("value")).as("v"))
        .withColumn("hour", expr("us DIV 3600000000"))
      val part = Window.partitionBy("event_type", "hour")
      val ord = part.orderBy("us", "event_id")
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.withColumn("rn", row_number().over(ord))
        .withColumn("open", first(col("v")).over(full))
        .withColumn("close", last(col("v")).over(full))
        .withColumn("high", max(col("v")).over(part))
        .withColumn("low", min(col("v")).over(part))
        .withColumn("volume", count(lit(1)).over(part))
        .filter(col("rn") === 1)
        .select(col("event_type"), lng(col("hour")).as("hour"),
          dbl(col("open")).as("open"), dbl(col("high")).as("high"),
          dbl(col("low")).as("low"), dbl(col("close")).as("close"),
          lng(col("volume")).as("volume"))
        .orderBy("event_type", "hour")
    }
  )

  // ------------------------------------------------------------------ ewma

  private val ewma = QueryDef(
    "q_ewma",
    "Exponentially-weighted moving average of hourly event counts per " +
      "type, α=1/2, in EXACT integer arithmetic: state is millicounts " +
      "(scale 1000) and each step is ewma ← (ewma + 1000·count) DIV 2 " +
      "— floor division, so no engine can round differently. Spark " +
      "folds each type's (hour, count) series IN ORDER with the " +
      "aggregate() HOF over a sort_array'd collect_list — the series " +
      "per key is bounded (hours), the keys scale out; the oracle " +
      "replays the identical recurrence as a recursive CTE. The " +
      "per-key-bounded-series fold is the shape sessionized feature " +
      "backfills use at 100 TB.",
    Some("""WITH RECURSIVE h AS (SELECT event_type,
           |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
           |         count(*) AS cnt
           |       FROM events GROUP BY 1, 2),
           |idx AS (SELECT event_type, hour, cnt,
           |          row_number() OVER (PARTITION BY event_type ORDER BY hour) AS i,
           |          count(*) OVER (PARTITION BY event_type) AS n
           |        FROM h),
           |r(event_type, i, n, ewma_milli) AS (
           |  SELECT event_type, i, n, 1000 * cnt FROM idx WHERE i = 1
           |  UNION ALL
           |  SELECT idx.event_type, idx.i, idx.n,
           |         (r.ewma_milli + 1000 * idx.cnt) // 2
           |  FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i + 1)
           |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           |       CAST(ewma_milli AS BIGINT) AS ewma_milli
           |FROM r WHERE i = n ORDER BY event_type""".stripMargin),
    (s, d) => {
      val h = events(s, d)
        .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      h.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("hour"), col("cnt")))).as("series"))
        .select(col("event_type"),
          lng(size(col("series"))).as("n_hours"),
          lng(expr(
            """aggregate(slice(series, 2, size(series) - 1),
              |  1000L * series[0].cnt,
              |  (acc, x) -> (acc + 1000L * x.cnt) DIV 2)""".stripMargin))
            .as("ewma_milli"))
        .orderBy("event_type")
    }
  )

  val defs: Seq[QueryDef] = Seq(seqPattern, attribution, ohlc, ewma)
}
