package graft.queries

import graft.core.{CacheScope, Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event/time-series pack over `events`: tumbling windows,
  * sessionization, JSON property extraction, funnel analysis, and the
  * hw2 wide-bucket-average shape (SURVEY §2.4 A6 — computed as one
  * grouped projection, not the reference's 48 iterated outer joins).
  *
  * These are the batch twins of [[graft.streaming.StreamingOps]]: same
  * window/session semantics, so a Structured Streaming deployment
  * reuses the logic with a watermark.
  *
  * Time handling: [[graft.core.Tables]] normalizes `events.ts` to LONG
  * nanoseconds-since-epoch regardless of the parquet physical encoding
  * (nanos-as-long vs TIMESTAMP(MICROS) — both have shipped in the
  * driver testdata), so ALL time math here is exact integer DIV/%
  * arithmetic — no doubles (2^53 < 1.7e18 ns would lose precision),
  * no timestamp-type comparisons between engines. The DuckDB mirrors
  * use `epoch_ns(ts) // k` for the same exact integers (`epoch_ns` on
  * a timestamp column is encoding-independent on the oracle side).
  */
object Events extends QueryPack {

  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")

  private val HOUR_NS = 3600L * 1000000000L
  /** ts in whole microseconds (testdata is µs-granular; exact). */
  private val tsUs: Column = expr("ts DIV 1000")
  private val tsUsSql = "(epoch_ns(ts) // 1000)"

  /** q40: tumbling 1-hour windows × event_type: count + exact sum. */
  private def q40HourlyWindows(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(
        (expr(s"ts DIV $HOUR_NS") * 3600L).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumFixed(col("value"), 6).as("sum_value"))
      .orderBy(col("hour_epoch"), col("event_type"))

  private val q40Sql =
    s"""SELECT (epoch_ns(ts) // $HOUR_NS) * 3600 AS hour_epoch,
         event_type, COUNT(*) AS n_events,
         ${Exact.sumFixedSql("value", 6)} AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type"""

  /** q41: gap-based sessionization (30-min inactivity gap). Classic
    * lag→flag→sum; one shuffle keyed on user_id. At 100 TB you'd
    * range-partition by (user, time-bucket) first; the per-user math is
    * unchanged.
    */
  private def q41Sessionization(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("prev_us", lag(tsUs, 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          tsUs - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  private val q41Sql =
    s"""SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(new_sess) AS BIGINT) AS n_sessions
       FROM (SELECT user_id,
               CASE WHEN prev_us IS NULL
                      OR $tsUsSql - prev_us > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
             FROM (SELECT user_id, ts,
                     LAG($tsUsSql) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_us
                   FROM events))
       GROUP BY user_id ORDER BY user_id"""

  /** q42: JSON property extraction + grouped stats (regex-based scalar
    * extraction — identical semantics on both engines).
    */
  private def q42JsonProps(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("k",
        regexp_extract(col("props"), "[0-9]+", 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  private val q42Sql =
    """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT))
           AS BIGINT) AS sum_k,
         MIN(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS min_k,
         MAX(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS max_k
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** q43: view→click→purchase funnel: first-touch ordering per user. */
  private def q43Funnel(s: SparkSession, d: String): DataFrame = {
    def firstUs(t: String) =
      min(when(col("event_type") === t, tsUs)).as(s"t_$t")
    ev(s, d)
      .groupBy(col("user_id"))
      .agg(firstUs("view"), firstUs("click"), firstUs("purchase"))
      .withColumn("stage",
        when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click"), "view_click_purchase")
          .when(col("t_view").isNotNull && col("t_click") > col("t_view"),
            "view_click")
          .when(col("t_view").isNotNull, "view_only")
          .otherwise("no_view"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  private val q43Sql =
    s"""SELECT stage, COUNT(*) AS n_users FROM (
         SELECT CASE
             WHEN t_view IS NOT NULL AND t_click > t_view
                  AND t_purchase > t_click THEN 'view_click_purchase'
             WHEN t_view IS NOT NULL AND t_click > t_view THEN 'view_click'
             WHEN t_view IS NOT NULL THEN 'view_only'
             ELSE 'no_view' END AS stage
         FROM (SELECT user_id,
                 MIN(CASE WHEN event_type = 'view'
                     THEN $tsUsSql END) AS t_view,
                 MIN(CASE WHEN event_type = 'click'
                     THEN $tsUsSql END) AS t_click,
                 MIN(CASE WHEN event_type = 'purchase'
                     THEN $tsUsSql END) AS t_purchase
               FROM events GROUP BY user_id))
       GROUP BY stage ORDER BY stage"""

  /** q44: hw2 A6 parity — 24 hourly (UTC) activity columns per user
    * bucketed into 4 six-hour averages, in ONE grouped projection.
    */
  private def q44BucketAverages(s: SparkSession, d: String): DataFrame = {
    val hourOfDay = expr(s"(ts DIV $HOUR_NS) % 24")
    val hourly = (0 until 24).map(h =>
      count(when(hourOfDay === h, 1)).as(s"h$h"))
    val grouped = ev(s, d).groupBy(col("user_id"))
      .agg(hourly.head, hourly.tail: _*)
    val buckets = (0 until 4).map { q =>
      ((6 * q until 6 * (q + 1)).map(h => col(s"h$h")).reduce(_ + _) / 6.0)
        .as(s"q$q")
    }
    grouped.select(col("user_id") +: buckets: _*).orderBy(col("user_id"))
  }

  private val q44Sql = {
    val hourly = (0 until 24)
      .map(h =>
        s"COUNT(*) FILTER (WHERE (epoch_ns(ts) // $HOUR_NS) % 24 = $h) AS h$h")
      .mkString(", ")
    val buckets = (0 until 4)
      .map { q =>
        val s6 = (6 * q until 6 * (q + 1)).map(h => s"h$h").mkString(" + ")
        s"(($s6) / 6.0) AS q$q"
      }
      .mkString(", ")
    s"""SELECT user_id, $buckets FROM (
         SELECT user_id, $hourly FROM events GROUP BY user_id)
       ORDER BY user_id"""
  }

  /** q45: 3-event moving average of value per user (aggregate-over-frame
    * window, SURVEY §2.5 "absent" extension). The frame sum runs over
    * fixed-point integers so the average is exact on both engines.
    */
  private def q45MovingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    ev(s, d)
      .select(col("event_id"), col("user_id"),
        (sum(Exact.fixed(col("value"), 6)).over(w).cast("double") /
          1000000.0 / count(lit(1)).over(w)).as("mavg_value"))
      .orderBy(col("event_id"))
  }

  private val q45Sql =
    s"""SELECT event_id, user_id,
         CAST(SUM(${Exact.fixedSql("value", 6)}) OVER w AS DOUBLE)
           / 1000000.0 / COUNT(*) OVER w AS mavg_value
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  /** q80: distribution-position window functions — `percent_rank` +
    * `cume_dist` of each user's activity within its event type (the
    * "where does this user sit in the distribution" audit every
    * engagement pipeline runs). Ordering is (count, user_id) — unique,
    * integer-only — so the emitted ratios are exact int divisions and
    * bit-identical across engines.
    */
  private def q80RankDistributions(s: SparkSession, d: String): DataFrame = {
    val perUser = ev(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events"), col("user_id"))
    perUser
      .select(col("event_type"), col("user_id"), col("n_events"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy(col("event_type"), col("user_id"))
  }

  private val q80Sql =
    """WITH pu AS (SELECT event_type, user_id, COUNT(*) AS n_events
                   FROM events GROUP BY 1, 2)
       SELECT event_type, user_id, n_events,
         percent_rank() OVER
           (PARTITION BY event_type ORDER BY n_events, user_id) AS pr,
         cume_dist() OVER
           (PARTITION BY event_type ORDER BY n_events, user_id) AS cd,
         CAST(dense_rank() OVER
           (PARTITION BY event_type ORDER BY n_events, user_id) AS BIGINT)
           AS drnk
       FROM pu ORDER BY event_type, user_id"""

  /** q46: lag-based inter-event gap statistics per user. */
  private def q46GapStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("gap_us", tsUs - lag(tsUs, 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_us")).cast("double") / count(lit(1)))
          .as("avg_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  private val q46Sql =
    s"""SELECT user_id, COUNT(*) AS n_gaps,
         CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us,
         MAX(gap_us) AS max_gap_us
       FROM (SELECT user_id,
               $tsUsSql - LAG($tsUsSql) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS gap_us
             FROM events)
       WHERE gap_us IS NOT NULL
       GROUP BY user_id ORDER BY user_id"""

  /** q47: ntile quartiles of value per event type (deterministic: the
    * window order is total via the event_id tie-break).
    */
  private def q47ValueQuartiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(Exact.fixed(col("value"), 6), col("event_id"))
    ev(s, d)
      .select(col("event_type"), ntile(4).over(w).cast("long").as("quartile"),
        Exact.fixed(col("value"), 6).as("v"))
      .groupBy(col("event_type"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        (max(col("v")).cast("double") / 1000000.0).as("max_value"))
      .orderBy(col("event_type"), col("quartile"))
  }

  private val q47Sql =
    s"""SELECT event_type, quartile, COUNT(*) AS n,
         CAST(MAX(v) AS DOUBLE) / 1000000.0 AS max_value
       FROM (SELECT event_type,
               CAST(NTILE(4) OVER (PARTITION BY event_type
                 ORDER BY ${Exact.fixedSql("value", 6)}, event_id)
                 AS BIGINT) AS quartile,
               ${Exact.fixedSql("value", 6)} AS v
             FROM events)
       GROUP BY 1, 2 ORDER BY event_type, quartile"""

  /** q48: HLL sketch vs exact distinct-count per event type — the
    * 100 TB-scale cardinality operator (approx_count_distinct is a
    * mergeable HyperLogLog++). Gate edge: the sketch registers are
    * engine-specific, but the ACCURACY CONTRACT is not — the estimate
    * is deterministic for fixed data (hash + order-independent merge),
    * so `|approx−exact|·10 ≤ exact` (≤10% = 5× the configured 2% rsd)
    * is a stable integer verdict the oracle asserts as the constant 1.
    * A sketch regression (wrong merge, wrong precision mapping) flips
    * the verdict and hash-mismatches the row.
    */
  private def q48HllUsers(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        when(abs(col("approx_users") - col("exact_users")) * lit(10L) <=
          col("exact_users"), lit(1L)).otherwise(lit(0L))
          .as("hll_within_tol"))
      .orderBy(col("event_type"))

  private val q48Sql =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
              AS exact_users,
              CAST(1 AS BIGINT) AS hll_within_tol
       FROM events GROUP BY 1 ORDER BY 1"""

  /** q62: as-of join, Spark-first — for every purchase, the most recent
    * *prior* view by the same user. Composed as a running `max(when)`
    * over the per-user event-time order (one shuffle on user_id, no
    * join at all) instead of a range self-join — the classic as-of
    * pattern that scales linearly.
    */
  private def q62AsofViewPurchase(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, d)
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", tsUs)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsUs.as("purchase_us"),
        col("last_view_us"),
        (tsUs - col("last_view_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  private val q62Sql =
    s"""SELECT event_id, user_id, $tsUsSql AS purchase_us, last_view_us,
         $tsUsSql - last_view_us AS gap_us
       FROM (SELECT event_id, user_id, ts, event_type,
               MAX(CASE WHEN event_type = 'view' THEN $tsUsSql END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_view_us
             FROM events)
       WHERE event_type = 'purchase'
       ORDER BY event_id"""

  /** q64: interval (range) join — for every purchase, how many views
    * by the same user landed in the preceding 30 minutes. The naive
    * `BETWEEN` condition is a nested loop; [[graft.ops.RangeOps
    * .intervalJoin]] bins time at the interval width so the match is a
    * (user, bin) equi-join with ≤2 replicas per interval — linear,
    * AQE-splittable, and it passes the cartesian lint that rejects the
    * naive form. The DuckDB mirror runs the plain theta join (tiny
    * data), so the binned rewrite is hash-checked to be lossless.
    */
  private def q64IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val HALF_HOUR_US = 1800L * 1000000L
    // cached: feeds both the interval join and the zero-fill left join
    val purchases = ev(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        tsUs.as("hi"))
      .withColumn("lo", col("hi") - HALF_HOUR_US)
      .transform(CacheScope.cache)
    val views = ev(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), tsUs.as("v_us"))
    val matched = graft.ops.RangeOps
      .intervalJoin(purchases, views, Seq("user_id"),
        lo = "lo", hi = "hi", p = "v_us", binWidth = HALF_HOUR_US)
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_views"))
    purchases.select(col("p_id"))
      .join(matched, Seq("p_id"), "left")
      .select(col("p_id"), coalesce(col("n_views"), lit(0L)).as("n_views"))
      .orderBy(col("p_id"))
  }

  private val q64Sql =
    s"""SELECT p.p_id, COUNT(v.user_id) AS n_views
       FROM (SELECT user_id, event_id AS p_id, $tsUsSql AS p_us
             FROM events WHERE event_type = 'purchase') p
       LEFT JOIN (SELECT user_id, $tsUsSql AS v_us
                  FROM events WHERE event_type = 'view') v
         ON v.user_id = p.user_id
            AND v.v_us >= p.p_us - 1800 * 1000000
            AND v.v_us <= p.p_us
       GROUP BY p.p_id ORDER BY p.p_id"""

  /** q166: U-shaped (position-based) multi-touch attribution — each
    * purchase's value splits across the user's view/click touches in
    * the preceding 7 days: 40% to the first touch, 40% to the last,
    * the middle 20% spread evenly (solo touch takes all; a pair
    * splits 50/50). The touch match rides the SAME binned interval
    * join as q64 (user+bin equi-keys, no nested loop); per-purchase
    * position weights come from one window over the bounded touch set.
    * Credits are rounded to fixed 6dp BEFORE summing, so the
    * aggregation is order-independent exact integer math — the
    * attribution report is bit-stable at any parallelism.
    */
  private def q166Attribution(s: SparkSession, d: String): DataFrame = {
    val WEEK_US = 7L * 86400L * 1000000L
    val purchases = ev(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("value"), tsUs.as("p_us"))
      .withColumn("lo", col("p_us") - WEEK_US)
    val touches = ev(s, d)
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_id").as("t_id"), col("user_id"),
        col("event_type").as("touch_type"), tsUs.as("t_us"))
    val wN = Window.partitionBy(col("p_id"))
    val wOrd = Window.partitionBy(col("p_id"))
      .orderBy(col("t_us"), col("t_id"))
    graft.ops.RangeOps
      .intervalJoin(purchases, touches, Seq("user_id"),
        lo = "lo", hi = "p_us", p = "t_us", binWidth = WEEK_US)
      .filter(col("t_us") < col("p_us")) // strictly before the purchase
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("w",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - lit(2L))))
      .withColumn("credit_f",
        round(col("value") * col("w") * 1e6).cast("long"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        (sum(col("credit_f")).cast("double") / 1e6).as("credit"))
      .orderBy(col("touch_type"))
  }

  private val q166Sql =
    s"""WITH p AS (SELECT event_id AS p_id, user_id, value,
                $tsUsSql AS p_us
         FROM events WHERE event_type = 'purchase'),
       t AS (SELECT event_id AS t_id, user_id,
                event_type AS touch_type, $tsUsSql AS t_us
         FROM events WHERE event_type IN ('view', 'click')),
       m AS (SELECT p.p_id, p.value, t.touch_type, t.t_us, t.t_id
         FROM p JOIN t ON t.user_id = p.user_id
           AND t.t_us >= p.p_us - ${7L * 86400L * 1000000L}
           AND t.t_us < p.p_us),
       a AS (SELECT *,
                COUNT(*) OVER (PARTITION BY p_id) AS n,
                ROW_NUMBER() OVER (PARTITION BY p_id
                  ORDER BY t_us, t_id) AS rn
         FROM m),
       c AS (SELECT touch_type, p_id,
                CAST(ROUND(value * (CASE
                    WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN rn = 1 OR rn = n THEN 0.4
                    ELSE 0.2 / (n - 2) END) * 1000000) AS BIGINT)
                  AS credit_f
         FROM a)
       SELECT touch_type, COUNT(*) AS n_touches,
              COUNT(DISTINCT p_id) AS n_purchases,
              CAST(SUM(credit_f) AS DOUBLE) / 1000000 AS credit
       FROM c GROUP BY touch_type ORDER BY touch_type"""

  /** q168: nested collect aggregation — per-user event-type histogram
    * materialized as a SORTED array of (t, n) structs: the "profile
    * column" shape feature stores and doc metadata use (one row per
    * entity, nested stats inside). Two grouped aggregations (uniform
    * keys), then `sort_array` makes the nested order deterministic so
    * the struct array hash-compares across engines. At scale this is
    * the standard pre-aggregated profile build: no collect to the
    * driver, bounded per-user array (≤ |event types|).
    */
  private def q168UserTypeHistogram(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("event_type").as("t"), col("n")))).as("hist"))
      // gate edge: nested arrays don't hash-compare across engines —
      // serialize the (already sorted) profile canonically; the plan
      // above is the real nested collect aggregation
      .select(col("user_id"),
        expr("array_join(transform(hist," +
          " x -> concat(x.t, ':', CAST(x.n AS STRING))), ',')")
          .as("hist"))
      .orderBy(col("user_id"))

  private val q168Sql =
    """SELECT user_id,
              array_to_string(list_transform(
                list_sort(list({'t': event_type, 'n': n})),
                x -> x.t || ':' || CAST(x.n AS VARCHAR)), ',') AS hist
       FROM (SELECT user_id, event_type, COUNT(*) AS n
             FROM events GROUP BY user_id, event_type)
       GROUP BY user_id ORDER BY user_id"""

  /** q170: MAP-typed profile column (SURVEY §2.8 noted map functions
    * absent in the reference — covered here as an extension): the
    * q168 histogram lifted into a real `MapType` via
    * `map_from_entries`, probed with `element_at` to derive
    * engagement ratios. The map stays intra-plan (bounded per-key,
    * never driver-side); the gate output is the scalar probes, since
    * map columns don't hash-compare across engines. Ratio rounds the
    * deterministic IEEE quotient to 6dp so both engines emit the
    * same double.
    */
  private def q170MapProfile(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(
        struct(col("event_type"), col("n")))).as("m"))
      .select(col("user_id"),
        coalesce(element_at(col("m"), "view"), lit(0L)).as("n_view"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("m"), "purchase"), lit(0L))
          .as("n_purchase"))
      .withColumn("click_view_ratio",
        when(col("n_view") > 0,
          round(col("n_click").cast("double") / col("n_view"), 6)))
      .orderBy(col("user_id"))

  private val q170Sql =
    """SELECT user_id,
              COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
              COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
              COUNT(*) FILTER (WHERE event_type = 'purchase')
                AS n_purchase,
              CASE WHEN COUNT(*) FILTER (WHERE event_type = 'view') > 0
                   THEN ROUND(
                     CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                       AS DOUBLE)
                     / COUNT(*) FILTER (WHERE event_type = 'view'), 6)
              END AS click_view_ratio
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** q177: incremental distinct counting — the q117
    * partial-aggregate-merge pattern for DISTINCTs, which plain
    * counters can't do: per-(day, type) Datasketches HLL partials,
    * merged with `hll_union_agg` into per-type totals. At 100 TB the
    * daily partials are WHAT YOU STORE — any window's distinct-user
    * count is then a union over tiny sketches, never a recount of
    * raw events (exact countDistinct re-shuffles the world every
    * question). Gate edge (the q48 pattern): sketch registers aren't
    * oracle-mirrorable, but the union-estimate is deterministic for
    * fixed data, so the ≤10% integer verdict hash-checks the whole
    * partial→union→estimate chain; the merge identity itself stays
    * spec-pinned (SketchMergeSpec: union of partials == direct
    * sketch).
    */
  private def q177IncrementalDistinct(
      s: SparkSession, d: String): DataFrame = {
    val DAY_NS = 86400L * 1000000000L
    val daily = ev(s, d)
      .groupBy(expr(s"ts DIV $DAY_NS").as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_users"))
    val exact = ev(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        when(abs(col("approx_users") - col("exact_users")) * lit(10L) <=
          col("exact_users"), lit(1L)).otherwise(lit(0L))
          .as("union_within_tol"))
      .orderBy(col("event_type"))
  }

  private val q177Sql =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
              AS exact_users,
              CAST(1 AS BIGINT) AS union_within_tol
       FROM events GROUP BY 1 ORDER BY 1"""

  /** q175: strict-sequence funnel — view →(≤1h)→ click →(≤1h)→
    * purchase, each hop matched to the LATEST qualifying predecessor
    * (a two-hop chained as-of). Unlike q43's loose first-touch
    * ordering this enforces per-hop time bounds, the
    * MATCH_RECOGNIZE-style pattern. Each hop is the q64 binned
    * interval join (user+bin equi-keys) + a per-event top-1 window
    * (WindowGroupLimit) — two bounded shuffles per hop, no nested
    * loop, no per-user state blowup. One summary row: purchases,
    * click-matched, full chains, and the exact mean hop latencies
    * over matched pairs (fixed-point µs, rounded at the edge).
    */
  private def q175StrictFunnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HOUR_US = 3600L * 1000000L
    def typed(t: String, idAs: String, tsAs: String) =
      ev(s, d).filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(idAs), tsUs.as(tsAs))
    // hop 2: latest click within the hour before each purchase
    val purchases = typed("purchase", "p_id", "p_us")
      .withColumn("p_lo", col("p_us") - HOUR_US)
    val clicks = typed("click", "c_id", "c_us")
    val pc = graft.ops.RangeOps
      .intervalJoin(purchases, clicks, Seq("user_id"),
        lo = "p_lo", hi = "p_us", p = "c_us", binWidth = HOUR_US)
      .filter(col("c_us") < col("p_us"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("p_id"))
        .orderBy(col("c_us").desc, col("c_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p_id"), col("p_us"),
        col("c_id"), col("c_us"))
    // hop 1: latest view within the hour before that click
    val views = typed("view", "v_id", "v_us")
    val pcv = graft.ops.RangeOps
      .intervalJoin(pc.withColumn("c_lo", col("c_us") - HOUR_US),
        views, Seq("user_id"),
        lo = "c_lo", hi = "c_us", p = "v_us", binWidth = HOUR_US)
      .filter(col("v_us") < col("c_us"))
      .withColumn("rn2", row_number().over(Window.partitionBy(col("p_id"))
        .orderBy(col("v_us").desc, col("v_id").desc)))
      .filter(col("rn2") === 1)
      .select(col("p_id"), (col("p_us") - col("c_us")).as("cp_us"),
        (col("c_us") - col("v_us")).as("vc_us"))
    val nPurchases = purchases.select(col("p_id"))
    nPurchases
      .join(pc.select(col("p_id"), (col("p_us") - col("c_us"))
        .as("cp_all_us")), Seq("p_id"), "left")
      .join(pcv, Seq("p_id"), "left")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("cp_all_us")).as("n_with_click"),
        count(col("cp_us")).as("n_full_chain"),
        (sum(col("cp_us")).cast("double") /
          count(col("cp_us")) / 1e6).as("mean_click_to_buy_sec"),
        (sum(col("vc_us")).cast("double") /
          count(col("vc_us")) / 1e6).as("mean_view_to_click_sec"))
  }

  private val q175Sql =
    s"""WITH p AS (SELECT user_id, event_id AS p_id, $tsUsSql AS p_us
           FROM events WHERE event_type = 'purchase'),
       c AS (SELECT user_id, event_id AS c_id, $tsUsSql AS c_us
           FROM events WHERE event_type = 'click'),
       v AS (SELECT user_id, event_id AS v_id, $tsUsSql AS v_us
           FROM events WHERE event_type = 'view'),
       pc AS (SELECT * FROM (
           SELECT p.user_id, p.p_id, p.p_us, c.c_id, c.c_us,
                  ROW_NUMBER() OVER (PARTITION BY p.p_id
                    ORDER BY c.c_us DESC, c.c_id DESC) AS rn
           FROM p JOIN c ON c.user_id = p.user_id
             AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us)
         WHERE rn = 1),
       pcv AS (SELECT * FROM (
           SELECT pc.p_id, pc.p_us - pc.c_us AS cp_us,
                  pc.c_us - v.v_us AS vc_us,
                  ROW_NUMBER() OVER (PARTITION BY pc.p_id
                    ORDER BY v.v_us DESC, v.v_id DESC) AS rn2
           FROM pc JOIN v ON v.user_id = pc.user_id
             AND v.v_us >= pc.c_us - 3600000000 AND v.v_us < pc.c_us)
         WHERE rn2 = 1)
       SELECT COUNT(*) AS n_purchases,
              COUNT(pc.c_id) AS n_with_click,
              COUNT(pcv.cp_us) AS n_full_chain,
              CAST(SUM(pcv.cp_us) AS DOUBLE) / COUNT(pcv.cp_us) / 1000000
                AS mean_click_to_buy_sec,
              CAST(SUM(pcv.vc_us) AS DOUBLE) / COUNT(pcv.vc_us) / 1000000
                AS mean_view_to_click_sec
       FROM p LEFT JOIN pc ON pc.p_id = p.p_id
       LEFT JOIN pcv ON pcv.p_id = p.p_id"""

  /** q171: conversion-path mining — each user's first 20 events in
    * time order collapse to a `a>b>c` journey string, then the top-10
    * most common journeys. The ordered sequence is
    * `sort_array(collect_list(struct(ts, id, type)))` per user (the
    * event_id tie-break makes the order total — never rely on
    * collect_list's arrival order, which is partition-racy), sliced
    * to 20 hops so the path string stays bounded at any scale. One
    * user-keyed aggregate + one path-keyed count; the final top-10
    * plans as TakeOrderedAndProject.
    */
  private def q171TopPaths(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(
        slice(
          expr("transform(sort_array(collect_list(" +
            "struct(ts DIV 1000 AS u, event_id AS e, event_type AS t)))," +
            " x -> x.t)"),
          1, 20),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)

  private val q171Sql =
    s"""WITH per_user AS (
         SELECT user_id,
                array_to_string(list_transform(
                  list_sort(list({'u': $tsUsSql, 'e': event_id,
                    't': event_type}))[1:20],
                  x -> x.t), '>') AS path
         FROM events GROUP BY user_id)
       SELECT path, COUNT(*) AS n_users
       FROM per_user GROUP BY path
       ORDER BY n_users DESC, path LIMIT 10"""

  /** q117: algebraic partial-aggregate MERGE — the incremental-
    * materialized-view pattern: daily partials (count / exact
    * fixed-point sum / min / max per event_type × day) merged into
    * per-type totals WITHOUT touching rows again. Every statistic is
    * algebraic (sum-of-sums, min-of-mins, max-of-maxs; avg derived at
    * the end from merged sum and count), and the sums are e6-scaled
    * integers, so the merge is bit-identical to computing directly
    * over the raw rows — which is exactly what the oracle does,
    * making the losslessness a hash-checked property, not a comment.
    * At 100 TB this is how nightly stats stay O(new partition):
    * yesterday's partials are never recomputed, just merged.
    */
  private def q117PartialMerge(s: SparkSession, d: String): DataFrame = {
    val DAY_NS = 86400L * 1000000000L
    val daily = ev(s, d)
      .groupBy(col("event_type"), expr(s"ts DIV $DAY_NS").as("day_idx"))
      .agg(count(lit(1)).as("n_d"),
        // scaled-long sum (not Exact.sumFixed, which divides back to
        // double) — the partials must stay integers or the merge's
        // re-summation would reintroduce FP ordering drift
        sum(Exact.fixed(col("value"), 6)).as("sum_d"),
        min(Exact.fixed(col("value"), 6)).as("min_d"),
        max(Exact.fixed(col("value"), 6)).as("max_d"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_d")).as("n_events"),
        sum(col("sum_d")).as("sum_e6"),
        min(col("min_d")).as("min_e6"),
        max(col("max_d")).as("max_e6"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        col("sum_e6"), col("min_e6"), col("max_e6"),
        expr("sum_e6 div n_events").as("avg_e6"))
      .orderBy(col("event_type"))
  }

  private val q117Sql = {
    val dayNs = 86400L * 1000000000L
    s"""WITH daily AS (SELECT event_type,
           epoch_ns(ts) // $dayNs AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n_d,
           CAST(SUM(${Exact.fixedSql("value", 6)}) AS BIGINT) AS sum_d,
           MIN(${Exact.fixedSql("value", 6)}) AS min_d,
           MAX(${Exact.fixedSql("value", 6)}) AS max_d
         FROM events GROUP BY 1, 2)
       SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(n_d) AS BIGINT) AS n_events,
         CAST(SUM(sum_d) AS BIGINT) AS sum_e6,
         MIN(min_d) AS min_e6,
         MAX(max_d) AS max_e6,
         CAST(SUM(sum_d) AS BIGINT) // CAST(SUM(n_d) AS BIGINT) AS avg_e6
       FROM daily GROUP BY event_type ORDER BY event_type"""
  }

  /** q130: cohort retention — users bucketed by first-seen week, then
    * the classic (cohort week × weeks-since) distinct-user triangle that
    * answers "how many of week-w's new users were still active k weeks
    * later". Week ids are exact integer `ts DIV WEEK_NS` (alignment to
    * calendar weeks is irrelevant; consistency is everything). Two
    * shuffles: per-user min (map-side combined) broadcast back onto the
    * fact — the cohort table is |users|, small relative to events, and
    * at 100 TB it's the same broadcast-or-shuffle decision as any
    * user-dimension join — then one grouped distinct count.
    */
  private def q130CohortRetention(s: SparkSession, d: String): DataFrame = {
    val weekNs = 7L * 24 * HOUR_NS
    val weekly = ev(s, d)
      .select(col("user_id"), expr(s"ts DIV $weekNs").as("week"))
    val cohort = weekly.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weekly
      .join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q130Sql = {
    val weekNs = 7L * 24 * 3600L * 1000000000L
    s"""WITH weekly AS (SELECT user_id, epoch_ns(ts) // $weekNs AS week
            FROM events),
       cohort AS (SELECT user_id, min(week) AS cohort_week
                  FROM weekly GROUP BY user_id)
       SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
              CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
       FROM weekly w JOIN cohort c USING (user_id)
       GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""
  }

  /** q148: first-order Markov transition matrix over event types — the
    * per-user lag pairs (same window key as q41's sessionization, one
    * user-keyed shuffle over the fact), then transition counts and
    * row-normalized probabilities. The matrix itself is |types|² rows,
    * so the normalizing window runs over a trivially small relation; at
    * 100 TB the only heavy stage is the per-user window, which
    * range-partitions cleanly on (user, time).
    */
  /** (prev_type, next_type) pair rows → the ordered Markov matrix
    * with row-normalized probabilities. ONE copy shared by q148 (lag
    * pairs) and q232 (streamed edges) so the normalization and
    * ordering can never drift between the batch query and its
    * streaming parity gate.
    */
  private def markovMatrix(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type")))
          .cast("double"))
      .orderBy(col("prev_type"), col("next_type"))

  private def q148MarkovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    markovMatrix(ev(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type")))
  }

  private val q148Sql =
    """WITH seq AS (SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
           FROM events)
       SELECT prev_type, event_type AS next_type,
              COUNT(*) AS n,
              CAST(COUNT(*) AS DOUBLE) /
                CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
                AS p
       FROM seq WHERE prev_type IS NOT NULL
       GROUP BY prev_type, event_type
       ORDER BY prev_type, next_type"""

  /** q149: gap-filled daily resample — per-user daily counts with
    * explicit zero rows for missing days (`sequence` explode over each
    * user's [min_day, max_day] span, left join back onto the observed
    * days). The fan-out is bounded by the calendar span, not the data
    * volume; the daily relation (users × active days) is cached and
    * materialized before feeding both the span aggregate and the join
    * probe (design rule: a relation read from two concurrent stages
    * must be pinned or both recompute it).
    */
  private def q149GapFillDaily(s: SparkSession, d: String): DataFrame = {
    val dayNs = 24L * HOUR_NS
    val daily = ev(s, d)
      .groupBy(col("user_id"), expr(s"ts DIV $dayNs").as("day"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumFixed(col("value"), 6).as("sum_value"))
      .transform(CacheScope.pin)
    daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("user_id"), col("day"))
  }

  private val q149Sql = {
    val dayNs = 24L * 3600L * 1000000000L
    s"""WITH daily AS (SELECT user_id, epoch_ns(ts) // $dayNs AS day,
             COUNT(*) AS n_events,
             ${Exact.sumFixedSql("value", 6)} AS sum_value
           FROM events GROUP BY 1, 2),
       spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
                 FROM daily GROUP BY user_id),
       days AS (SELECT user_id, UNNEST(generate_series(d0, d1)) AS day
                FROM spans)
       SELECT days.user_id, days.day,
              COALESCE(n_events, 0) AS n_events,
              COALESCE(sum_value, 0.0) AS sum_value
       FROM days LEFT JOIN daily USING (user_id, day)
       ORDER BY user_id, day"""
  }

  /** q150: z-score anomaly flags — per-event-type mean/σ from
    * [[Exact]] integer moments (order-independent, so the broadcast
    * stats and therefore the flagged set are bit-identical across
    * partitionings and engines), broadcast back onto the fact (|types|
    * rows), flag events beyond 2.5σ. One map-side-combined aggregate +
    * one broadcast join — no per-row window, nothing quadratic.
    */
  private def q150ZscoreAnomalies(s: SparkSession, d: String): DataFrame = {
    val stats = ev(s, d).groupBy(col("event_type"))
      .agg(Exact.avgFixed(col("value"), 2).as("mean_value"),
        Exact.stddevPopFixed(col("value"), 2).as("std_value"))
    ev(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .where(abs(col("value") - col("mean_value")) >
        lit(2.5) * col("std_value"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean_value")) / col("std_value")).as("z"))
      .orderBy(col("event_id"))
  }

  private val q150Sql =
    s"""WITH stats AS (SELECT event_type,
             ${Exact.avgFixedSql("value", 2)} AS mean_value,
             ${Exact.stddevPopFixedSql("value", 2)} AS std_value
           FROM events GROUP BY event_type)
       SELECT e.event_id, e.event_type, e.value,
              (e.value - s.mean_value) / s.std_value AS z
       FROM events e JOIN stats s USING (event_type)
       WHERE ABS(e.value - s.mean_value) > 2.5 * s.std_value
       ORDER BY event_id"""

  /** q194: robust (MAD) anomaly flags — q150's z-score twin for
    * heavy-tailed metrics, where outliers inflate the mean/σ they are
    * judged against and hide themselves. Median and
    * median-absolute-deviation per event type via the q72 exact
    * row_number median (values in e2 fixed point so every comparison
    * is integer), then flag events with |x−med| > 3.5·MAD and score
    * them in e3. The two medians are per-type windows — exact, fine
    * to millions of rows per type; at 100 TB the same query swaps in
    * the mergeable quantile partials (q186) for the med/MAD inputs.
    * Top-50 by score via TakeOrderedAndProject.
    */
  private def q194MadAnomalies(s: SparkSession, d: String): DataFrame = {
    val base = ev(s, d).select(col("event_id"), col("event_type"),
      Exact.fixed(col("value"), 2).as("v2"))
    val wAll = Window.partitionBy(col("event_type"))
    val wVal = wAll.orderBy(col("v2"), col("event_id"))
    val med = base.withColumn("rn", row_number().over(wVal))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("v2").as("med2"))
    val dev = base.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("v2") - col("med2")))
    val wDev = wAll.orderBy(col("ad"), col("event_id"))
    val mad = dev.withColumn("rn", row_number().over(wDev))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("ad").as("mad2"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad2") > 0L && col("ad") * lit(1000L) >
        col("mad2") * lit(3500L))
      .select(col("event_id"), col("event_type"), col("v2"), col("med2"),
        col("mad2"), expr("(ad * 1000) div mad2").as("score_e3"))
      .orderBy(col("score_e3").desc, col("event_id"))
      .limit(50)
  }

  private val q194Sql =
    s"""WITH base AS (SELECT event_id, event_type,
             ${Exact.fixedSql("value", 2)} AS v2 FROM events),
       med AS (SELECT event_type, v2 AS med2 FROM (
           SELECT event_type, v2,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY v2, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n FROM base)
         WHERE rn = (n + 1) // 2),
       dev AS (SELECT b.event_id, b.event_type, b.v2, m.med2,
                 ABS(b.v2 - m.med2) AS ad
               FROM base b JOIN med m USING (event_type)),
       mad AS (SELECT event_type, ad AS mad2 FROM (
           SELECT event_type, ad,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY ad, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev)
         WHERE rn = (n + 1) // 2)
       SELECT d.event_id, d.event_type, d.v2, d.med2, mad.mad2,
              (d.ad * 1000) // mad.mad2 AS score_e3
       FROM dev d JOIN mad USING (event_type)
       WHERE mad.mad2 > 0 AND d.ad * 1000 > mad.mad2 * 3500
       ORDER BY score_e3 DESC, event_id LIMIT 50"""

  /** q198: day-of-week seasonality index — per event type, each
    * weekday's event count and value-weighted index vs the type's own
    * all-week average (1000 = flat). The capacity-planning profile
    * behind batch scheduling ("ingest dips 40% on Sundays — run the
    * compaction then"). Weekday is pure integer epoch-day arithmetic
    * ((days+4)%7, 0=Sunday) — no calendar/timezone functions whose
    * engine defaults could disagree; the index is a pinned-order
    * integer division chain on e2 fixed-point sums. Two map-side
    * combined aggregates, ≤|types|·7 rows joined on a broadcast.
    */
  private def q198DowSeasonality(s: SparkSession, d: String): DataFrame = {
    val DAY_NS = 86400L * 1000000000L
    val base = ev(s, d).select(col("event_type"),
      expr(s"(ts DIV $DAY_NS + 4) % 7").as("dow"),
      Exact.fixed(col("value"), 2).as("v2"))
    val per = base.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("v2")).as("s2"))
    val tot = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_all"), sum(col("v2")).as("s2_all"))
    per.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        expr("(n * 7000) div n_all").as("count_idx_e3"),
        expr("""CASE WHEN s2_all = 0 THEN 0
             ELSE ((s2 * 1000 div n) * n_all) div s2_all END""")
          .as("value_idx_e3"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val q198Sql = {
    val dayNs = 86400L * 1000000000L
    s"""WITH base AS (SELECT event_type,
             (epoch_ns(ts) // $dayNs + 4) % 7 AS dow,
             ${Exact.fixedSql("value", 2)} AS v2 FROM events),
       per AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v2) AS BIGINT) AS s2
               FROM base GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_all,
                 CAST(SUM(v2) AS BIGINT) AS s2_all
               FROM base GROUP BY 1)
       SELECT event_type, dow, n,
         (n * 7000) // n_all AS count_idx_e3,
         CASE WHEN s2_all = 0 THEN 0
              ELSE ((s2 * 1000 // n) * n_all) // s2_all END
           AS value_idx_e3
       FROM per JOIN tot USING (event_type)
       ORDER BY event_type, dow"""
  }

  /** q199: forward-fill (last-observation-carried-forward) — the
    * imputation every feature pipeline needs when a reading exists
    * only on some rows: here the purchase amount is the "sensor", and
    * every event carries the user's most recent purchase value (−1
    * before the first). `last(..., ignoreNulls)` over an unbounded
    * running frame is Spark's native LOCF — one shuffle on user_id,
    * no self-join, no driver loop; values are COPIED, never
    * recomputed, so doubles stay bit-exact. The running frame is
    * sequential per user — fine at any corpus width since users
    * partition it.
    */
  private def q199ForwardFill(s: SparkSession, d: String): DataFrame = {
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        when(col("event_type") === "purchase", col("value")).as("reading"))
      .withColumn("filled_value",
        coalesce(last(col("reading"), ignoreNulls = true).over(wRun),
          lit(-1.0)))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("filled_value"))
      .orderBy(col("event_id"))
  }

  private val q199Sql =
    """SELECT event_id, user_id, event_type,
         COALESCE(LAST_VALUE(CASE WHEN event_type = 'purchase'
             THEN value END IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0)
           AS filled_value
       FROM events ORDER BY event_id"""

  /** q204: STREAMING↔batch window parity — the q40 hourly windows
    * computed by an actual Structured Streaming execution (file-stream
    * source → stateful windowed aggregation → memory sink), gated
    * against the same batch SQL the oracle runs. The events table is
    * staged as 3 ts-range files and replayed one file per micro-batch
    * (`maxFilesPerTrigger=1`, [[graft.streaming.StreamingOps
    * .readEventsStream]]), so window state genuinely accumulates
    * ACROSS micro-batches in the state store; complete output mode
    * emits the final window table, which must equal the batch answer
    * row-for-row regardless of how the replay was split. Sums are e6
    * fixed-point LONGs ([[Exact.fixed]]) — associative, so stream
    * accumulation order can't drift from the oracle's single pass.
    * This is the deploy-the-batch-logic-as-a-stream contract the
    * StreamingOps suite pins with MemoryStream late/replay cases,
    * surfaced as ONE driver-checkable row set.
    */
  /** Shared parity-gate scaffold: stage the events table as 3
    * ts-range files, replay one file per micro-batch through the
    * caller's streaming transform into a memory sink, and return the
    * materialized sink table. Complete-mode callers (q204/q224) are
    * order-insensitive by construction — complete mode re-emits the
    * full state; append-mode callers (q231/q232) additionally rely on
    * the REPLAY ORDER being the event-time order, so the staged part
    * files (range partition i ⇒ part-0000i by name) get strictly
    * increasing modification times stamped before the stream starts —
    * the file source picks files oldest-first, and a simultaneous
    * bulk write would otherwise leave the tie-break to listing order.
    * The staging directory is deleted once the stream has consumed
    * it; the memory-sink rows are already materialized on the driver
    * so the returned frame doesn't depend on the files.
    */
  /** The staged 3-file ts-range replay tree for the events table,
    * built ONCE per corpus snapshot through the [[graft.ops
    * .ArtifactStore]] and SHARED by every streaming parity gate: 13
    * gates previously re-ran the range-partition write and the mtime
    * stamping per invocation — pure harness cost the round-8 driver
    * bench measured as +23-35% drift on the gate family. The tree is
    * write-once (the stream source only reads it); the part files
    * carry strictly increasing mtimes stamped at build time, which
    * the reuse preserves. Gates that MOVE files through a staging dir
    * (the q239/q254 restart scaffolds) COPY from this tree into their
    * run-private dir instead of re-deriving it.
    *
    * Range-partitioning is on the µs-TRUNCATED event time (the
    * stream's TimestampType resolution), not raw ts: two same-user
    * events sharing an epoch-µs but differing in ns must never
    * straddle a file boundary, or the replay's file order could
    * contradict the mirror's (epoch_us, event_id) tie-break (q232's
    * edge flip).
    *
    * Returns (treePath, sorted part paths, fs).
    */
  private def stagedReplayTree(s: SparkSession, d: String)
      : (String, Seq[org.apache.hadoop.fs.Path],
        org.apache.hadoop.fs.FileSystem) = {
    import graft.streaming.StreamingOps
    val raw = s.read.parquet(s"$d/events.parquet")
    val usKey = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    def parts(fs: org.apache.hadoop.fs.FileSystem, p: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName) // range partition i ⇒ part-0000i
        .map(_.getPath).toSeq
    val tree = graft.ops.ArtifactStore.pathOnce(raw,
      graft.ops.ArtifactStore.key(raw, "streamstage", "r3")) { p =>
      raw.repartitionByRange(3, usKey).write.mode("overwrite").parquet(p)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sessionState.newHadoopConf())
      StreamingOps.stampReplayOrder(fs, parts(fs, p))
    }
    val fs = new org.apache.hadoop.fs.Path(tree)
      .getFileSystem(s.sessionState.newHadoopConf())
    (tree, parts(fs, tree), fs)
  }

  /** Shuffle partitions of a parity gate's replay. */
  private val STREAM_REPLAY_PARTS = 4

  private def streamReplayParity(s: SparkSession, d: String, tag: String,
      mode: String = "complete", stateStoreProvider: Option[String] = None)(
      agg: DataFrame => DataFrame): DataFrame = {
    import graft.streaming.StreamingOps
    val run = s"$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    // the staged tree is the shared write-once artifact — the gate
    // only READS it, so there is nothing to build or clean up here
    val (staging, _, _) = stagedReplayTree(s, d)
    val sink = s"${tag}_sink_$run".replace('-', '_')
    // replay at ≤4 shuffle partitions: a 3-micro-batch gate pays
    // per-partition state commits per store per batch with no
    // parallelism win on gate-sized state; result is
    // partition-count-invariant, only the harness floor changes.
    // Profiled r10: the stream-stream interval-join replay reads
    // 4.6-4.9 s at 8 partitions, 3.7 s at 4, 3.6 s at 2 — 4 keeps a
    // 2-store × 3-batch gate at 24 state commits without going
    // degenerate-serial
    def replay(): Unit =
      StreamingOps.withShufflePartitions(s, STREAM_REPLAY_PARTS) {
        val query = agg(
          StreamingOps.readEventsStream(s, staging, maxFilesPerTrigger = 1))
          .writeStream.format("memory").queryName(sink)
          .outputMode(mode).start()
        try query.processAllAvailable() finally query.stop()
      }
    stateStoreProvider match {
      case Some(p) => StreamingOps.withStateStoreProvider(s, p)(replay())
      case None => replay()
    }
    s.table(sink)
  }

  private def q204StreamWindowParity(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q204")(hourlyCounts)
      .orderBy(col("hour_epoch"), col("event_type"))

  /** q204's streaming aggregation, also run by the q239/q254 restarts:
    * per (1-hour window, event_type) event count and exact value sum.
    */
  private def hourlyCounts(stream: DataFrame): DataFrame = stream
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(Exact.fixed(col("value"), 6)).as("sum_value_e6"))
    .select(
      (unix_micros(col("window.start")) / lit(1000000L))
        .cast("long").as("hour_epoch"),
      col("event_type"), col("n_events"), col("sum_value_e6"))

  private val q204Sql =
    s"""SELECT (epoch_ns(ts) // $HOUR_NS) * 3600 AS hour_epoch,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(${Exact.fixedSql("value", 6)}) AS BIGINT) AS sum_value_e6
       FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type"""

  /** q224: STREAMING↔batch SESSION parity — the stateful seam q204's
    * tumbling window doesn't cover: `session_window` (merging,
    * data-driven window bounds) over the same 3-file replay, complete
    * mode so every session (including each user's tail session, which
    * an append-mode watermark would hold back forever on a finite
    * stream) is emitted and the DuckDB mirror is the classic
    * gaps-and-islands rewrite — new session iff the gap ≥ 30 min,
    * exactly `session_window`'s merge rule [ts, ts+gap). Session
    * starts compare as exact epoch-µs integers. At scale the
    * append+watermark form of the same operator is the deployed one
    * (StreamingOps.sessionizeStream, StreamingSpec); this gate proves
    * the session SEMANTICS against an independent engine.
    */
  private def q224StreamSessionParity(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q224") { stream =>
      stream
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"))
    }.orderBy(col("user_id"), col("session_start_us"))

  /** q240: the q224 SESSION parity gate on the ROCKSDB state store —
    * identical replay, identical merging `session_window` state,
    * identical DuckDB mirror, but the state between micro-batches
    * lives in RocksDB instead of the default on-heap HDFS-backed
    * maps. This is the provider a 100 TB deployment actually runs:
    * keyed session state over billions of users exceeds executor
    * heap, and RocksDB makes state size a native-storage problem with
    * incremental changelog checkpoints
    * ([[graft.streaming.StreamingOps.withStateStoreProvider]]).
    * Gate-green here proves the engine's stateful semantics are
    * PROVIDER-INVARIANT — swap the store, get byte-identical
    * sessions — so the heap→RocksDB migration at scale is a conf
    * change, not a correctness risk. Session merging is the
    * stressiest store pattern of the pack's stateful ops (get +
    * merge + put + range-delete per key per batch vs the windowed
    * agg's get/put).
    */
  private def q240StreamRocksdbSession(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q240",
      stateStoreProvider = Some(graft.streaming.StreamingOps
        .RocksDbProvider)) { stream =>
      stream
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"))
    }.orderBy(col("user_id"), col("session_start_us"))

  /** Gaps compared at epoch-µs resolution (like q232's mirror): the
    * streamed side sees µs-truncated timestamps (Spark TimestampType
    * ceiling), so a gap that is <30 min in ns but exactly 30 min after
    * µs truncation must split sessions in the mirror too — full-ns
    * INTERVAL arithmetic would sessionize at a resolution the stream
    * never observes.
    */
  private val q224Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       m AS (SELECT user_id, us,
           CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w >= 1800 * 1000000
                THEN 1 ELSE 0 END AS brk
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       g AS (SELECT user_id, us,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
         FROM m)
       SELECT user_id, MIN(us) AS session_start_us,
              COUNT(*) AS n_events
       FROM g GROUP BY user_id, sid
       ORDER BY user_id, session_start_us"""

  /** q231: STREAMING↔batch exact-dedup parity — the cross-batch
    * dedup-STATE seam q204/q224 don't exercise: distinct
    * (user_id, event_type) keys via streaming `dropDuplicates` over
    * the ordered 3-file replay into an append-mode memory sink. A key
    * first seen in micro-batch 1 must be suppressed when it recurs in
    * batch 3 — any state loss shows up as duplicate sink rows and a
    * row-count mismatch against DuckDB's DISTINCT. Keys only, not
    * rows: WHICH physical row survives dedup is arrival-order
    * dependent inside a micro-batch, the key SET is not. The gate
    * uses the unbounded `dropDuplicates` form (state O(|keys|), fine
    * over a finite replay); the production ingest path is the
    * watermark-bounded [[graft.streaming.StreamingOps.dedupStream]]
    * (StreamingSpec), whose horizon-dependent eviction makes its
    * emitted set not engine-mirrorable.
    */
  private def q231StreamDedupParity(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q231", mode = "append") { stream =>
      stream.select(col("user_id"), col("event_type")).dropDuplicates()
    }.orderBy(col("user_id"), col("event_type"))

  private val q231Sql =
    """SELECT DISTINCT user_id, event_type FROM events
       ORDER BY user_id, event_type"""

  /** q232: STREAMING↔batch TRANSITIONS parity — the
    * flatMapGroupsWithState seam: [[graft.streaming.StreamingOps
    * .transitionsStream]] replays the events table one ts-range file
    * per micro-batch, each user's last-event state carried ACROSS
    * batch boundaries in the state store, emitted edges collected in
    * an append-mode memory sink; the edge multiset is then aggregated
    * batch-side into exactly q148's Markov matrix and gated against
    * q148's own oracle SQL. In-order replay is guaranteed by the
    * scaffold's stamped file times, and within a micro-batch the
    * operator sorts each user's rows by (event-time µs, event_id) —
    * the same order the batch window uses — so the emitted edge
    * multiset equals the batch lag-pairs exactly. The one stateful
    * operator the q204/q224 built-in aggregations can't represent,
    * surfaced as a driver-checkable row set.
    */
  private def q232StreamTransitionsParity(
      s: SparkSession, d: String): DataFrame = {
    val edges = streamReplayParity(s, d, "q232", mode = "append") {
      stream =>
        import stream.sparkSession.implicits._
        graft.streaming.StreamingOps
          .transitionsStream(stream.as[graft.streaming.StreamEvent])
          .toDF()
    }
    markovMatrix(edges.select(col("prev_type"), col("next_type")))
  }

  /** q148's matrix at the STREAM's event-time resolution: the
    * streaming path carries ts as Spark TimestampType (µs ceiling —
    * readEventsStream truncates a nanos-encoded layout with
    * `ts DIV 1000`), so the mirror tie-breaks the per-user order on
    * (epoch-µs, event_id) rather than raw ts. Identical to q148Sql on
    * a µs-encoded events table; on a nanos layout it stays aligned
    * with what the stream can actually observe instead of diverging
    * on sub-µs orderings.
    */
  private val q232Sql =
    """WITH seq AS (SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events)
       SELECT prev_type, event_type AS next_type,
              COUNT(*) AS n,
              CAST(COUNT(*) AS DOUBLE) /
                CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
                AS p
       FROM seq WHERE prev_type IS NOT NULL
       GROUP BY prev_type, event_type
       ORDER BY prev_type, next_type"""

  /** q234: STREAMING bloom-admission parity — q115's admission fast
    * path on the streaming seam: a bloom bitmap RUNTIME-SIZED from
    * the corpus key count ([[graft.ops.BloomOps.sizeFor]]: next-pow2
    * ≥ 10 bits/key, k = 0.6·m/n — ~67k sf0.1 keys → 2²⁰ bits / k=9,
    * fill ≈ 0.44, FPR < 0.1%; a hand-picked constant m would saturate
    * at the next SF up and silently degenerate to the plain
    * anti-join) built offline over the "historical corpus" key
    * set (the (user, event_type, day) md5 keys of events with
    * event_id % 5 <> 4 — 80% of rows; the day term keeps BOTH paths
    * live at every SF: ~2/3 of batch keys are bloom-clear new days,
    * ~1/3 are true dups that must survive the exact confirm) embedded
    * as a literal in the
    * per-row filter and rules most batch rows definitely-new with no
    * join; only bloom-maybe rows (true dups + collisions) take the
    * stream-static exact confirm. Blooms have no false negatives, so
    * the admitted set must equal DuckDB's plain NOT-EXISTS anti-join
    * — the bitmap is a load-bearing accelerator, not an approximation
    * of the answer. Stateless per micro-batch ⇒ order-insensitive;
    * the gate emits the admitted event_ids.
    */
  private def q234StreamBloomAdmission(
      s: SparkSession, d: String): DataFrame = {
    import graft.ops.BloomOps
    // ev() carries ts as epoch-ns LONG (Tables convention); the stream
    // carries TimestampType — derive the SAME day string from each.
    // The key is the shared 60-bit md5-prefix LONG, not the 32-hex
    // string: the bloom xxhash64-probes it k times per row and the
    // confirm join shuffles it — longs keep all of that off the
    // string path (the mirror derives the identical long, so even a
    // key collision is mirrored bit-for-bit)
    def key(day: Column) = graft.ops.TextOps.tokenHash(
      concat(col("user_id").cast("string"),
        lit(":"), col("event_type"), lit(":"), day))
    // cached: the static corpus feeds the bitmap build AND the
    // stream-static exact confirm re-resolved per micro-batch — four
    // scans of the same md5+distinct without the pin
    val corpus = ev(s, d).filter(col("event_id") % 5 =!= 4)
      .select(key(date_format(
        timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd")).as("h"))
      .distinct()
      .transform(CacheScope.cache)
    // size the bitmap from the key count the cache materializes anyway
    // — no hardcoded m; stays load-bearing at every SF
    val (m, k) = BloomOps.sizeFor(math.max(1L, corpus.count()))
    val bitmap = BloomOps.build(corpus, "h", m, k)
    val fill = BloomOps.fill(bitmap)
    System.err.println(
      f"[q234] bloom m=$m k=$k fill=$fill%.3f " +
        f"fpr~${math.pow(fill, k)}%.5f")
    streamReplayParity(s, d, "q234", mode = "append") { stream =>
      graft.streaming.StreamingOps.bloomAdmissionStream(
        stream.filter(col("event_id") % 5 === 4)
          .withColumn("h", key(date_format(col("ts"), "yyyy-MM-dd"))),
        corpus, bitmap, "h", m = m, k = k)
        .select(col("event_id"))
    }.orderBy(col("event_id"))
  }

  private val q234Sql = {
    val h = graft.ops.TextOps.tokenHashSql(
      "CAST(user_id AS VARCHAR) || ':' || event_type" +
        " || ':' || strftime(ts, '%Y-%m-%d')")
    s"""WITH keyed AS (SELECT event_id, $h AS h FROM events),
       corpus AS (SELECT DISTINCT h FROM keyed WHERE event_id % 5 <> 4)
       SELECT k.event_id FROM keyed k
       WHERE k.event_id % 5 = 4
         AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = k.h)
       ORDER BY k.event_id"""
  }

  /** q235: STREAM-STREAM interval-join parity — the two-sided join
    * state seam: [[graft.streaming.StreamingOps.intervalJoinStream]]
    * matches each purchase to the same user's views in the preceding
    * 30 minutes as BOTH sides flow through the ordered 3-file replay
    * (a self-join of the replayed source filtered two ways). Inner
    * stream-stream joins emit a pair the moment both sides have
    * arrived — no watermark hold on emission — so the finite replay's
    * sink is exactly the matched-pair set, and the in-order replay
    * keeps every needed view inside the state-retention bound (a view
    * needed by a NEXT-batch purchase is at most lookback old, well
    * inside watermark − lookback cleanup). Mirror is the plain theta
    * join; q64 gates the binned batch rewrite of the same predicate,
    * this gates the buffered streaming execution of it.
    */
  private def q235StreamIntervalJoin(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q235", mode = "append") { stream =>
      graft.streaming.StreamingOps.intervalJoinStream(
        stream.filter(col("event_type") === "purchase"),
        stream.filter(col("event_type") === "view"))
        .select(col("p_id"), col("v_id"))
    }.orderBy(col("p_id"), col("v_id"))

  private val q235Sql =
    s"""SELECT p.p_id, v.v_id
       FROM (SELECT user_id, event_id AS p_id, $tsUsSql AS p_us
             FROM events WHERE event_type = 'purchase') p
       JOIN (SELECT user_id, event_id AS v_id, $tsUsSql AS v_us
             FROM events WHERE event_type = 'view') v
         ON v.user_id = p.user_id
            AND v.v_us >= p.p_us - 1800 * 1000000
            AND v.v_us <= p.p_us
       ORDER BY p.p_id, v.v_id"""

  /** q236: STREAMING point-in-time enrichment parity — the
    * stream-static join with a RANGE residual: every replayed event
    * joins the user-segment version current AT ITS EVENT TIME from an
    * SCD2 history built with [[graft.ops.ScdOps.scd2Apply]] (seg
    * 'S'+id%5 seeded 2024-01-01; mid-month drift: %3 users move to
    * 'SX', %7 users churn — their post-drift events must enrich to
    * NULL through the left join, covering the miss path). Stateless
    * per micro-batch ⇒ order-insensitive; the mirror hand-builds the
    * same two-version history and runs the same validity-bounded left
    * join, so any drift in scd2Apply's closes/opens OR in the
    * streaming join's range residual hash-fails on 800k rows.
    */
  private def q236StreamPitEnrich(
      s: SparkSession, d: String): DataFrame = {
    val users = ev(s, d).select(col("user_id")).distinct()
    def segOf(c: Column) =
      concat(lit("S"), (c % 5L).cast("string"))
    val seed = users.select(col("user_id").as("u_id"),
        segOf(col("user_id")).as("seg"))
      .withColumn("valid_from", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("version", lit(1L))
    val snap2 = users.filter(col("user_id") % 7L =!= 0L)
      .select(col("user_id").as("u_id"),
        when(col("user_id") % 3L === 0L, lit("SX"))
          .otherwise(segOf(col("user_id"))).as("seg"))
    val hist = graft.ops.ScdOps.scd2Apply(seed, snap2,
      keys = Seq("u_id"), tracked = Seq("seg"),
      asOf = to_timestamp(lit("2024-01-16 00:00:00")))
    streamReplayParity(s, d, "q236", mode = "append") { stream =>
      graft.streaming.StreamingOps.enrichPointInTime(
        stream, hist, eventKey = "user_id", dimKey = "u_id")
        .select(col("event_id"), col("seg"), col("version"))
    }.orderBy(col("event_id"))
  }

  private val q236Sql =
    """WITH users AS (SELECT DISTINCT user_id FROM events),
       hist AS (
         SELECT user_id AS u_id,
                'S' || CAST(user_id % 5 AS VARCHAR) AS seg,
                CAST(1 AS BIGINT) AS version,
                TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
                CASE WHEN user_id % 7 = 0 OR user_id % 3 = 0
                     THEN TIMESTAMP '2024-01-16 00:00:00' END AS valid_to
         FROM users
         UNION ALL
         SELECT user_id, 'SX', CAST(2 AS BIGINT),
                TIMESTAMP '2024-01-16 00:00:00', NULL
         FROM users WHERE user_id % 7 <> 0 AND user_id % 3 = 0)
       SELECT e.event_id, h.seg, h.version
       FROM events e LEFT JOIN hist h
         ON h.u_id = e.user_id
            AND epoch_us(h.valid_from) <= epoch_us(e.ts)
            AND (h.valid_to IS NULL
                 OR epoch_us(e.ts) < epoch_us(h.valid_to))
       ORDER BY e.event_id"""

  /** q246: STREAMING HLL-register parity — continuous distinct
    * counting as mergeable-sketch state. The replayed stream
    * accumulates HyperLogLog registers per event_type through
    * [[graft.streaming.StreamingOps.hllRegistersStream]] (state =
    * 64 max-rho integers per type, never growing with cardinality —
    * the "distinct users since launch" counter a 100 TB/day pipeline
    * keeps running forever), and the gate compares the REGISTERS
    * bit-for-bit against DuckDB computing them from the same rows:
    * bucket = low 6 bits, rho = leading-zero run of the high 54 bits
    * of the shared 60-bit md5-prefix hash. Register equality is a
    * strictly stronger claim than estimate equality — one dropped,
    * duplicated-with-different-key, or misrouted row that changes any
    * bucket's max flips a row of the hash. max() is commutative and
    * idempotent, so the 3-file replay order and micro-batch
    * boundaries cannot move the result; complete mode re-emits the
    * final register table. The estimate side of HLL is q48's
    * accuracy-contract verdict; this gate pins the sketch STATE.
    */
  private def q246StreamHllParity(
      s: SparkSession, d: String): DataFrame =
    streamReplayParity(s, d, "q246") { stream =>
      graft.streaming.StreamingOps.hllRegistersStream(
        stream, groupCol = "event_type", keyCol = "user_id", buckets = 64)
    }.orderBy(col("event_type"), col("bucket"))

  private val q246Sql = {
    val h = graft.ops.TextOps
      .tokenHashSql("'hll:' || CAST(user_id AS VARCHAR)")
    s"""WITH h AS (SELECT event_type, $h AS h FROM events),
       r AS (SELECT event_type, h % 64 AS bucket, h // 64 AS rest FROM h)
       SELECT event_type, bucket,
         CAST(MAX(CASE WHEN rest = 0 THEN 55
                       ELSE 55 - length(bin(rest)) END) AS BIGINT) AS rho
       FROM r GROUP BY 1, 2 ORDER BY event_type, bucket"""
  }

  /** q252: TEMPORAL train/eval split — the split-hygiene axis q182's
    * cluster-keyed split doesn't cover: interaction data must split
    * BY TIME (train strictly before eval) or the model trains on the
    * future it will be evaluated on. Per event_type the cut is
    * RANK-based, not value-based: rows ranked by (epoch-µs, event_id)
    * take the first floor(0.8·n) as train — deterministic under
    * timestamp ties (the value-based cut would put an unpredictable
    * tie mass on one side), so both engines split row-for-row. The
    * report carries the audit a pipeline gates on: per-type train and
    * eval counts, the exact 80/20 contract (n_train =
    * floor(0.8·(n_train+n_test)) — integer arithmetic, rn·5 ≤ n·4),
    * the boundary timestamps, and `boundary_clean` = max_train_us
    * STRICTLY < min_test_us — 0 means the rank cut landed inside a
    * timestamp tie, i.e. the train side contains an event
    * simultaneous with an eval event and the operator should re-cut
    * at a tie-free boundary. (A ≤ verdict would be true by
    * construction under a rank cut — it could never flag anything;
    * strictness is what makes the column a signal. Degenerate splits
    * with an empty side are vacuously clean.) Scale: one window rank
    * per type + one grouped aggregate; the rank is the same
    * per-group total order every sessionization query already
    * shuffles on.
    */
  private def q252TemporalSplit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us").asc, col("event_id").asc)
    val ranked = ev(s, d)
      .select(col("event_type"), col("event_id"), tsUs.as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("is_train", col("rn") * 5 <= col("n") * 4)
    ranked.groupBy(col("event_type"))
      .agg(
        sum(when(col("is_train"), lit(1L)).otherwise(lit(0L)))
          .as("n_train"),
        sum(when(!col("is_train"), lit(1L)).otherwise(lit(0L)))
          .as("n_test"),
        max(when(col("is_train"), col("us"))).as("max_train_us"),
        min(when(!col("is_train"), col("us"))).as("min_test_us"))
      .select(col("event_type"), col("n_train"), col("n_test"),
        col("max_train_us"), col("min_test_us"),
        when(col("max_train_us").isNull || col("min_test_us").isNull ||
          col("max_train_us") < col("min_test_us"), lit(1L))
          .otherwise(lit(0L)).as("boundary_clean"))
      .orderBy(col("event_type"))
  }

  private val q252Sql =
    s"""WITH ranked AS (SELECT event_type, event_id, $tsUsSql AS us,
           ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY $tsUsSql ASC, event_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
         FROM events),
       flagged AS (SELECT event_type, us, rn * 5 <= n * 4 AS is_train
                   FROM ranked)
       SELECT event_type,
         CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
           AS n_test,
         MAX(CASE WHEN is_train THEN us END) AS max_train_us,
         MIN(CASE WHEN NOT is_train THEN us END) AS min_test_us,
         CAST(CASE WHEN MAX(CASE WHEN is_train THEN us END) IS NULL
                     OR MIN(CASE WHEN NOT is_train THEN us END) IS NULL
                     OR MAX(CASE WHEN is_train THEN us END) <
                        MIN(CASE WHEN NOT is_train THEN us END)
              THEN 1 ELSE 0 END AS BIGINT) AS boundary_clean
       FROM flagged GROUP BY 1 ORDER BY event_type"""

  /** q239: STREAMING CHECKPOINT-RESTART parity — the recovery path
    * the exactly-once design actually depends on, which the other
    * gates never exercise: q204's windowed aggregation runs through
    * [[graft.streaming.StreamingOps.exactlyOnceParquetSink]] with a
    * REAL checkpoint dir, is stopped after committing only the first
    * ts-range file (the simulated crash), and then a NEW query is
    * started from the SAME checkpoint over the remaining files. The
    * restarted query must (a) restore batch 0's window state from the
    * state-store checkpoint — the final aggregates include file 0's
    * contribution although query 2 never reads file 0 — and (b) not
    * reprocess file 0 (the source checkpoint). The final committed
    * `batch_id=` dir (complete mode ⇒ the highest batch IS the full
    * result) must equal the batch oracle row-for-row; the mirror is
    * exactly q204's. Any state loss, double-read, or sink
    * double-apply hash-fails.
    */
  private def q239StreamCheckpointRestart(
      s: SparkSession, d: String): DataFrame =
    checkpointRestart(s, d, "q239") { (phase1, phase2) =>
      graft.streaming.StreamingOps.withShufflePartitions(s, 8) {
        phase1()
        phase2()
      }
    }

  /** The q239/q254 restart scaffold. COPIES the shared stamped replay
    * tree into a run-private prep dir (the phases consume their
    * staging by rename, so the artifact cannot be replayed in place)
    * and re-stamps the copies — copy does not carry mtimes, and the
    * order must survive the moves (rename preserves them), so phase-2
    * files always replay after file 0. Phase 1 makes only the first
    * ts-range file visible and runs [[hourlyCounts]] through
    * [[graft.streaming.StreamingOps.exactlyOnceParquetSink]] with a
    * real checkpoint until batch 0 commits, then STOPS it (the
    * simulated crash); phase 2 places the remaining files and starts a
    * NEW query from the SAME checkpoint. `runPhases` runs the two
    * phases under the gate's confs. Returns the final committed batch
    * (complete mode ⇒ the full result), pinned so the run dir can be
    * deleted.
    */
  private def checkpointRestart(s: SparkSession, d: String, tag: String)(
      runPhases: (() => Unit, () => Unit) => Unit): DataFrame = {
    import graft.streaming.StreamingOps
    import org.apache.hadoop.fs.Path
    val run = java.util.UUID.randomUUID().toString.take(8)
    val basePath =
      new Path(sys.props("java.io.tmpdir") + s"/graft-ckpt-$tag-$run")
    val fs = basePath.getFileSystem(s.sessionState.newHadoopConf())
    try {
      val (staging, outDir, ckpt) = (s"$basePath/in", s"$basePath/out",
        s"$basePath/ckpt")
      val (_, srcParts, srcFs) = stagedReplayTree(s, d)
      val prepPath = new Path(basePath, "prep")
      fs.mkdirs(prepPath)
      srcParts.foreach(p => org.apache.hadoop.fs.FileUtil.copy(srcFs, p,
        fs, new Path(prepPath, p.getName), false,
        s.sessionState.newHadoopConf()))
      val parts = fs.listStatus(prepPath)
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).map(_.getPath).toSeq
      StreamingOps.stampReplayOrder(fs, parts)
      val stagingPath = new Path(staging)
      fs.mkdirs(stagingPath)
      def place(p: Path): Unit =
        fs.rename(p, new Path(stagingPath, p.getName))
      def replay(): Unit = {
        val q = StreamingOps.exactlyOnceParquetSink(
          hourlyCounts(StreamingOps.readEventsStream(s, staging,
            maxFilesPerTrigger = 1)),
          outDir, ckpt, outputMode = "complete")
        try q.processAllAvailable() finally q.stop()
      }
      runPhases(
        () => { place(parts(0)); replay() },
        () => { parts.drop(1).foreach(place); replay() })
      StreamingOps.readLatestBatch(s, outDir)
        .getOrElse(sys.error(s"$tag: no committed batch"))
        // pin the (windows-sized) rows so the whole staging tree —
        // in/, ckpt/, out/ — can be deleted before returning
        .localCheckpoint(true)
        .orderBy(col("hour_epoch"), col("event_type"))
    } finally fs.delete(basePath, true)
  }

  /** The restarted stream must land on exactly the batch answer. */
  private val q239Sql = q204Sql

  /** q254: RESTART UNDER RECONFIGURATION — q239's recovery path under
    * the two knobs an operator actually changes between runs of a
    * long-lived job: the restarted session sets a DIFFERENT
    * `spark.sql.shuffle.partitions` (8 → 3) and swaps the state-store
    * provider conf to RocksDB (q240's machinery). Spark records both
    * in the checkpoint's offset metadata and re-pins the CHECKPOINTED
    * values on restart (state-store partitioning and provider are
    * properties of the persisted state, not of the session that
    * happens to resume it) — so the resumed query must restore batch
    * 0's window state, skip file 0, and land on exactly the batch
    * answer even though the operator "reconfigured" it. Any
    * state-partition mismatch, provider-format confusion, or
    * double-read hash-fails against q204's mirror. This is the gate
    * that makes conf drift between deploys a non-event instead of a
    * silent state-corruption risk at 100 TB.
    */
  private def q254StreamRestartReconfig(
      s: SparkSession, d: String): DataFrame =
    checkpointRestart(s, d, "q254") { (phase1, phase2) =>
      // deliberately NOT StreamingOps.withShufflePartitions: that
      // helper only scopes the conf DOWN (min with the session value),
      // while this gate needs two phases with a guaranteed-DIFFERENT
      // explicit value (8 then 3) regardless of what the session runs
      // at — the difference IS the thing under test
      val partsKey = "spark.sql.shuffle.partitions"
      val prevParts = s.conf.get(partsKey)
      try {
        // PHASE 1: 8 shuffle partitions, default (HDFS-backed) state
        // provider
        s.conf.set(partsKey, "8")
        phase1()
        // PHASE 2: the "reconfigured deploy" — different partition
        // count AND a different provider conf; the checkpoint's offset
        // metadata must win both
        s.conf.set(partsKey, "3")
        graft.streaming.StreamingOps.withStateStoreProvider(s,
          graft.streaming.StreamingOps.RocksDbProvider)(phase2())
      } finally s.conf.set(partsKey, prevParts)
    }

  /** Reconfigured restart must still land on exactly the batch answer. */
  private val q254Sql = q204Sql

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_stream_restart_reconfig" -> q254StreamRestartReconfig,
    "q239_stream_checkpoint_restart" -> q239StreamCheckpointRestart,
    "q64_interval_join" -> q64IntervalJoin,
    "q130_cohort_retention" -> q130CohortRetention,
    "q40_hourly_windows" -> q40HourlyWindows,
    "q117_partial_merge" -> q117PartialMerge,
    "q41_sessionization" -> q41Sessionization,
    "q42_json_props" -> q42JsonProps,
    "q43_funnel" -> q43Funnel,
    "q166_attribution" -> q166Attribution,
    "q168_user_type_histogram" -> q168UserTypeHistogram,
    "q170_map_profile" -> q170MapProfile,
    "q171_top_paths" -> q171TopPaths,
    "q175_strict_funnel" -> q175StrictFunnel,
    "q177_incremental_distinct" -> q177IncrementalDistinct,
    "q44_bucket_averages" -> q44BucketAverages,
    "q45_moving_avg" -> q45MovingAvg,
    "q46_gap_stats" -> q46GapStats,
    "q47_value_quartiles" -> q47ValueQuartiles,
    "q48_hll_users" -> q48HllUsers,
    "q62_asof_view_purchase" -> q62AsofViewPurchase,
    "q80_rank_distributions" -> q80RankDistributions,
    "q148_markov_transitions" -> q148MarkovTransitions,
    "q149_gap_fill_daily" -> q149GapFillDaily,
    "q150_zscore_anomalies" -> q150ZscoreAnomalies,
    "q194_mad_anomalies" -> q194MadAnomalies,
    "q198_dow_seasonality" -> q198DowSeasonality,
    "q199_forward_fill" -> q199ForwardFill,
    "q204_stream_window_parity" -> q204StreamWindowParity,
    "q224_stream_session_parity" -> q224StreamSessionParity,
    "q240_stream_rocksdb_session" -> q240StreamRocksdbSession,
    "q231_stream_dedup_parity" -> q231StreamDedupParity,
    "q232_stream_transitions_parity" -> q232StreamTransitionsParity,
    "q234_stream_bloom_admission" -> q234StreamBloomAdmission,
    "q235_stream_interval_join" -> q235StreamIntervalJoin,
    "q236_stream_pit_enrich" -> q236StreamPitEnrich,
    "q246_stream_hll_parity" -> q246StreamHllParity,
    "q252_temporal_split" -> q252TemporalSplit)

  override val oracle: Map[String, String] = Map(
    "q254_stream_restart_reconfig" -> q254Sql,
    "q239_stream_checkpoint_restart" -> q239Sql,
    "q48_hll_users" -> q48Sql,
    "q177_incremental_distinct" -> q177Sql,
    "q64_interval_join" -> q64Sql,
    "q130_cohort_retention" -> q130Sql,
    "q80_rank_distributions" -> q80Sql,
    "q40_hourly_windows" -> q40Sql,
    "q117_partial_merge" -> q117Sql,
    "q41_sessionization" -> q41Sql,
    "q42_json_props" -> q42Sql,
    "q43_funnel" -> q43Sql,
    "q166_attribution" -> q166Sql,
    "q168_user_type_histogram" -> q168Sql,
    "q170_map_profile" -> q170Sql,
    "q171_top_paths" -> q171Sql,
    "q175_strict_funnel" -> q175Sql,
    "q44_bucket_averages" -> q44Sql,
    "q45_moving_avg" -> q45Sql,
    "q46_gap_stats" -> q46Sql,
    "q47_value_quartiles" -> q47Sql,
    "q62_asof_view_purchase" -> q62Sql,
    "q148_markov_transitions" -> q148Sql,
    "q149_gap_fill_daily" -> q149Sql,
    "q150_zscore_anomalies" -> q150Sql,
    "q194_mad_anomalies" -> q194Sql,
    "q198_dow_seasonality" -> q198Sql,
    "q199_forward_fill" -> q199Sql,
    "q204_stream_window_parity" -> q204Sql,
    "q224_stream_session_parity" -> q224Sql,
    "q240_stream_rocksdb_session" -> q224Sql,
    "q231_stream_dedup_parity" -> q231Sql,
    "q232_stream_transitions_parity" -> q232Sql,
    "q234_stream_bloom_admission" -> q234Sql,
    "q235_stream_interval_join" -> q235Sql,
    "q236_stream_pit_enrich" -> q236Sql,
    "q246_stream_hll_parity" -> q246Sql,
    "q252_temporal_split" -> q252Sql)
}
