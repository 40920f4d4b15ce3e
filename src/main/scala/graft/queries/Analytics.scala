package graft.queries

import graft.core.{CacheScope, Exact, Tables}
import graft.ops.{GraphOps, ScdOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Business/operations analytics pack over the relational and event
  * tables — robust statistics, layout and sketch audits, privacy
  * checks, entity resolution, frequent-itemset mining, and engagement
  * metrics. Split from [[Profiling]] (which keeps the corpus/text
  * profiling queries); the same house rules apply (QueryPack: total
  * orders, integer fixed-point, LONG/BIGINT alignment).
  */
object Analytics extends QueryPack {

  // ---------------------------------------------------------------- q124

  /** q124: winsorized statistics — per-status mean of `o_totalprice`
    * after capping at the rank-based p05/p95 (robust to the heavy tail
    * that makes a plain mean useless for monitoring). Percentile cuts
    * are DISCRETE order statistics (row_number against integer-division
    * ranks — no interpolation-formula FP), the capped mean is
    * [[Exact]] 2-dp fixed point; both hash-exact across engines. One
    * window + one aggregate: a per-group sort and a partial-merged agg,
    * the same two-shuffle shape at any scale.
    */
  private def q124WinsorizedStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val ranked = Tables(s, d, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("o_orderstatus"))))
      .withColumn("lo_rank", expr("greatest(1, (n * 5) div 100)"))
      .withColumn("hi_rank", expr("least(n, ((n * 95) + 99) div 100)"))
    val cuts = ranked.groupBy(col("o_orderstatus"))
      .agg(
        max(when(col("rn") === col("lo_rank"), col("o_totalprice")))
          .as("lo_cut"),
        max(when(col("rn") === col("hi_rank"), col("o_totalprice")))
          .as("hi_cut"),
        max(col("n")).as("n_orders"))
    // cuts is |statuses| rows → broadcast back to the fact scan.
    Tables(s, d, "orders")
      .join(broadcast(cuts), Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("lo_cut"), col("hi_cut"),
        col("n_orders"),
        greatest(col("lo_cut"), least(col("hi_cut"), col("o_totalprice")))
          .as("capped"))
      .groupBy(col("o_orderstatus"))
      .agg(max(col("lo_cut")).as("lo_cut"), max(col("hi_cut")).as("hi_cut"),
        max(col("n_orders")).as("n_orders"),
        Exact.avgFixed(col("capped"), 2).as("wins_avg"))
      .orderBy(col("o_orderstatus"))
  }

  private val q124Sql = {
    val avg = Exact.avgFixedSql("capped", 2)
    s"""WITH ranked AS (
         SELECT o_orderstatus, o_totalprice,
                CAST(row_number() OVER (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
                COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
         FROM orders),
       cuts AS (
         SELECT o_orderstatus,
                max(CASE WHEN rn = greatest(1, (n * 5) // 100)
                    THEN o_totalprice END) AS lo_cut,
                max(CASE WHEN rn = least(n, ((n * 95) + 99) // 100)
                    THEN o_totalprice END) AS hi_cut,
                max(n) AS n_orders
         FROM ranked GROUP BY o_orderstatus),
       capped AS (
         SELECT o.o_orderstatus, c.lo_cut, c.hi_cut, c.n_orders,
                greatest(c.lo_cut, least(c.hi_cut, o.o_totalprice)) AS capped
         FROM orders o JOIN cuts c USING (o_orderstatus))
       SELECT o_orderstatus, max(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut,
              max(n_orders) AS n_orders, $avg AS wins_avg
       FROM capped GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  }

  // ---------------------------------------------------------------- q125

  /** q125: Z-order layout audit — the multi-dimensional data-skipping
    * decision. Rows are laid out by the interleaved-bit (Morton) key of
    * two join/filter dimensions and grouped into 64 contiguous "files";
    * the audit reports each file's bounding box on BOTH dimensions, next
    * to the same files under a naive single-column sort. Z-order keeps
    * both spans ~8/64 wide, so file-level min/max stats prune point and
    * range predicates on EITHER dimension ~8× — the reason a 100 TB
    * table laid out by Z-order answers two-dimensional slices without a
    * full scan. The interleave is pure arithmetic (div/mod/multiply —
    * no engine-specific bit intrinsics) so the oracle mirrors it
    * bit-for-bit; per-file stats are one grouped agg, no shuffle beyond
    * it.
    */
  private def q125ZorderLayout(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "lineitem")
      .select((col("l_partkey") % 64L).as("x"), (col("l_suppkey") % 64L).as("y"))
    val z = base.select(col("x"), col("y"),
      expr(s"(${interleaveSql("div")}) div 64").as("file_id"),
      lit("zorder").as("layout"))
    val linear = base.select(col("x"), col("y"),
      col("x").as("file_id"), lit("xsort").as("layout"))
    z.unionByName(linear)
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
        min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
      .withColumn("bbox",
        (col("x_hi") - col("x_lo") + 1L) * (col("y_hi") - col("y_lo") + 1L))
      .orderBy(col("layout"), col("file_id"))
  }

  /** Morton interleave of 6-bit x,y as pure div/mod arithmetic —
    * identical text modulo the integer-division operator (`div` Spark,
    * `//` DuckDB), so both engines evaluate the same formula.
    */
  private def interleaveSql(idiv: String): String =
    (0 until 6).map { b =>
      val bit = 1L << b
      s"((x $idiv $bit) % 2) * ${1L << (2 * b)} + ((y $idiv $bit) % 2) * ${1L << (2 * b + 1)}"
    }.mkString("(", " + ", ")")

  private val q125Sql = {
    val inter = interleaveSql("//")
    s"""WITH base AS (SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y
              FROM lineitem),
       tagged AS (
         SELECT x, y, $inter // 64 AS file_id, 'zorder' AS layout FROM base
         UNION ALL
         SELECT x, y, x AS file_id, 'xsort' AS layout FROM base)
       SELECT layout, file_id, count(*) AS n_rows,
              min(x) AS x_lo, max(x) AS x_hi,
              min(y) AS y_lo, max(y) AS y_hi,
              (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS bbox
       FROM tagged GROUP BY layout, file_id ORDER BY layout, file_id"""
  }

  // ---------------------------------------------------------------- q134

  /** q134: k-anonymity audit (Sweeney 2002) — equivalence classes over
    * the quasi-identifier tuple (nation, market segment) with class
    * size < k are re-identification risks a released dataset must
    * suppress or generalize; the query reports every risky class plus
    * one ALL row carrying the suppression rate (rows in risky classes
    * per million). The k-anonymity check is one grouped count over the
    * quasi-identifier key — the same shape at any scale — and the
    * summary is an aggregate over the (small) class histogram, not a
    * second scan of the data.
    */
  private def q134KAnonymity(s: SparkSession, d: String): DataFrame = {
    val k = 10L
    val classes = Tables(s, d, "customer")
      .join(broadcast(Tables(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"))
      // feeds the risky listing AND the summary row
      .transform(CacheScope.pin)
    val risky = classes.filter(col("class_size") < k)
      .select(col("n_name"), col("c_mktsegment"), col("class_size"))
    val summary = classes.agg(
      sum(col("class_size")).as("total"),
      sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
        .as("at_risk"))
      .select(lit("ALL").as("n_name"), lit("ALL").as("c_mktsegment"),
        expr("(at_risk * 1000000) div total").as("class_size"))
    risky.unionByName(summary)
      .orderBy(col("n_name"), col("c_mktsegment"))
  }

  private val q134Sql =
    s"""WITH classes AS (
         SELECT n.n_name, c.c_mktsegment, count(*) AS class_size
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name, c.c_mktsegment)
       SELECT n_name, c_mktsegment, class_size FROM classes
       WHERE class_size < 10
       UNION ALL
       SELECT 'ALL', 'ALL',
         CAST((sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
           * 1000000) // sum(class_size) AS BIGINT)
       FROM classes
       ORDER BY n_name, c_mktsegment"""

  // ---------------------------------------------------------------- q135

  /** q135: time-decayed engagement — per event type, the exponentially
    * decayed sum `Σ value·2^(−age_weeks)` that recency-weights activity
    * without a full recompute window. The decay weight is an integer
    * SHIFT (`1e6 div 2^k` — power-of-two decay), so the whole thing is
    * [[Exact]]-style fixed point: bit-identical across engines, runs,
    * and partitionings, unlike a float `pow(0.5, age)` whose sum is
    * order-dependent. Decayed sums are mergeable (they're plain sums of
    * per-row weighted values), so at 100 TB this map-side combines like
    * any other agg — and a streaming job maintains it incrementally by
    * halving the running total once per week boundary.
    */
  private def q135DecayedEngagement(s: SparkSession, d: String): DataFrame = {
    val weekNs = 7L * 24 * 3600L * 1000000000L
    val wk = Tables(s, d, "events")
      .select(col("event_type"), col("value"),
        expr(s"ts DIV $weekNs").as("week"))
    // global max as an aggregate + broadcast, NOT an empty-partition
    // window (which would funnel every row through one partition)
    val mx = wk.agg(max(col("week")).as("max_week"))
    wk.crossJoin(broadcast(mx))
      .withColumn("age", (col("max_week") - col("week")).cast("int"))
      // 2^20 > 1e6, so ages past 20 weeks decay to exactly 0 — the cap
      // also keeps the shift far from 63-bit overflow
      .withColumn("w_e6",
        when(col("age") >= 20, lit(0L))
          .otherwise(expr("1000000 div shiftleft(cast(1 AS BIGINT), age)")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(Exact.fixed(col("value"), 2) * col("w_e6")).as("decayed_e8"))
      .orderBy(col("event_type"))
  }

  private val q135Sql = {
    val weekNs = 7L * 24 * 3600L * 1000000000L
    val fixed = Exact.fixedSql("value", 2)
    s"""WITH wk AS (SELECT event_type, value,
              epoch_ns(ts) // $weekNs AS week FROM events),
       mx AS (SELECT max(week) AS max_week FROM wk),
       aged AS (SELECT event_type, value,
                  CAST(max_week - week AS INT) AS age FROM wk CROSS JOIN mx),
       wtd AS (SELECT event_type, value,
                 CASE WHEN age >= 20 THEN 0
                      ELSE 1000000 // (CAST(1 AS BIGINT) << age) END AS w_e6
               FROM aged)
       SELECT event_type, count(*) AS n_events,
              CAST(sum($fixed * w_e6) AS BIGINT) AS decayed_e8
       FROM wtd GROUP BY event_type ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q136

  /** q136: table statistics profile — the ANALYZE-style one-pass column
    * profile (row count, per-column exact NDV, min/max, null count)
    * that a cost-based optimizer, a data catalog, or a quality monitor
    * reads before touching a 100 TB table. Exact NDV on every column in
    * one statement plans as an Expand (one shuffle per distinct
    * column); the sketch path for the same numbers at scale is q48's
    * HLL — this is the exact twin run on samples or partitions. Output
    * is one row per profiled column (long-format so adding columns
    * doesn't change the schema).
    */
  private def q136TableProfile(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
      "l_linestatus")
    val profiles = cols.map { c =>
      li.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(c)).as("ndv"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"))
        .select(lit(c).as("column_name"), col("n_rows"), col("ndv"),
          col("min_val"), col("max_val"), col("n_null"))
    }
    profiles.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  private val q136Sql = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
      "l_linestatus")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
          CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
          CAST(min($c) AS VARCHAR) AS min_val,
          CAST(max($c) AS VARCHAR) AS max_val,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_null
          FROM lineitem"""
    }.mkString("", " UNION ALL ", " ORDER BY column_name")
  }

  // ---------------------------------------------------------------- q137

  /** q137: 2-D skyline (Pareto frontier) — parts no other part beats on
    * BOTH price (lower better) and size (higher better). The textbook
    * formulation is a quadratic NOT EXISTS self-join; sorted by (price
    * asc, size desc) the dominance test collapses to "size strictly
    * above the running max of everything before me" — one distinct + one
    * window pass, O(n log n). Coordinates are deduped first so exact
    * (price, size) twins don't mutually eliminate. At 100 TB: skyline
    * is shrink-resistant to partitioning — per-partition local skylines
    * union then re-skyline (the same window over a tiny survivor set),
    * which is exactly what AQE-sized partitions give this plan.
    */
  private def q137SkylineParts(s: SparkSession, d: String): DataFrame = {
    val pts = Tables(s, d, "part")
      .groupBy(col("p_retailprice").as("price"),
        col("p_size").cast("long").as("size"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("example"))
    // phase 1 — parallel: per price-range bucket, prune locally
    // dominated points (a locally dominated point is globally dominated
    // a fortiori, so this loses nothing). Phase 2's global window then
    // sees only the tiny per-bucket frontiers.
    def prune(df: DataFrame, w: org.apache.spark.sql.expressions
        .WindowSpec): DataFrame =
      df.withColumn("best_prev",
          max(col("size")).over(
            w.orderBy(col("price").asc, col("size").desc)
              .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("best_prev").isNull || col("size") > col("best_prev"))
        .drop("best_prev")
    val local = prune(
      pts.withColumn("bucket", expr("CAST(price AS BIGINT) div 100")),
      Window.partitionBy(col("bucket")))
    prune(local, Window.partitionBy())
      .select(col("price"), col("size"), col("n_parts"), col("example"))
      .orderBy(col("price"), col("size"))
  }

  private val q137Sql =
    s"""WITH pts AS (SELECT p_retailprice AS price,
              CAST(p_size AS BIGINT) AS size, count(*) AS n_parts,
              min(p_partkey) AS example
            FROM part GROUP BY 1, 2),
       run AS (SELECT *, max(size) OVER (ORDER BY price ASC, size DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_prev
               FROM pts)
       SELECT price, size, n_parts, example FROM run
       WHERE best_prev IS NULL OR size > best_prev
       ORDER BY price, size"""

  // ---------------------------------------------------------------- q140

  /** q140: bloom-prefiltered join — the semi-join pushdown every 100 TB
    * fact⋈selective-dim join wants: build a bloom filter over the dim's
    * join keys (here suppliers of three nations), probe it as a
    * SCAN-SIDE predicate on the fact (a codegen'd bitmap test — no
    * join, no shuffle), and only the surviving sliver shuffles into the
    * real join, which also removes the bloom's false positives. The
    * DuckDB mirror is the PLAIN join: the bloom must be semantically
    * invisible (q39's salt discipline) — any dropped/extra row
    * hash-mismatches. Fact rows shuffled drop from |lineitem| to
    * |matching| + FP·|lineitem|, the 10-100× I/O cut AQE can't give
    * you.
    */
  private def q140BloomJoin(s: SparkSession, d: String): DataFrame = {
    import graft.ops.BloomOps
    val (m, k) = (1 << 16, 3)
    val dim = Tables(s, d, "supplier")
      .filter(col("s_nationkey") < 3L)
      .select(col("s_suppkey"), col("s_nationkey"))
    val bitmap = BloomOps.build(dim, "s_suppkey", m, k)
    Tables(s, d, "lineitem")
      .filter(BloomOps.mightContain(bitmap, col("l_suppkey"), m, k))
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumFixed(col("l_extendedprice"), 2).as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  private val q140Sql =
    s"""SELECT s.s_nationkey, count(*) AS n_items,
         ${Exact.sumFixedSql("l.l_extendedprice", 2)} AS revenue
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       WHERE s.s_nationkey < 3
       GROUP BY s.s_nationkey ORDER BY s.s_nationkey"""

  // ---------------------------------------------------------------- q141

  /** q141: blocked fuzzy matching — near-identical product names
    * (Levenshtein ≤ 2), the entity-resolution step behind catalog
    * dedup. The quadratic all-pairs comparison is replaced by
    * CANDIDATE BLOCKING: names sharing their first word (adjective) or
    * last word (noun) — an edit of ≤2 confined to one word always
    * leaves the other word intact, so the union of the two equi-joined
    * blocks has full recall for single-word edits (both-words-edited
    * pairs are out of scope by design, stated here, and the oracle
    * mirrors the same candidate set — q28's LSH discipline). The
    * distinct-name relation is vocabulary-sized; each block is an
    * equi-join on a uniform key; Levenshtein runs on candidates only.
    */
  /** Distinct part names with their part count and blocking keys,
    * cached (feeds both block self-joins, twice for q180). Shared by
    * q141 and q180.
    */
  private def fuzzyNameTable(s: SparkSession, d: String): DataFrame = {
    val names = Tables(s, d, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"),
        min(col("p_partkey")).cast("long").as("nid"))
      .select(col("p_name"), col("n_parts"), col("nid"),
        expr("split(p_name, ' ')[0]").as("adj"),
        expr("element_at(split(p_name, ' '), -1)").as("noun"))
      .transform(CacheScope.pin)
    names
  }

  /** Blocked fuzzy name pairs (Levenshtein ≤ 2) over `names` — the
    * shared candidate discipline documented at q141.
    */
  private def fuzzyNamePairs(names: DataFrame): DataFrame = {
    def block(key: String): DataFrame =
      names.as("a").join(names.as("b"),
        col(s"a.$key") === col(s"b.$key") &&
          col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
    block("adj").unionByName(block("noun")).distinct()
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= 2)
  }

  private def q141FuzzyNames(s: SparkSession, d: String): DataFrame =
    fuzzyNamePairs(fuzzyNameTable(s, d))
      .select(col("name_a"), col("name_b"), col("lev").cast("long").as("lev"))
      .orderBy(col("name_a"), col("name_b"))

  private val q141Sql =
    s"""WITH names AS (
         SELECT p_name, string_split(p_name, ' ')[1] AS adj,
                string_split(p_name, ' ')[-1] AS noun
         FROM (SELECT DISTINCT p_name FROM part)),
       cand AS (
         SELECT a.p_name AS name_a, b.p_name AS name_b
         FROM names a JOIN names b
           ON a.adj = b.adj AND a.p_name < b.p_name
         UNION
         SELECT a.p_name, b.p_name
         FROM names a JOIN names b
           ON a.noun = b.noun AND a.p_name < b.p_name)
       SELECT name_a, name_b,
              CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
       FROM cand WHERE levenshtein(name_a, name_b) <= 2
       ORDER BY name_a, name_b"""

  // ---------------------------------------------------------------- q180

  /** q180: entity resolution end-to-end — q141's fuzzy pairs promoted
    * to ENTITIES: each distinct name gets a stable integral id (its
    * minimum p_partkey), the pair list becomes an edge list, and the
    * shared distributed connected-components machinery
    * ([[graft.ops.GraphOps.connectedComponents]] — the same
    * large-star/small-star loop behind near-dup clustering q75) folds
    * transitive matches (A~B, B~C ⇒ {A,B,C}) into one entity per
    * component. Output is the per-entity ledger: member-name count,
    * canonical (lexicographically smallest) name, and total parts
    * absorbed. Singleton names never enter the edge list and are
    * excluded by contract — the report lists MERGED entities. The
    * oracle re-derives the closure with a recursive CTE, so one wrong
    * merge or label hash-fails.
    */
  private def q180EntityClusters(s: SparkSession, d: String): DataFrame = {
    val names = fuzzyNameTable(s, d)
    val edges = fuzzyNamePairs(names)
      .join(names.select(col("p_name").as("name_a"), col("nid").as("ida")),
        "name_a")
      .join(names.select(col("p_name").as("name_b"), col("nid").as("idb")),
        "name_b")
      .select(col("ida"), col("idb"))
    GraphOps.connectedComponents(edges, "ida", "idb")
      .join(names.select(col("nid").as("id"), col("p_name"), col("n_parts")),
        "id")
      .groupBy(col("comp").as("entity_id"))
      .agg(count(lit(1)).as("n_names"),
        min(col("p_name")).as("canonical_name"),
        sum(col("n_parts")).as("n_parts"))
      .orderBy(col("entity_id"))
  }

  private val q180Sql =
    s"""WITH RECURSIVE names AS (
         SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
                CAST(MIN(p_partkey) AS BIGINT) AS nid,
                string_split(p_name, ' ')[1] AS adj,
                string_split(p_name, ' ')[-1] AS noun
         FROM part GROUP BY p_name),
       cand AS (
         SELECT a.p_name AS na, b.p_name AS nb, a.nid AS ida, b.nid AS idb
         FROM names a JOIN names b
           ON a.adj = b.adj AND a.p_name < b.p_name
         UNION
         SELECT a.p_name, b.p_name, a.nid, b.nid
         FROM names a JOIN names b
           ON a.noun = b.noun AND a.p_name < b.p_name),
       fuzzy AS (SELECT DISTINCT ida, idb FROM cand
                 WHERE levenshtein(na, nb) <= 2),
       sym AS (SELECT ida AS u, idb AS v FROM fuzzy
               UNION SELECT idb, ida FROM fuzzy),
       reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s
           ON r.v = s.u WHERE s.v <> r.u),
       cmp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u)
       SELECT c.comp AS entity_id, CAST(count(*) AS BIGINT) AS n_names,
              MIN(n.p_name) AS canonical_name,
              CAST(SUM(n.n_parts) AS BIGINT) AS n_parts
       FROM cmp c JOIN names n ON n.nid = c.u
       GROUP BY c.comp ORDER BY entity_id"""

  // ---------------------------------------------------------------- q142

  /** q142: longest activity streak per user — gaps-and-islands: an
    * island is a run of consecutive active days, identified by the
    * constant `day − row_number` within each run (both advance by 1
    * inside a run; the difference jumps only at a gap). One distinct,
    * one per-user window, one grouped max — all partitioned by user,
    * nothing global. The engagement metric behind "N-day streak"
    * features, and the canonical example of turning a sequential scan
    * into window algebra.
    */
  private def q142LongestStreak(s: SparkSession, d: String): DataFrame = {
    val dayNs = 24L * 3600 * 1000000000L
    val days = Tables(s, d, "events")
      .select(col("user_id"), expr(s"ts DIV $dayNs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  private val q142Sql = {
    val dayNs = 24L * 3600 * 1000000000L
    s"""WITH days AS (SELECT DISTINCT user_id, epoch_ns(ts) // $dayNs AS day
            FROM events),
       runs AS (SELECT user_id,
                  day - row_number() OVER (PARTITION BY user_id
                                           ORDER BY day) AS grp
                FROM days),
       lens AS (SELECT user_id, grp, count(*) AS len
                FROM runs GROUP BY user_id, grp)
       SELECT user_id, max(len) AS longest_streak,
              CAST(sum(len) AS BIGINT) AS n_active_days
       FROM lens GROUP BY user_id ORDER BY user_id"""
  }

  // ---------------------------------------------------------------- q143

  /** q143: association rules over order baskets (Agrawal & Srikant
    * 1994, the canonical frequent-itemset workload): for every part
    * pair co-ordered in ≥ minsup baskets, both directed rules with
    * integer-exact support, confidence `sup(a,b)/sup(a)` and lift
    * `sup(a,b)·N/(sup(a)·sup(b))` in e6/e3 fixed point. The Apriori
    * structure IS the plan: item supports (one grouped count) prune to
    * frequent items BEFORE the pair join (anti-monotonicity — an
    * infrequent item can't be in a frequent pair), the basket self-join
    * is an equi-join on orderkey with small per-basket fan-out, and the
    * support table broadcasts. No candidate explosion, no driver loops.
    */
  private def q143AssociationRules(s: SparkSession, d: String): DataFrame = {
    val minsup = 3L
    // Re-key the cached baskets by orderkey (round 14, guide §2.4):
    // the distinct shuffles by (l_orderkey, l_partkey), so the cached
    // layout satisfies NEITHER leg of the pair self-join (keyed on
    // l_orderkey alone) and both legs re-shuffled the cache per
    // reference. One keyed exchange before the cache gives hash
    // partitioning(l_orderkey, parallelism) that feeds both join legs
    // AND the per-item support aggregate exchange-free (measured
    // 4.56 → 3.72 s same-host full pack, default config).
    val baskets = graft.ops.SpreadOps.spread(
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct(),
      col("l_orderkey"))
      // feeds supports AND both sides of the pair join
      .transform(CacheScope.pin)
    // basket total rides the plan as a broadcast scalar — no separate
    // driver action serializing a job before the join
    val nBaskets = baskets
      .agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    // pinned: itemSup feeds the prune join AND both rule-direction
    // broadcasts (supA/supB) — unpinned, the groupBy over baskets
    // re-ran once per reference (stage profile: 4 identical stages)
    val itemSup = baskets.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minsup) // Apriori prune
      .transform(CacheScope.pin)
    // pinned: both sides of the pair self-join read it — unpinned,
    // the prune join executed once per side
    val frequent = baskets.join(broadcast(itemSup.select(col("l_partkey"))),
      Seq("l_partkey"))
      .transform(CacheScope.pin)
    val pairSup = frequent.as("a")
      .join(frequent.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= minsup)
    val supA = itemSup.withColumnRenamed("l_partkey", "p1")
      .withColumnRenamed("sup", "sup_1")
    val supB = itemSup.withColumnRenamed("l_partkey", "p2")
      .withColumnRenamed("sup", "sup_2")
    val scored = pairSup
      .join(broadcast(supA), Seq("p1")).join(broadcast(supB), Seq("p2"))
      // both rule directions read it — without the pin the union
      // re-runs the basket self-join per branch
      .transform(CacheScope.pin)
    val ab = scored.select(col("p1").as("antecedent"),
      col("p2").as("consequent"), col("sup_ab"),
      col("sup_1").as("sup_ante"), col("sup_2").as("sup_cons"))
    val ba = scored.select(col("p2").as("antecedent"),
      col("p1").as("consequent"), col("sup_ab"),
      col("sup_2").as("sup_ante"), col("sup_1").as("sup_cons"))
    ab.unionByName(ba)
      .crossJoin(broadcast(nBaskets))
      .withColumn("confidence_e6",
        expr("(sup_ab * 1000000) div sup_ante"))
      .withColumn("lift_e3",
        expr("(sup_ab * n_baskets * 1000) div (sup_ante * sup_cons)"))
      .filter(col("confidence_e6") >= 500000L)
      .select(col("antecedent"), col("consequent"), col("sup_ab"),
        col("sup_ante"), col("sup_cons"), col("confidence_e6"),
        col("lift_e3"))
      .orderBy(col("confidence_e6").desc, col("lift_e3").desc,
        col("antecedent"), col("consequent"))
  }

  private val q143Sql =
    s"""WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets),
       sup AS (SELECT l_partkey, count(*) AS sup FROM baskets
               GROUP BY l_partkey HAVING count(*) >= 3),
       freq AS (SELECT b.* FROM baskets b JOIN sup USING (l_partkey)),
       pairs AS (
         SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS sup_ab
         FROM freq a JOIN freq b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= 3),
       rules AS (
         SELECT p1 AS antecedent, p2 AS consequent, sup_ab,
                sa.sup AS sup_ante, sb.sup AS sup_cons
         FROM pairs JOIN sup sa ON pairs.p1 = sa.l_partkey
                    JOIN sup sb ON pairs.p2 = sb.l_partkey
         UNION ALL
         SELECT p2, p1, sup_ab, sb.sup, sa.sup
         FROM pairs JOIN sup sa ON pairs.p1 = sa.l_partkey
                    JOIN sup sb ON pairs.p2 = sb.l_partkey)
       SELECT antecedent, consequent, sup_ab, sup_ante, sup_cons,
              (sup_ab * 1000000) // sup_ante AS confidence_e6,
              (sup_ab * (SELECT n_baskets FROM n) * 1000)
                // (sup_ante * sup_cons) AS lift_e3
       FROM rules
       WHERE (sup_ab * 1000000) // sup_ante >= 500000
       ORDER BY confidence_e6 DESC, lift_e3 DESC, antecedent, consequent"""

  // ---------------------------------------------------------------- q145

  /** q145: rolling 7-day active users and DAU/WAU stickiness — the
    * engagement ratio product teams track daily. A COUNT(DISTINCT) over
    * a sliding time frame has no efficient window form; the distributed
    * shape is CONTRIBUTION EXPLODE: each (user, active-day) row posts
    * itself to the 7 window-end days it participates in, then one
    * grouped distinct count per day — 7× row inflation instead of a
    * per-day rescan, linear at any scale and partitioned by day. Days
    * with no 7-day history (the first 6) report their partial window,
    * exactly as the mirrored SQL does.
    */
  private def q145RollingActive(s: SparkSession, d: String): DataFrame = {
    val dayNs = 24L * 3600 * 1000000000L
    val days = Tables(s, d, "events")
      .select(col("user_id"), expr(s"ts DIV $dayNs").as("day"))
      .distinct()
    val maxDay = days.agg(max(col("day")).as("max_day"))
    val dau = days.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = days
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6L)).as("wday"))
      .crossJoin(broadcast(maxDay))
      .filter(col("wday") <= col("max_day"))
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000) div wau").as("stickiness_e6"))
      .orderBy(col("day"))
  }

  private val q145Sql = {
    val dayNs = 24L * 3600 * 1000000000L
    s"""WITH days AS (SELECT DISTINCT user_id, epoch_ns(ts) // $dayNs AS day
            FROM events),
       mx AS (SELECT max(day) AS max_day FROM days),
       dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM days
               GROUP BY day),
       contrib AS (SELECT user_id, day + o AS wday
                   FROM days CROSS JOIN (SELECT unnest(range(0, 7)) AS o)),
       wau AS (SELECT wday AS day, count(DISTINCT user_id) AS wau
               FROM contrib CROSS JOIN mx WHERE wday <= max_day
               GROUP BY wday)
       SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
              (dau * 1000000) // wau AS stickiness_e6
       FROM dau JOIN wau USING (day) ORDER BY day"""
  }

  // ---------------------------------------------------------------- q146

  /** q146: exact Pearson correlation per group — `corr()` built-ins
    * sum doubles in partition order and drift run-to-run; here the five
    * moments (Σx, Σy, Σxy, Σx², Σy²) are exact integer sums of 2-dp
    * fixed-point lifts ([[Exact]]'s contract extended to the
    * cross-moment), combined into the correlation in ONE fixed
    * expression order — bit-identical across engines, runs, and AQE
    * re-plans. One map-side-combined aggregate; the moments are the
    * mergeable form, so at 100 TB this is also the incremental-update
    * shape (keep 5 longs per group, merge batches associatively).
    */
  private def q146ExactCorr(s: SparkSession, d: String): DataFrame = {
    val x = Exact.fixed(col("l_quantity"), 2)
    // price at scale 0 (whole units): Σy² must stay < 2^63 — cents
    // would put Σ(1e7)² ≈ 6e19 past Long at sf0.1 row counts. Rounding
    // is a DEFINED lift (identical both engines), so exactness holds
    // for the rounded variable; Exact's Scaladoc overflow budget
    // governs the scale choice at bigger row counts.
    val y = Exact.fixed(col("l_extendedprice"), 0)
    Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
            6)""").as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  private val q146Sql = {
    val x = Exact.fixedSql("l_quantity", 2)
    val y = Exact.fixedSql("l_extendedprice", 0)
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
         CAST(sum($x) AS BIGINT) AS sx, CAST(sum($y) AS BIGINT) AS sy,
         CAST(sum(($x) * ($y)) AS BIGINT) AS sxy,
         CAST(sum(($x) * ($x)) AS BIGINT) AS sxx,
         CAST(sum(($y) * ($y)) AS BIGINT) AS syy
       FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, n,
         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
           6) AS corr_qty_price
       FROM m ORDER BY l_returnflag"""
  }

  // ---------------------------------------------------------------- q203

  /** Correlation-matrix measure columns and their fixed-point scales —
    * chosen so every pairwise product-sum stays inside LONG at sf0.1
    * row counts (worst term: price² ≈ 1e10/row × 6e5 rows ≈ 6e15; see
    * q146's overflow-budget note).
    */
  private val corrCols: Seq[(String, Int)] = Seq(
    "l_quantity" -> 2, "l_extendedprice" -> 0,
    "l_discount" -> 4, "l_tax" -> 4)

  /** q203: exact correlation MATRIX in one pass — all 6 measure pairs
    * of (quantity, price, discount, tax) per return flag from a SINGLE
    * aggregate computing the 14 mergeable integer moments (4 sums + 10
    * product-sums), then unpivoted to (flag, var_x, var_y, corr) rows.
    * `df.stat.corr` does one pass PER PAIR — k² scans of a 100 TB
    * fact; this is the one-scan generalization of q146's exact-Pearson
    * contract (order-independent integer moments → one fixed combine
    * expression → bit-identical everywhere). The moments partial-
    * aggregate map-side and merge associatively, so the same shape is
    * the incremental/streaming update.
    */
  private def q203CorrMatrix(s: SparkSession, d: String): DataFrame = {
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val moments =
      corrCols.map { case (c, sc) =>
        sum(Exact.fixed(col(c), sc)).as(s"s_$c")
      } ++ pairs.map { case ((x, sx), (y, sy)) =>
        sum(Exact.fixed(col(x), sx) * Exact.fixed(col(y), sy))
          .as(s"s_${x}_$y")
      } ++ corrCols.map { case (c, sc) =>
        val f = Exact.fixed(col(c), sc)
        sum(f * f).as(s"s_${c}_$c")
      }
    val agg = Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), moments: _*)
    def corrExpr(x: String, y: String) =
      s"""round((CAST(n AS DOUBLE) * s_${x}_$y
           - CAST(s_$x AS DOUBLE) * s_$y)
         / (sqrt(CAST(n AS DOUBLE) * s_${x}_$x
             - CAST(s_$x AS DOUBLE) * s_$x)
            * sqrt(CAST(n AS DOUBLE) * s_${y}_$y
             - CAST(s_$y AS DOUBLE) * s_$y)), 6)"""
    val stack = pairs.map { case ((x, _), (y, _)) =>
      s"'$x', '$y', ${corrExpr(x, y)}"
    }.mkString(", ")
    agg.selectExpr("l_returnflag", "n",
      s"stack(${pairs.length}, $stack) AS (var_x, var_y, corr)")
      .orderBy(col("l_returnflag"), col("var_x"), col("var_y"))
  }

  private val q203Sql = {
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val momentSql =
      corrCols.map { case (c, sc) =>
        s"CAST(sum(${Exact.fixedSql(c, sc)}) AS BIGINT) AS s_$c"
      } ++ (pairs.map { case ((x, sx), (y, sy)) =>
        s"CAST(sum((${Exact.fixedSql(x, sx)}) * (${Exact.fixedSql(y, sy)})) " +
          s"AS BIGINT) AS s_${x}_$y"
      }) ++ corrCols.map { case (c, sc) =>
        s"CAST(sum((${Exact.fixedSql(c, sc)}) * (${Exact.fixedSql(c, sc)})) " +
          s"AS BIGINT) AS s_${c}_$c"
      }
    def corrSql(x: String, y: String) =
      s"""round((CAST(n AS DOUBLE) * s_${x}_$y
           - CAST(s_$x AS DOUBLE) * s_$y)
         / (sqrt(CAST(n AS DOUBLE) * s_${x}_$x
             - CAST(s_$x AS DOUBLE) * s_$x)
            * sqrt(CAST(n AS DOUBLE) * s_${y}_$y
             - CAST(s_$y AS DOUBLE) * s_$y)), 6)"""
    val branches = pairs.map { case ((x, _), (y, _)) =>
      s"SELECT l_returnflag, n, '$x' AS var_x, '$y' AS var_y, " +
        s"${corrSql(x, y)} AS corr FROM m"
    }.mkString("\n       UNION ALL ")
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
         ${momentSql.mkString(",\n         ")}
       FROM lineitem GROUP BY l_returnflag)
       $branches
       ORDER BY l_returnflag, var_x, var_y"""
  }

  // ---------------------------------------------------------------- q147

  /** q147: exact OLS regression line per group — slope/intercept of
    * price on quantity from the SAME five mergeable integer moments as
    * q146 (`β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`, `α = (Σy − βΣx)/n`),
    * the closed-form twin of an MLlib LinearRegression fit for the
    * single-feature case: one aggregate pass, no iterations, no
    * driver-side solver, bit-deterministic. At 100 TB the moments
    * partial-aggregate map-side and merge associatively — the identical
    * plan shape as any grouped sum.
    */
  private def q147ExactOls(s: SparkSession, d: String): DataFrame = {
    val x = Exact.fixed(col("l_quantity"), 2)
    val y = Exact.fixed(col("l_extendedprice"), 0)
    Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        expr("""round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)""")
          .as("beta"),
        expr("""round((CAST(sy AS DOUBLE)
             - round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
               * sx) / n, 6)""").as("alpha"))
      .orderBy(col("l_returnflag"))
  }

  private val q147Sql = {
    val x = Exact.fixedSql("l_quantity", 2)
    val y = Exact.fixedSql("l_extendedprice", 0)
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
         CAST(sum($x) AS BIGINT) AS sx, CAST(sum($y) AS BIGINT) AS sy,
         CAST(sum(($x) * ($y)) AS BIGINT) AS sxy,
         CAST(sum(($x) * ($x)) AS BIGINT) AS sxx
       FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, n,
         round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS beta,
         round((CAST(sy AS DOUBLE)
             - round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
               * sx) / n, 6) AS alpha
       FROM m ORDER BY l_returnflag"""
  }

  /** q162: SCD Type-2 dimension merge ([[graft.ops.ScdOps.scd2Apply]])
    * — seed a version-1 history from the customer dimension, derive a
    * deterministic "six months later" snapshot (balance credits for
    * custkey%7, segment moves for %11, churned keys %97 dropped, new
    * keys +1e6 for %13), and apply it. The output is the effective-
    * dated history a point-in-time join consumes: closed + reopened
    * rows for changes, closes for deletes, version-1 opens for
    * inserts. The oracle mirrors the merge as two snapshot joins —
    * divergence in ANY row's dating/versioning hash-fails. One
    * full-outer PK join + explode at any scale; history passthrough
    * never joins.
    */
  private def q162Scd2History(s: SparkSession, d: String): DataFrame =
    historyGateProjection(
      scd2CustHistory(s, d, "2024-01-01 00:00:00", "2024-06-01 00:00:00"))

  /** Gate projection shared by q162 and its q233 streaming twin: the
    * conventional open-row sentinel (no NULL timestamps in compared
    * output; the library keeps NULL), effective instants crossing the
    * gate as epoch-micros LONGs — the events-table convention — so
    * the comparison never depends on a parquet timestamp physical
    * encoding (INT96/nanos vs micros). ONE copy: if the sentinel or
    * encoding convention changes, both gates move together.
    */
  private def historyGateProjection(h: DataFrame): DataFrame =
    h.withColumn("valid_from", unix_micros(col("valid_from")))
      .withColumn("valid_to", unix_micros(coalesce(col("valid_to"),
        to_timestamp(lit("9999-12-31 00:00:00")))))
      .orderBy(col("c_custkey"), col("version"))

  /** The q162 merge scenario as DuckDB CTE text (`merged` = the SCD2
    * history), parameterized on the two effective instants so q164's
    * point-in-time consumer can replay it over the order date range.
    */
  private def scd2CustCte(t0: String, t1: String): String =
    s"""snap1 AS (
         SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
       snap2 AS (
         SELECT c_custkey,
                CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                     ELSE c_acctbal END AS c_acctbal,
                CASE WHEN c_custkey % 11 = 0 THEN 'MACHINERY'
                     ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE c_custkey % 97 <> 0
         UNION ALL
         SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 = 0),
       merged AS (
         SELECT s1.c_custkey, s1.c_acctbal, s1.c_mktsegment,
                TIMESTAMP '$t0' AS valid_from,
                CASE WHEN s2.c_custkey IS NULL
                       OR NOT (s1.c_acctbal IS NOT DISTINCT FROM s2.c_acctbal
                           AND s1.c_mktsegment
                               IS NOT DISTINCT FROM s2.c_mktsegment)
                     THEN TIMESTAMP '$t1' END AS valid_to,
                CAST(1 AS BIGINT) AS version
         FROM snap1 s1 LEFT JOIN snap2 s2 ON s1.c_custkey = s2.c_custkey
         UNION ALL
         SELECT s2.c_custkey, s2.c_acctbal, s2.c_mktsegment,
                TIMESTAMP '$t1', NULL,
                CAST(CASE WHEN s1.c_custkey IS NULL THEN 1 ELSE 2 END
                  AS BIGINT)
         FROM snap2 s2 LEFT JOIN snap1 s1 ON s1.c_custkey = s2.c_custkey
         WHERE s1.c_custkey IS NULL
            OR NOT (s1.c_acctbal IS NOT DISTINCT FROM s2.c_acctbal
                AND s1.c_mktsegment IS NOT DISTINCT FROM s2.c_mktsegment))"""

  private val q162Sql =
    s"""WITH ${scd2CustCte("2024-01-01 00:00:00", "2024-06-01 00:00:00")}
       SELECT c_custkey, c_acctbal, c_mktsegment,
              epoch_us(valid_from) AS valid_from,
              epoch_us(COALESCE(valid_to,
                TIMESTAMP '9999-12-31 00:00:00')) AS valid_to,
              version
       FROM merged ORDER BY c_custkey, version"""

  /** The q162 scenario as DataFrames, parameterized on the effective
    * instants (shared by q162 and q164).
    */
  private def custBase(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))

  /** The deterministic "six months later" snapshot drift (balance
    * credits %7, segment moves %11, churn %97, inserts %13 + 1e6) —
    * ONE copy shared by the batch merge (q162/q164) and the q233
    * streamed-sink replay so the scenario can never diverge between
    * the batch query and its streaming parity gate.
    */
  private def custDrifted(cust: DataFrame): DataFrame =
    cust
      .filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 11 === 0, lit("MACHINERY"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment")))

  private def scd2CustHistory(
      s: SparkSession, d: String, t0: String, t1: String): DataFrame = {
    val cust = custBase(s, d)
    val history = cust
      .withColumn("valid_from", to_timestamp(lit(t0)))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("version", lit(1L))
    ScdOps.scd2Apply(history, custDrifted(cust),
      keys = Seq("c_custkey"), tracked = Seq("c_acctbal", "c_mktsegment"),
      asOf = to_timestamp(lit(t1)))
  }

  /** q233: STREAMING SCD2 SINK parity — the exactly-once foreachBatch
    * seam under the driver's oracle: the q162 scenario's two snapshots
    * (the version-1 seed and [[custDrifted]]) replayed as two ORDERED
    * micro-batches through [[graft.streaming.StreamingOps.scd2Sink]]
    * — each batch applies [[graft.ops.ScdOps.scd2Apply]] against the
    * history strictly below its own batch id and lands in a versioned
    * directory (the idempotent-replay contract StreamingSpec pins) —
    * then the final history is read back and projected exactly like
    * q162. The mirror IS q162's two-join merge: any drift in dating,
    * versioning, closes, churn handling or bootstrap inserts
    * hash-fails. Ordered replay: one file per snapshot with strictly
    * increasing stamped modification times, maxFilesPerTrigger=1
    * (same determinism argument as the events replay scaffold).
    */
  private def q233Scd2SinkParity(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.StreamingOps
    val run = java.util.UUID.randomUUID().toString.take(8)
    val base = sys.props("java.io.tmpdir") + s"/graft-scd2-gate-$run"
    val inDir = s"$base/in"
    val cust = custBase(s, d)
    val snap1 = cust
      .withColumn("eff_ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val snap2 = custDrifted(cust)
      .withColumn("eff_ts", to_timestamp(lit("2024-06-01 00:00:00")))
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(s.sessionState.newHadoopConf())
    // whole gate under try/finally: a failure anywhere (staging write,
    // stream setup, sink) must not leak the base tree in tmpdir
    try {
      snap1.coalesce(1).write.mode("overwrite").parquet(inDir)
      val firstParts = fs.listStatus(inPath)
        .filter(_.getPath.getName.startsWith("part-")).map(_.getPath).toSet
      snap2.coalesce(1).write.mode("append").parquet(inDir)
      val secondParts = fs.listStatus(inPath)
        .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
        .filterNot(firstParts)
      StreamingOps.stampReplayOrder(fs,
        firstParts.toSeq.sortBy(_.getName) ++
          secondParts.sortBy(_.getName))
      // replay at ≤8 shuffle partitions like the events scaffold: same
      // result, lower fixed per-micro-batch overhead
      StreamingOps.withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(snap1.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val query = StreamingOps.scd2Sink(stream, s"$base/hist",
          s"$base/ckpt", keys = Seq("c_custkey"),
          tracked = Seq("c_acctbal", "c_mktsegment"),
          effectiveCol = "eff_ts")
        try query.processAllAvailable() finally query.stop()
      }
      val hist = StreamingOps.readScd2History(s, s"$base/hist")
        .getOrElse(sys.error("q233: scd2Sink produced no history"))
        // pin the read-back rows (history is |dim|-sized) so the whole
        // staging tree — in/, ckpt/ AND the versioned hist/ — can be
        // deleted instead of leaking a tmpdir per invocation
        .localCheckpoint(true)
      historyGateProjection(hist)
    } finally fs.delete(new org.apache.hadoop.fs.Path(base), true)
  }

  /** Same merge, same mirror: the streamed sink must land on exactly
    * the q162 history.
    */
  private val q233Sql = q162Sql

  /** q164: point-in-time (temporal) join — the consumption side of the
    * q162 SCD2 history: each order joins the customer version that was
    * CURRENT on its order date (`valid_from <= d < valid_to`), so
    * revenue attributes to the segment the customer was in at order
    * time, not today's. The join is hash-keyed on the dimension PK
    * with the validity range as a residual predicate — per key there
    * are O(versions) rows, so the probe stays bounded at any scale
    * (never a range-only nested loop). Effective dates replay the
    * q162 merge over the order-date range (v1 opens 1996-01-01,
    * changes apply 1997-07-01).
    */
  private def q164PointInTimeJoin(s: SparkSession, d: String): DataFrame = {
    val hist = scd2CustHistory(s, d,
      "1996-01-01 00:00:00", "1997-07-01 00:00:00")
    Tables(s, d, "orders")
      .join(hist,
        col("o_custkey") === col("c_custkey") &&
          col("valid_from") <= col("o_orderdate") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .groupBy(col("c_mktsegment"), col("version"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumFixed(col("o_totalprice"), 2).as("revenue"))
      .orderBy(col("c_mktsegment"), col("version"))
  }

  private val q164Sql =
    s"""WITH ${scd2CustCte("1996-01-01 00:00:00", "1997-07-01 00:00:00")}
       SELECT c_mktsegment, version, COUNT(*) AS n_orders,
              ${Exact.sumFixedSql("o_totalprice", 2)} AS revenue
       FROM orders JOIN merged
         ON o_custkey = c_custkey
        AND valid_from <= o_orderdate
        AND (valid_to IS NULL OR o_orderdate < valid_to)
       GROUP BY c_mktsegment, version
       ORDER BY c_mktsegment, version"""

  /** q173: cross-table reconciliation — does each order's header
    * total agree with the sum of its line revenues within 5%? The
    * financial-close audit CheckOps' single-table constraints can't
    * express: one per-order aggregate (map-side partial) + one PK
    * join + integer fixed-point tolerance test (|Σline − total|·20 >
    * total ⇔ deviation > 5%, no float boundary). Reported per status
    * so a systematic breakage localizes.
    */
  private def q173Reconciliation(s: SparkSession, d: String): DataFrame = {
    val lineRev = Tables(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(Exact.fixed(col("l_extendedprice"), 2)).as("sl"))
    Tables(s, d, "orders")
      .join(lineRev, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderstatus"),
        (abs(col("sl") - Exact.fixed(col("o_totalprice"), 2)) * 20L >
          Exact.fixed(col("o_totalprice"), 2)).as("off"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("off"), 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("o_orderstatus"))
  }

  private val q173Sql = {
    val so = Exact.fixedSql("o_totalprice", 2)
    s"""WITH lr AS (SELECT l_orderkey,
           SUM(${Exact.fixedSql("l_extendedprice", 2)}) AS sl
         FROM lineitem GROUP BY l_orderkey)
       SELECT o_orderstatus, COUNT(*) AS n_orders,
              CAST(SUM(CASE WHEN ABS(sl - $so) * 20 > $so
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
       FROM orders JOIN lr ON o_orderkey = l_orderkey
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  }

  /** q174: equi-width numeric histogram — 10 bins over the exact
    * global [min, max] of `o_totalprice` (the distribution panel of a
    * dataset card, beside q136's scalar profile). Bounds come from a
    * one-row aggregate broadcast into the scan (the q12 pattern), the
    * bin index is the same IEEE arithmetic on both engines, and the
    * max lands in bin 9 via `least`. Two passes over the fact table,
    * both map-side-partial — no sort, no shuffle wider than 10 rows.
    */
  private def q174ValueHistogram(s: SparkSession, d: String): DataFrame = {
    val stats = Tables(s, d, "orders")
      .agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    Tables(s, d, "orders")
      .crossJoin(broadcast(stats))
      .select(least(floor((col("o_totalprice") - col("mn")) * 10.0 /
          (col("mx") - col("mn"))), lit(9L)).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("bin"))
  }

  private val q174Sql =
    """SELECT LEAST(CAST(FLOOR((o_totalprice - mn) * 10.0 / (mx - mn))
                AS BIGINT), 9) AS bin,
              COUNT(*) AS n_orders,
              MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
       FROM orders,
            (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
             FROM orders)
       GROUP BY bin ORDER BY bin"""

  /** q186: mergeable histogram-quantile partials — q177's
    * store-partials-not-raw pattern for QUANTILES: per-priority
    * (bin, count) histograms over `o_totalprice` in exact cents are
    * what each ingest batch persists; merging is integer count
    * addition (associative by construction), and any window's
    * p50/p90/p99 comes off the merged 64-bin histogram with error
    * bounded by one bin width — never a re-sort of raw data. The
    * type-1 quantile estimate (smallest bin whose cumulative count
    * reaches ⌈p·N/100⌉) and its ±bin-width bound are ALL integer
    * math on both engines. Two map-side-partial aggregates over the
    * fact table; everything after is 64-row arithmetic (the tiny
    * cumulative window mirrors q178). SketchMergeSpec pins the
    * estimator quality: the exact k-th smallest provably lies in the
    * hit bin, so est ≥ exact and est − exact < err_cents.
    */
  private def q186QuantilePartials(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sq = s
    import sq.implicits._
    val cents = Exact.fixed(col("o_totalprice"), 2)
    val stats = Tables(s, d, "orders").agg(
      min(cents).as("mn_c"), max(cents).as("mx_c"),
      count(lit(1)).as("n_total"))
    // per-priority partials: the batch-persisted object
    val partials = Tables(s, d, "orders")
      .crossJoin(broadcast(stats))
      .withColumn("c", cents)
      .withColumn("w", expr("(mx_c - mn_c + 64) div 64"))
      .withColumn("bin", expr("(c - mn_c) div w"))
      .groupBy(col("o_orderpriority"), col("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
    // merge = integer addition per bin; then the 64-row cumulative
    val merged = partials.groupBy(col("w"), col("bin"))
      .agg(sum(col("n")).as("n"))
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    Seq(50L, 90L, 99L).toDF("p")
      .crossJoin(broadcast(stats))
      .withColumn("k", expr("(p * n_total + 99) div 100"))
      .join(merged, col("cum") >= col("k"))
      .groupBy(col("p"), col("k"), col("n_total"), col("mn_c"),
        col("mx_c"))
      .agg(min(col("bin")).as("bin"), min(col("w")).as("w"))
      .select(col("p"), col("k"), col("n_total"), col("bin"),
        least(col("mn_c") + (col("bin") + 1L) * col("w") - 1L,
          col("mx_c")).as("est_cents"),
        col("w").as("err_cents"))
      .orderBy(col("p"))
  }

  private val q186Sql = {
    val cents = Exact.fixedSql("o_totalprice", 2)
    s"""WITH stats AS (SELECT MIN($cents) AS mn_c, MAX($cents) AS mx_c,
              CAST(count(*) AS BIGINT) AS n_total FROM orders),
       partials AS (
         SELECT o_orderpriority, (mx_c - mn_c + 64) // 64 AS w,
                ($cents - mn_c) // ((mx_c - mn_c + 64) // 64) AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM orders CROSS JOIN stats
         GROUP BY 1, 2, 3),
       merged AS (
         SELECT w, bin, CAST(SUM(n) AS BIGINT) AS n,
                CAST(SUM(SUM(n)) OVER (ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         FROM partials GROUP BY w, bin),
       ps AS (SELECT unnest([50, 90, 99]) AS p),
       ks AS (SELECT p, (p * n_total + 99) // 100 AS k, n_total
              FROM ps CROSS JOIN stats),
       hit AS (SELECT ks.p, ks.k, ks.n_total,
                      MIN(m.bin) AS bin, MIN(m.w) AS w
               FROM ks JOIN merged m ON m.cum >= ks.k
               GROUP BY ks.p, ks.k, ks.n_total)
       SELECT CAST(p AS BIGINT) AS p, hit.k, hit.n_total, hit.bin,
              LEAST(stats.mn_c + (hit.bin + 1) * hit.w - 1, stats.mx_c)
                AS est_cents,
              hit.w AS err_cents
       FROM hit CROSS JOIN stats ORDER BY p"""
  }

  /** q190: join-explosion pre-flight audit — the EXACT output
    * cardinality of a prospective self-join (here lineitem⋈lineitem
    * on l_partkey, the q7-style theta-join input) computed WITHOUT
    * running the join: Σ c(k)² over the per-key counts, plus the
    * top-5 heaviest keys and each key's pair contribution. This is
    * the skew check that decides between a plain shuffle join,
    * salting (q39), or a key blacklist BEFORE a 100 TB join
    * explodes an executor. One map-side-partial count per key, a
    * one-row broadcast total; top-5 via TakeOrderedAndProject.
    */
  private def q190JoinExplosion(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables(s, d, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .withColumn("c2", col("c") * col("c"))
    val tot = perKey.agg(sum(col("c2")).as("total_pairs"))
    perKey.crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("c"), col("c2"), col("total_pairs"))
      .orderBy(col("c").desc, col("l_partkey").asc)
      .limit(5)
  }

  private val q190Sql =
    """WITH per_key AS (
         SELECT l_partkey, CAST(count(*) AS BIGINT) AS c,
                CAST(count(*) AS BIGINT) * CAST(count(*) AS BIGINT) AS c2
         FROM lineitem GROUP BY l_partkey),
       tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS total_pairs FROM per_key)
       SELECT l_partkey, c, c2, total_pairs
       FROM per_key CROSS JOIN tot
       ORDER BY c DESC, l_partkey ASC LIMIT 5"""

  /** q176: revenue concentration (Gini coefficient) per market
    * segment — the inequality metric that tells a pipeline whether
    * volume (or, for corpora, a source mix) is dominated by a few
    * heavy keys. Closed form over the in-segment ascending rank:
    * G = (2·Σi·xᵢ)/(n·Σx) − (n+1)/n, with x in 2-dp fixed point and
    * the rank from a PARTITIONED window (orderkey tie-break) — so
    * both Σ terms are exact integers and the two final divisions are
    * the same IEEE ops on both engines. One per-segment sort + one
    * aggregate; the windows distribute across segments (never a
    * global sort). Σi·x stays < 2⁶³ up to ~10⁹ rows/segment at this
    * value scale — beyond that, rescale the fixed point first.
    */
  private def q176RevenueGini(s: SparkSession, d: String): DataFrame = {
    val xf = Exact.fixed(col("o_totalprice"), 2)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(s, d, "orders")
      .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(xf).as("s0"), sum(col("rn") * xf).as("s1"))
      .select(col("c_mktsegment"), col("n_orders"),
        round((col("s1").cast("double") * 2.0 /
          (col("n_orders") * col("s0")).cast("double")) -
          ((col("n_orders") + 1L).cast("double") /
            col("n_orders").cast("double")), 6).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  private val q176Sql = {
    val xf = Exact.fixedSql("o_totalprice", 2)
    s"""WITH ranked AS (
         SELECT c_mktsegment, $xf AS xf,
                CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
         FROM orders JOIN customer ON o_custkey = c_custkey),
       agg AS (
         SELECT c_mktsegment, COUNT(*) AS n_orders,
                SUM(xf) AS s0, SUM(rn * xf) AS s1
         FROM ranked GROUP BY c_mktsegment)
       SELECT c_mktsegment, n_orders,
              ROUND(CAST(s1 AS DOUBLE) * 2.0
                  / CAST(n_orders * s0 AS DOUBLE)
                - CAST(n_orders + 1 AS DOUBLE)
                  / CAST(n_orders AS DOUBLE), 6) AS gini
       FROM agg ORDER BY c_mktsegment"""
  }

  // ------------------------------------------------------------ wiring

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_winsorized_stats" -> q124WinsorizedStats,
    "q125_zorder_layout" -> q125ZorderLayout,
    "q134_k_anonymity" -> q134KAnonymity,
    "q135_decayed_engagement" -> q135DecayedEngagement,
    "q136_table_profile" -> q136TableProfile,
    "q137_skyline_parts" -> q137SkylineParts,
    "q140_bloom_join" -> q140BloomJoin,
    "q141_fuzzy_names" -> q141FuzzyNames,
    "q180_entity_clusters" -> q180EntityClusters,
    "q142_longest_streak" -> q142LongestStreak,
    "q143_association_rules" -> q143AssociationRules,
    "q145_rolling_active" -> q145RollingActive,
    "q146_exact_corr" -> q146ExactCorr,
    "q203_corr_matrix" -> q203CorrMatrix,
    "q147_exact_ols" -> q147ExactOls,
    "q162_scd2_history" -> q162Scd2History,
    "q233_scd2_sink_parity" -> q233Scd2SinkParity,
    "q164_pit_join" -> q164PointInTimeJoin,
    "q173_reconciliation" -> q173Reconciliation,
    "q174_value_histogram" -> q174ValueHistogram,
    "q186_quantile_partials" -> q186QuantilePartials,
    "q190_join_explosion" -> q190JoinExplosion,
    "q176_revenue_gini" -> q176RevenueGini)

  def oracle: Map[String, String] = Map(
    "q124_winsorized_stats" -> q124Sql,
    "q125_zorder_layout" -> q125Sql,
    "q134_k_anonymity" -> q134Sql,
    "q135_decayed_engagement" -> q135Sql,
    "q136_table_profile" -> q136Sql,
    "q137_skyline_parts" -> q137Sql,
    "q140_bloom_join" -> q140Sql,
    "q141_fuzzy_names" -> q141Sql,
    "q180_entity_clusters" -> q180Sql,
    "q142_longest_streak" -> q142Sql,
    "q143_association_rules" -> q143Sql,
    "q145_rolling_active" -> q145Sql,
    "q146_exact_corr" -> q146Sql,
    "q203_corr_matrix" -> q203Sql,
    "q147_exact_ols" -> q147Sql,
    "q162_scd2_history" -> q162Sql,
    "q233_scd2_sink_parity" -> q233Sql,
    "q164_pit_join" -> q164Sql,
    "q173_reconciliation" -> q173Sql,
    "q174_value_histogram" -> q174Sql,
    "q186_quantile_partials" -> q186Sql,
    "q190_join_explosion" -> q190Sql,
    "q176_revenue_gini" -> q176Sql)
}
