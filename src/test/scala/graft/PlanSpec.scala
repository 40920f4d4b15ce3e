package graft

import graft.core.{CacheScope, GraftSession}
import graft.queries._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale properties the engine is designed
  * around are asserted here so a regression (lost pushdown, vanished
  * broadcast, windowed top-k degrading to a full sort) fails the build
  * — not just a benchmark.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)
  val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q3 star join broadcasts the nation dim (no shuffle for O(25) rows)") {
    val p = planOf(Relational.all("q3_revenue_by_nation")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = planOf(Relational.all("q1_pricing_summary")(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.contains("LessThanOrEqual(l_shipdate"), p.take(3000))
  }

  test("q1 scan prunes to only the referenced columns") {
    val p = planOf(Relational.all("q1_pricing_summary")(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan should not read unused columns: $readSchema")
  }

  test("q4 rank<=k plans as WindowGroupLimit (pre-shuffle per-group k-limit)") {
    val p = planOf(Relational.all("q4_top_orders_per_segment")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q14 global top-10 plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf(Relational.all("q14_shipping_priority")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q20 word count does map-side partial aggregation before the shuffle") {
    val p = planOf(TextAnalytics.all("q20_word_counts")(spark, sf))
    // partial HashAggregate → Exchange → final HashAggregate → top-k
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("hashpartitioning"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("dedup signatures compute without any shuffle") {
    val p = planOf(Dedup.all("q27_minhash_signatures")(spark, sf))
    // only the final presentation orderBy may exchange; no hash shuffle
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("text pipeline is UDF-free: one projection, no mid-plan shuffle") {
    val p = planOf(TextAnalytics.all("q22_token_stats")(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "text ops must stay native expressions")
    // only the presentation sort exchanges (rangepartitioning); the
    // scan→project pipeline itself is shuffle-free
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("q15 broadcasts both region and nation dims through the 6-way join") {
    val p = planOf(Relational.all("q15_local_supplier_volume")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q44 bucket averages plan with no Join (single grouped projection)") {
    val p = planOf(Events.all("q44_bucket_averages")(spark, sf))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q41 sessionization shuffles exactly once on user_id") {
    val p = planOf(Events.all("q41_sessionization")(spark, sf))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p.take(2000))
    // the groupBy after the window reuses the window's partitioning —
    // no second user_id exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(3000))
  }

  test("q33 near-dup is candidate-driven: no nested-loop join over the corpus") {
    val p = planOf(Similarity.all("q33_embedding_neardup")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q33 must pair via the (band,bkey) equi-join, not O(n^2):\n${p.take(2000)}")
  }

  test("q74 remove_others is a UDF-free scan-side projection (no join)") {
    val p = planOf(TextAnalytics.all("q74_remove_others")(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "vocab filter must be a literal in-plan expression")
    assert(!p.contains("Join"),
      s"the collected vocab is a plan literal, not a join:\n${p.take(1500)}")
  }

  test("q64 interval join plans as a binned equi-join, not a nested loop") {
    val p = planOf(Events.all("q64_interval_join")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range predicate must ride the (user, bin) hash key:\n${p.take(2000)}")
  }

  test("scalar expression pipelines compile to whole-stage codegen") {
    val df = Relational.all("q9_order_size_class")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val p = planOf(df)
    assert(p.contains("codegen id"), p.take(2000))
  }

  test("q77 contamination probes the benchmark via a hash join, not a " +
      "per-row array scan") {
    val p = planOf(Dedup.all("q77_contamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark lookup must be a broadcast hash join:\n${p.take(2000)}")
    assert(!p.contains("array_intersect"),
      "the per-row array_intersect form rescans the benchmark " +
        "array per document")
  }

  test("dedup signatures use the native codegen kernels") {
    val p = planOf(Dedup.all("q27_minhash_signatures")(spark, sf))
    assert(p.contains("graft_minhash_all"), p.take(2000))
    val p2 = planOf(Dedup.all("q29_simhash")(spark, sf))
    assert(p2.contains("graft_simhash"), p2.take(2000))
  }

  test("q83 hash split is a shuffle-free per-row projection") {
    // the presentation orderBy legitimately range-partitions; what must
    // never appear is a HASH shuffle (a groupBy/join sneaking in)
    val p = planOf(TextAnalytics.all("q83_hash_split")(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"split assignment must not hash-shuffle:\n${p.take(2000)}")
  }

  test("q96 explodes off the pinned segment arrays, not raw text") {
    // InferFiltersFromGenerate clones the generator input into a
    // pre-Generate filter; against raw text that re-runs the whole
    // tokenize+segment pipeline 2-3x per row (ENGINE.md note 14). The
    // explode must therefore read the cached relation.
    CacheScope.release()
    val p = planOf(Corpus.all("q96_line_dedup")(spark, sf))
    assert(p.contains("InMemoryTableScan"),
      s"segment explode must scan the pinned cache:\n${p.take(2000)}")
    CacheScope.release()
  }

  test("q97 per-source cap plans as WindowGroupLimit, q100 rank too") {
    val p97 = planOf(Corpus.all("q97_source_caps")(spark, sf))
    assert(p97.contains("WindowGroupLimit"), p97.take(2000))
    val p100 = planOf(Corpus.all("q100_tfidf_keywords")(spark, sf))
    assert(p100.contains("WindowGroupLimit"), p100.take(2000))
    assert(p100.contains("BroadcastHashJoin"), p100.take(2000))
  }

  test("q99 context chunking has no hash shuffle (per-row until the sort)") {
    val p = planOf(Corpus.all("q99_context_chunks")(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must stay per-row:\n${p.take(2000)}")
  }

  test("bloom probe is a scan-side filter: no join on the definitely-new path") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(spark, sf, "documents")
      .select(md5(col("text")).as("h"))
    val bitmap = graft.ops.BloomOps.build(docs.limit(100), "h", 1 << 14, 3)
    val probe = docs
      .filter(!graft.ops.BloomOps.mightContain(bitmap, col("h"), 1 << 14, 3))
    val p = planOf(probe)
    assert(!p.contains("Join"),
      s"the clear path must be join-free:\n${p.take(2000)}")
    probe.collect()
    val done = planOf(probe)
    assert(done.contains("codegen id"),
      s"bloom probe must stay inside whole-stage codegen:\n${done.take(2000)}")
  }

  test("q118 recounts only sketch candidates: isin filter precedes the agg") {
    val p = planOf(TextAnalytics.all("q118_frequent_tokens")(spark, sf))
    // the candidate prune must appear as a Filter below HashAggregate,
    // so the groupBy shuffles <= 1/support words, not the vocabulary
    val aggIdx = p.indexOf("HashAggregate")
    val filtIdx = p.indexOf("Filter")
    assert(aggIdx >= 0 && filtIdx >= 0,
      s"expected Filter + HashAggregate:\n${p.take(2000)}")
    assert(p.contains("INSET") || p.contains("isin") || p.contains(" IN ("),
      s"candidate membership prune missing:\n${p.take(2000)}")
  }

  test("q116 referential checks probe broadcast-sized parent key sets") {
    val p = planOf(Relational.all("q116_data_checks")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"FK probes should broadcast the distinct parent keys:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "no check may go quadratic")
  }

  test("q122 gopher rules stay a single map-only pass before the order") {
    val p = planOf(Profiling.all("q122_gopher_rules")(spark, sf))
    // per-row flags: no hash shuffle, no join — just scan → project →
    // the presentation sort
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q123 collocations broadcast the vocabulary-sized unigram table") {
    val p = planOf(Profiling.all("q123_collocations")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q133 distinctive tokens broadcast totals; per-source top-5 is group-limited") {
    val p = planOf(Profiling.all("q133_distinctive_tokens")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q137 skyline prunes in a partitioned window before the global one") {
    val p = planOf(Analytics.all("q137_skyline_parts")(spark, sf))
    // phase 1 must keep a hash-partitioned window (parallel local
    // prune); only the survivor pass may single-partition
    assert(p.contains("hashpartitioning(bucket"), p.take(3000))
  }

  test("q130 cohort retention broadcasts the user-cohort dimension") {
    val p = planOf(Events.all("q130_cohort_retention")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q140 bloom probe is a scan-side filter feeding a broadcast join") {
    val p = planOf(Analytics.all("q140_bloom_join")(spark, sf))
    // the only join is the real broadcast one; the bloom test is a
    // Filter below the fact scan, never a shuffle/merge join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bloom prefilter must not introduce a second join:\n${p.take(3000)}")
    assert(p.contains("Filter"), p.take(3000))
  }

  test("q160 EXISTS/NOT EXISTS decorrelate to hash semi/anti joins") {
    val p = planOf(Relational.all("q160_supplier_waiting")(spark, sf))
    // Catalyst's RewritePredicateSubquery must turn both correlated
    // subqueries into orderkey-hashed semi/anti joins — a leftover
    // nested loop here would be O(|lineitem|²) at scale
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"subqueries must not plan as nested loops:\n${p.take(4000)}")
  }

  test("q213 EXISTS plans as one semi join — lineitem never widens orders") {
    val p = planOf(Relational.all("q213_priority_exists_count")(spark, sf))
    assert(p.contains("LeftSemi"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the date residual must ride the orderkey equi-join:\n${p.take(4000)}")
  }

  test("q217 top-20 customers plans as TakeOrderedAndProject, not a sort") {
    val p = planOf(Relational.all("q217_returned_items")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // returnflag filter must reach the lineitem parquet scan
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(l_returnflag,R)"), p.take(4000))
  }

  test("q237 shipping priority: TakeOrderedAndProject on the computed " +
      "revenue, broadcast semi on customer, no global sort") {
    val p = planOf(Relational.all("q237_shipping_priority")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    // the top-10 must NOT plan as a global Sort + Limit
    assert(!p.contains("Exchange rangepartitioning"), p.take(4000))
    // the segment's customers reduce orders via a broadcast semi join
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(4000))
    // both fact date filters reach their parquet scans
    assert(p.contains("PushedFilters"), p.take(4000))
  }

  test("q222 NOT-IN excluded suppliers plan as a broadcast anti join") {
    val p = planOf(Relational.all("q222_part_supplier_counts")(spark, sf))
    assert(p.contains("LeftAnti"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(4000))
  }

  test("q220 outer-join distribution keeps zero-order customers cheaply") {
    val p = planOf(
      Relational.all("q220_customer_order_distribution")(spark, sf))
    // LeftOuter join + two aggregations; the priority filter must reach
    // the orders scan (ON-clause pushdown), never the outer side
    assert(p.contains("LeftOuter"), p.take(4000))
    assert(p.contains("Not(EqualTo(o_orderpriority,5-LOW))"), p.take(4000))
  }

  test("q225 pushes the full conjunctive filter into the parquet scan") {
    val p = planOf(Relational.all("q225_forecast_revenue")(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThan(l_quantity,24.0)"), p.take(4000))
    assert(!p.contains("Join"), s"Q6 shape must not join:\n${p.take(2000)}")
  }

  test("q158 correlated scalar subquery rides one partkey window, no self-join") {
    val p = planOf(Relational.all("q158_small_qty_revenue")(spark, sf))
    // decorrelated-by-window: the per-part avg must NOT re-aggregate
    // and re-join the fact table — one broadcast (brand dim) join only
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q158 must not self-join the fact table:\n${p.take(4000)}")
  }

  test("q162 SCD2 merge joins current-vs-snapshot once, full outer") {
    val p = planOf(Analytics.all("q162_scd2_history")(spark, sf))
    assert(p.contains("FullOuter"), p.take(3000))
  }

  test("q163 weighted sample is a shuffle-free per-row admission test") {
    val p = planOf(TextAnalytics.all("q163_weighted_sample")(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"admission must not shuffle:\n${p.take(3000)}")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    // The runtime half of partition pruning: the dim-side filter is
    // only known at execution, so Catalyst injects a DPP subquery
    // that prunes the fact's col=value partitions before the scan —
    // at 100 TB the difference between reading one status partition
    // and all of them. Static pruning (PartitionFilters from literal
    // predicates) is covered in SourcesSpec.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    graft.sources.Sources.writePartitionedParquet(
      graft.core.Tables(spark, sf, "orders"), dir, Seq("o_orderstatus"))
    val fact = spark.read.parquet(dir)
    // the dim filter must be on an AGGREGATE (not the join key) so the
    // surviving key set is only known at runtime — a literal key filter
    // would be statically propagated into PartitionFilters instead
    // (also a pruning win, asserted implicitly by its absence here)
    val dim = graft.core.Tables(spark, sf, "orders")
      .groupBy(col("o_orderstatus").as("d_status"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 100L)
    // broadcast the dim: DPP's default reuseBroadcastOnly mode prunes
    // by reusing the dim's broadcast exchange as the subquery
    val joined = fact
      .join(broadcast(dim), col("o_orderstatus") === col("d_status"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val p = planOf(joined)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP subquery on the partition column:\n${p.take(4000)}")
  }

  test("q172 exact-k sample plans as WindowGroupLimit per source") {
    val p = planOf(TextAnalytics.all("q172_reservoir_per_source")(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q142 streak windows stay partitioned by user (no global window)") {
    val p = planOf(Analytics.all("q142_longest_streak")(spark, sf))
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    assert(!p.contains("SinglePartition, Window") &&
      !p.contains("Exchange SinglePartition\n   +- Window"),
      s"streak window must not single-partition:\n${p.take(3000)}")
  }

  test("q188 pushes per-side Or-filters of the cross-join disjunction") {
    val p = planOf(Relational.all("q188_disjunctive_revenue")(spark, sf))
    // part side: (brand,size) OR-combination reaches the scan
    assert("PushedFilters: \\[[^\\]]*Or".r.findAllIn(p).size >= 2,
      s"both scans must carry a pushed Or filter:\n${p.take(4000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bucketed tables sort-merge join with no exchange and no sort") {
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force SMJ so the bucketing (not a broadcast) carries the join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one file per bucket (writeBucketed repartitions to guarantee
      // it) + this flag lets the scan advertise the sortBy ordering,
      // eliding the per-side SMJ sorts as well as the exchanges
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val items = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      graft.sources.Sources.writeBucketed(
        orders, "bkt_orders", "o_orderkey", 8)
      graft.sources.Sources.writeBucketed(
        items.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bkt_lineitem", "o_orderkey", 8)
      val joined = spark.table("bkt_orders")
        .join(spark.table("bkt_lineitem"), "o_orderkey")
      val p = planOf(joined)
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n${p.take(3000)}")
      assert(!p.contains(" Sort "),
        s"bucket sortBy must satisfy the SMJ ordering (no Sort node):\n${
          p.take(3000)}")
      // the layout must also be CORRECT, not just exchange-free
      val n = joined.count()
      val expect = items.count()
      assert(n === expect, s"bucketed join row count $n != $expect")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("q206 capped pairing joins on uniform keys — no nested loop, " +
    "no cartesian") {
    val p = planOf(Dedup.all("q206_capped_candidates")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    CacheScope.release()
  }

  test("q207 capped incremental probes via semi-join + equi-joins only") {
    val p = planOf(Dedup.all("q207_capped_incremental")(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    CacheScope.release()
  }

  test("q209 semantic best-of-cluster windows stay cluster-partitioned " +
    "(no single-partition window, no nested loop)") {
    // the cluster_size count window rides the same partitioning as the
    // rank window, so WindowGroupLimit can't fire — but nothing may
    // collapse to one partition and no join may degrade to a loop
    val p = planOf(
      Similarity.all("q209_semantic_best_of_cluster")(spark, sf))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    CacheScope.release()
    graft.ops.ArtifactStore.clear()
  }

  test("selective build-side filter injects a runtime bloom filter " +
    "on the probe-side scan (thresholds scaled to test data)") {
    import org.apache.spark.sql.functions._
    // The production thresholds (build ≤ 10 MB, probe scan ≥ 10 GB)
    // target exactly the 100 TB fact ⋈ filtered dim shape; test data
    // is below both, so scale them to the fixture and pin that the
    // injection FIRES: bloom_filter_agg over the filtered build side's
    // join keys, might_contain guarding the probe scan. Broadcast is
    // disabled because a broadcast-hash join already prunes at the
    // probe via its hash relation — the bloom path is the
    // shuffle-join (too-big-to-broadcast) case.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), "-1")
      val line = spark.read.parquet(s"$sf/lineitem.parquet")
      val urgent = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = line.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("qty"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), opt.take(3000))
      assert(opt.contains("bloom_filter_agg"), opt.take(3000))
      // and the result is identical with the filter injected vs not
      val withBloom = j.collect().map(_.toString).sorted.toSeq
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without =
        try j.collect().map(_.toString).sorted.toSeq
        finally spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(withBloom == without)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
