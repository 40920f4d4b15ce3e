package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard knobs — the only place
  * a `SparkSession` is built, so every main, spec and benchmark runs
  * the same configuration.
  *
  * Design notes for cluster scale (tested on local[N], designed for 1000
  * executors):
  *   - AQE on: runtime shuffle-partition coalescing + skew-join splitting
  *     replace hand-tuned `repartition` calls.
  *   - `spark.sql.shuffle.partitions` sized to the local core count here;
  *     on a real cluster AQE's coalescing makes the initial number a cap,
  *     not a constant.
  *   - UTC session timezone so timestamp arithmetic matches the DuckDB
  *     oracle and is stable across machines.
  */
object GraftSession {
  /** Core count when none is passed: `SPARK_GRAFT_CPUS`, else the
    * host's available processors.
    */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(appName: String = "graft",
      cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4's default, pinned because it is load-bearing: the
      // Exact fixed-point contract relies on ANSI integer arithmetic
      // ERRORING on overflow instead of silently wrapping.
      .config("spark.sql.ansi.enabled", "true")
      // some testdata generations carry TIMESTAMP(NANOS), which Spark 4
      // rejects by default; this surfaces those as LONG nanoseconds.
      // Tables.normalizeEventTime canonicalizes the other generations
      // (TIMESTAMP(MICROS)/NTZ) to the same LONG-nanos representation.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // runtime bloom-filter join pruning, pinned on: when a join's
      // build side carries a selective filter, the optimizer injects a
      // bloom_filter_agg on it and a bloom_filter_might_contain
      // pre-filter on the probe-side SCAN, so a 100 TB fact table
      // drops non-matching rows at the scan instead of carrying them
      // to the shuffle. The default size thresholds (build ≤ 10 MB
      // creation cost, probe ≥ 10 GB scan) gate it to exactly the
      // big-probe/small-build joins where it pays; PlanSpec proves the
      // injection fires with the thresholds scaled to test data.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // dogfood the cartesian/nested-loop lint on every engine query
      .config("spark.graft.failOnCartesian", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
