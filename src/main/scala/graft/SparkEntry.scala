package graft

import graft.core.CacheScope
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-domain packs (graft.queries.*); every
  * entry present in `oracleSql` is hash-checked against DuckDB on the
  * same parquet tables, the rest get a rows-only check.
  */
object SparkEntry {
  private val packs: Seq[QueryPack] =
    Seq(Relational, TextAnalytics, Dedup, Similarity, Events, Multimodal,
      Corpus, Profiling, Analytics, graft.ml.MlPacks)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. An entry
    * may cache frames while it builds (through [[CacheScope]]) and
    * never releases them itself: its caller drains the returned frame
    * first, then releases — [[run]] does both.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_.all).reduce(_ ++ _)

  /** The query runner: build query `name` over `sfDir`, apply `sink`
    * to it, then release every frame the build cached, on success and
    * on failure — so no query sees another query's cached state.
    */
  def run[A](spark: SparkSession, name: String, sfDir: String)
      (sink: DataFrame => A): A =
    CacheScope.scoped(sink(queries(name)(spark, sfDir)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    */
  def oracleSql: Map[String, String] =
    packs.map(_.oracle).reduce(_ ++ _)
}
