package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive compute-spread trigger shared by the per-row chains
  * (CurationOps shingle/k-gram, SemanticOps banding, SelectionOps
  * greedy coverage, MlPacks q54's LSH transform).
  *
  * Round 13 probed `df.rdd.getNumPartitions`, which runs the full
  * physical planner over the un-spread query just to read one number —
  * the query is then planned a SECOND time when it actually executes.
  * Harmless at the gate SFs; at 100 TB a wide tree planned twice is
  * pure driver latency (round-13 verdict item 7). This probe decides
  * from the ANALYZED plan's leaf statistics instead: a file scan
  * produces ~bytes/maxPartitionBytes tasks, so an input whose total
  * leaf bytes sit below cores·maxPartitionBytes is exactly the one
  * that would scan with fewer tasks than the session has cores. No
  * optimizer or physical-planner pass runs, and the decision matches
  * the round-13 probe at both ends of the scale: tiny gate corpora
  * (single-row-group parquet, KB–MB) spread; a 100 TB scan is the
  * identity.
  */
object SpreadOps {

  /** Total size-in-bytes statistic over the analyzed plan's leaves —
    * file-source leaves report their file-footer byte size, local
    * relations their row-size estimate. Never triggers optimization
    * or physical planning.
    */
  def inputBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  /** True iff the leaf statistics predict a scan with fewer tasks
    * than the session's parallelism — the spread trigger.
    */
  def underParallel(df: DataFrame): Boolean = {
    val sess = df.sparkSession
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        sess.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    inputBytes(df) <
      BigInt(maxSplit) * sess.sparkContext.defaultParallelism
  }

  /** Hash-spread `df` by `id` when (and only when) its input stats
    * predict an under-parallel scan; identity at scale. Results are
    * partitioning-invariant for every caller (the repartition feeds
    * per-row projections and keyed aggregates only).
    *
    * The partition count is EXPLICIT (session parallelism): these
    * exchanges exist to spread CPU-heavy per-row chains whose input
    * BYTES are tiny (tokenize→shingle→md5 over a few MB), and
    * byte-proportional AQE sizing would fold them back to 1-3
    * partitions, which is wrong for compute-bound stages. The count
    * was made explicit in round 14 under the cached-plan AQE config
    * (q242 3.2 → 4.6 s when the coalesce undid the spread); that
    * config was reverted in `7a00d24`, and whether the count is still
    * needed without it is not yet measured. An explicit count is
    * exempt from AQE coalescing by contract, and it only ever applies
    * in the small-input regime this trigger gates on — at scale no
    * exchange exists at all.
    */
  def spread(df: DataFrame, id: Column): DataFrame =
    if (underParallel(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, id)
    else df
}
