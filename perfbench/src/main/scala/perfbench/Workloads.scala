package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One query call, split at the layer boundary: `build` is the engine's
  * query-builder call (which may run eager jobs of its own: pins, Lloyd
  * rounds, artifact writes), `drain` executes the returned plan. For a
  * stream operator, `build` starts the streaming query and `drain`
  * processes the whole feed and stops it; `batchesMs` and `rows` are its
  * micro-batch durations and input rows.
  */
final case class Timing(name: String, buildS: Double, drainS: Double,
    error: Option[String], batchesMs: Seq[Double] = Nil, rows: Long = 0L) {
  def totalS: Double = buildS + drainS
}

private object Clock {
  def apply[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** The calls a workload is made of: `SparkEntry` queries, or the
  * `StreamingOps` operators of [[Streams]].
  */
object Workloads {
  def isStream(names: Seq[String]): Boolean =
    names.nonEmpty && names.forall(Streams.ops.contains)

  /** One timed call. A batch query is built, then drained to the `noop`
    * sink; `qid` names a streaming query so its progress can be told
    * apart in the trace.
    */
  def run(spark: SparkSession, data: String, work: String, name: String,
      qid: String): Timing =
    if (Streams.ops.contains(name)) Streams.run(spark, work, name, qid)
    else {
      var buildS, drainS = 0.0
      try {
        val (df, b) = Clock(SparkEntry.queries(name)(spark, data))
        buildS = b
        drainS = Clock(Inputs.noop(df))._2
        Timing(name, buildS, drainS, None)
      } catch {
        case e: Exception => Timing(name, buildS, drainS, Some(e.toString))
      }
    }
}
