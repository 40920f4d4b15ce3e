package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.streaming.StreamingOps

/** The `stream_ingest` workload: `StreamingOps` operators over a file
  * feed of the staged events table, one micro-batch per copy of it
  * (the `StreamBench` shape). Each copy gets its own event ids and is
  * shifted past the previous one in event time, so the watermark
  * advances every batch and the operators' state is written every
  * batch.
  */
object Streams {
  /** Copies of the events table in the feed, one micro-batch each. */
  val Copies = 4

  /** An operator, its output mode, and its batch twin: `twin(streamed,
    * feed)` gives two frames that must hold the same rows, the first
    * derived from the streamed output, the second from the whole feed
    * read as a batch.
    */
  final case class Op(mode: String, build: DataFrame => DataFrame,
      twin: (DataFrame, DataFrame) => (DataFrame, DataFrame))

  val ops: Map[String, Op] = Map(
    // update mode re-emits a window whenever it grows, so the largest
    // count of each window is its final one
    "windowed_counts" -> Op("update", StreamingOps.windowedCounts(_),
      (got, feed) => (
        got.groupBy("window_start", "event_type")
          .agg(max("n_events").as("n_events")),
        StreamingOps.windowedCounts(feed)
          .select("window_start", "event_type", "n_events"))),
    "dedup_exact" -> Op("append",
      StreamingOps.dedupStream(_, Seq("event_id")),
      (got, feed) => (got.select("event_id"),
        feed.dropDuplicates("event_id").select("event_id"))))

  private def feedDir(work: String) = s"$work/feed"

  /** Writes the feed: `Copies` single-file copies of the events table,
    * stamped so the file source picks them up in copy order.
    */
  def stage(spark: SparkSession, data: String, work: String): Unit = {
    val feed = feedDir(work)
    val tmp = s"$work/feed-tmp"
    FileUtils.deleteDirectory(new File(feed))
    Files.createDirectories(Paths.get(feed))
    val events = Tables(spark, data, "events") // ts as LONG nanoseconds
    val Array(lo, hi) = events.agg(min("ts"), max("ts")).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val shiftNs = hi - lo + 2L * 3600L * 1000000000L
    val files = (0 until Copies).map { i =>
      val dir = s"$tmp/$i"
      events
        .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("ts", col("ts") + lit(i * shiftNs))
        .coalesce(1).write.parquet(dir)
      val part = new File(dir).listFiles().map(_.toPath)
        .filter(_.toString.endsWith(".parquet")).head
      val dst = Paths.get(feed, f"copy-$i%02d.parquet")
      Files.move(part, dst)
      new org.apache.hadoop.fs.Path(dst.toString)
    }
    FileUtils.deleteDirectory(new File(tmp))
    val fs = files.head.getFileSystem(spark.sessionState.newHadoopConf())
    StreamingOps.stampReplayOrder(fs, files)
  }

  private def start(spark: SparkSession, work: String, op: Op,
      sink: String, name: String): StreamingQuery =
    op.build(StreamingOps.readEventsStream(spark, feedDir(work),
      maxFilesPerTrigger = 1))
      .writeStream.format(sink).queryName(name)
      .option("checkpointLocation", s"$work/ckpt/$name")
      .outputMode(op.mode).start()

  /** One timed call: start the query (build), then process the whole
    * feed into the `noop` sink and stop (drain).
    */
  def run(spark: SparkSession, work: String, name: String,
      qid: String): Timing = {
    var buildS, drainS = 0.0
    try {
      val (q, b) = Clock(start(spark, work, ops(name), "noop", qid))
      buildS = b
      drainS = Clock(try q.processAllAvailable() finally q.stop())._2
      val progress = q.recentProgress.toSeq
      Timing(name, buildS, drainS, None,
        progress.map(_.batchDuration.toDouble),
        progress.map(_.numInputRows).sum)
    } catch {
      case e: Exception => Timing(name, buildS, drainS, Some(e.toString))
    } finally FileUtils.deleteQuietly(new File(s"$work/ckpt/$qid"))
  }

  /** A multiset fingerprint: the row count and the sum of the rows'
    * 31-bit hashes.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(col): _*),
        lit(1L << 31))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Untimed check of one operator: its streamed output, collected in a
    * memory sink, against its batch twin over the same feed. Returns an
    * error message, or None.
    */
  def check(spark: SparkSession, work: String, name: String)
      : Option[String] = {
    val table = s"check_$name"
    try {
      val op = ops(name)
      val q = start(spark, work, op, "memory", table)
      try q.processAllAvailable() finally q.stop()
      val raw = spark.read.parquet(feedDir(work))
      val feed = raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val (got, want) = op.twin(spark.table(table), feed)
      val (g, w) = (fingerprint(got), fingerprint(want))
      if (w._1 == 0) Some("batch twin is empty")
      else if (g == w) None
      else Some(s"streamed (rows, row-hash sum) $g != batch twin $w")
    } catch { case e: Exception => Some(e.toString) }
    finally {
      spark.catalog.dropTempView(table)
      FileUtils.deleteQuietly(new File(s"$work/ckpt/$table"))
    }
  }
}
