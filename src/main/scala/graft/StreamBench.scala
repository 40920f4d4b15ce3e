package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.streaming.{StreamEvent, StreamingOps}

/** Structured-streaming throughput benchmark: drive the stateful
  * streaming operators (windowed aggregation, watermark-bounded exact
  * dedup, near-dup signature filter, session windows, transition
  * mining) through a multi-micro-batch file feed and report rows/sec —
  * the measured half of the streaming story, complementing
  * StreamingSpec's semantic gates (late data, replay, parity with the
  * batch twins) and the q204 driver gate.
  *
  * Feed: the sf events table replicated [[COPIES]]× into separate
  * parquet files (event ids disambiguated per copy), streamed with
  * `maxFilesPerTrigger=1` so each copy is its own micro-batch — the
  * steady-state shape of a directory-feed ingest, state carried across
  * batches. Sink is `noop`: every output row is materialized, nothing
  * is collected.
  *
  * One JSON document (stdout + file):
  *   {"rows":N,"batches":K,"ops":{"windowed_counts":{"sec":…,
  *    "rows_per_sec":…},…}}
  * Run: `sbt "runMain graft.StreamBench [outFile]"` (default
  * STREAMBENCH_LOCAL.json); source dir via SPARK_GRAFT_SF_DIR (default
  * sf0.1).
  */
object StreamBench {
  /** Copies of the events table in the feed, one micro-batch each. */
  private val COPIES = 8

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("STREAMBENCH_LOCAL.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-streambench")
    import spark.implicits._

    val work = Files.createTempDirectory("graft-streambench").toString
    val feed = s"$work/feed"
    // one file per copy ⇒ one micro-batch per copy under
    // maxFilesPerTrigger=1; event ids disambiguated so the exact-dedup
    // op sees unique keys (its cost is state maintenance, not drops)
    val events = graft.core.Tables(spark, sfDir, "events")
    val nBase = events.count()
    // each copy advances event time by the table's span + 2h so the
    // feed models a continuously advancing stream (watermark moves
    // forward every batch; replay robustness is spec-pinned instead)
    val Array(tsMin, tsMax) = events
      .agg(min(col("ts")), max(col("ts"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val spanNs = tsMax - tsMin + 2L * 3600L * 1000000000L
    (0 until COPIES).foreach { i =>
      events
        .withColumn("event_id",
          col("event_id") + lit(i.toLong * 1000000000L))
        .withColumn("ts", col("ts") + lit(i * spanNs))
        .coalesce(1)
        .write.mode("append").parquet(feed)
    }
    val total = nBase * COPIES

    def toStreamEvents(df: DataFrame) =
      df.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[StreamEvent]

    def run(name: String, mode: String = "append")(
        build: DataFrame => DataFrame): (String, Double) = {
      val src = StreamingOps.readEventsStream(spark, feed,
        maxFilesPerTrigger = 1)
      val t0 = System.nanoTime()
      val q = build(src).writeStream
        .format("noop")
        .option("checkpointLocation", s"$work/ckpt_$name")
        .outputMode(mode)
        .start()
      q.processAllAvailable()
      q.stop()
      (name, (System.nanoTime() - t0) / 1e9)
    }

    val results = Seq(
      run("windowed_counts")(s => StreamingOps.windowedCounts(s)),
      run("dedup_exact")(s =>
        StreamingOps.dedupStream(s, Seq("event_id"))),
      run("sessionize")(s =>
        StreamingOps.sessionize(toStreamEvents(s)).toDF()),
      run("transitions")(s =>
        StreamingOps.transitionsStream(toStreamEvents(s)).toDF()),
      // bounded-state sketch: 64 registers/type forever, the contrast
      // to dedup_exact's per-key state
      run("hll_registers", mode = "complete")(s =>
        StreamingOps.hllRegistersStream(s, "event_type", "user_id", 64)))

    def f(d: Double) = f"$d%.3f"
    val ops = results.map { case (n, sec) =>
      s""""$n":{"sec":${f(sec)},"rows_per_sec":${(total / sec).toLong}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"rows":$total,"batches":$COPIES,"sf":"$sfDir","ops":$ops}"""
    println(json)
    Files.write(Paths.get(outFile), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
