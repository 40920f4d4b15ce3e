package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

object Inputs {
  /** The repeated part of set-up: one small job, every staged table
    * resolved (file listing, parquet footer, schema) and, for a stream
    * workload, its micro-batch feed written.
    */
  def open(spark: SparkSession, data: String, work: String,
      stream: Boolean): Unit = {
    noop(spark.range(1000000L).selectExpr("sum(id)"))
    Tables.all.foreach(t => Tables(spark, data, t).schema)
    if (stream) Streams.stage(spark, data, work)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
