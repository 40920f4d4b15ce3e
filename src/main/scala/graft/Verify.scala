package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); the driver leaves
    // it unset → all queries run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // machine-readable failure markers: any consumer of the output
    // dir (not just a driver that counts per-query outputs) must see
    // a red state — each failed query leaves <name>._ERROR with the
    // message, and verify_errors.json summarizes the run
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def markError(name: String, msg: String): Unit = {
      errors(name) = msg
      Files.writeString(Paths.get(s"$outDir/$name._ERROR"), msg)
    }
    // stale markers from a previous run into the same dir must not
    // shadow a now-green query
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith("._ERROR")).foreach(_.delete())
    SparkEntry.queries.keys
      .filter(name => only.forall(_.contains(name)))
      .foreach { name =>
      try {
        SparkEntry.run(spark, name, sfDir)(_.coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name"))
        // ENFORCED self-verdicts: a query without a DuckDB mirror
        // (rows-only driver check) must carry a `verdict` column and
        // every row must be 1 — otherwise its output is REMOVED so
        // the driver's gate records a red error row instead of a
        // green-looking rows-only count.
        if (!SparkEntry.oracleSql.contains(name)) {
          import org.apache.spark.sql.functions.{col, lit, not}
          val back = spark.read.parquet(s"$outDir/$name")
          // null-SAFE comparison: a NULL verdict (e.g. an upstream
          // decode failure nulling the contract inputs) must count as
          // flipped, not silently filter out; an EMPTY output is
          // equally a failed contract
          val flipped =
            if (!back.columns.contains("verdict")) -1L
            else if (back.isEmpty) -2L
            else back.filter(not(col("verdict").eqNullSafe(lit(1))))
              .count()
          if (flipped != 0L) {
            val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
            out.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(out, true)
            sys.error(flipped match {
              case -1 => "rows-only query lacks a verdict column"
              case -2 => "rows-only query returned no rows"
              case n => s"$n rows with verdict != 1"
            })
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        markError(name, Option(e.getMessage).getOrElse(e.toString))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the run-level red/green summary beside the per-query _ERROR
    // markers (empty object = all attempted queries produced output)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
