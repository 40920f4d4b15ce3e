package graft

import graft.core.{CacheScope, GraftSession}
import graft.queries._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-pack invariants on the sf0.001 tables (cheap, runs per build;
  * the DuckDB oracle gate at sf0.01 is the exactness check — these
  * specs assert semantic invariants the oracle can't express).
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)
  val sf = "/root/testdata/sf0.001"

  private def cacheManager = spark.sharedState.cacheManager

  /** Start a check from an empty cache and an empty scope. */
  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    CacheScope.release()
  }

  private def assertNothingCached(what: String): Unit = {
    assert(cacheManager.isEmpty, s"$what: left cached frames behind")
    assert(CacheScope.size === 0, s"$what: scope not released")
  }

  test("every query in every pack runs and returns a schema") {
    clearAll()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val schema = SparkEntry.run(spark, name, sf)(_.schema)
      assert(schema.nonEmpty, s"$name: empty schema")
      assertNothingCached(name)
    }
  }

  test("the runner releases pinned frames when the query fails") {
    clearAll()
    intercept[IllegalStateException] {
      CacheScope.scoped {
        CacheScope.pin(spark.range(10).toDF("id"))
        assert(!cacheManager.isEmpty)
        throw new IllegalStateException("build failed after a pin")
      }
    }
    assertNothingCached("failing build")
    // q241 pins its lifted frame while it builds; the sink then fails
    intercept[IllegalStateException] {
      SparkEntry.run(spark, "q241_pq_adc_recall", sf) { _ =>
        assert(CacheScope.size > 0, "q241 pins the lifted frame")
        throw new IllegalStateException("sink failed")
      }
    }
    assertNothingCached("q241 with a failing sink")
  }

  test("pack order does not change outputs of queries sharing frames") {
    // q50/q55 share the embeddings input, q53/q56 the ratings frame,
    // q227/q238/q241 the lifted e6 frame
    val names = Seq("q50_kmeans_clusters", "q55_kmeans_elbow",
      "q53_als_recommend", "q56_als_all_recommend", "q227_sq8_adc_recall",
      "q238_ivf_sq8_serving", "q241_pq_adc_recall")
    def pack(order: Seq[String]): Map[String, Seq[String]] =
      order.map { name =>
        name -> SparkEntry.run(spark, name, sf)(
          _.collect().map(_.toString).toSeq.sorted)
      }.toMap
    clearAll()
    val forward = pack(names)
    val reverse = pack(names.reverse)
    names.foreach { name =>
      assert(forward(name).nonEmpty, s"$name: no rows")
      assert(forward(name) === reverse(name), s"$name: order-dependent")
    }
    assertNothingCached("order check")
  }

  test("oracle keys all map to queries") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
      // a val interpolating a block declared later in its object reads
      // it as null: the oracle text then carries a bare `null`
      assert("""\bnull\b""".r.findFirstIn(sql).isEmpty,
        s"oracle $k interpolates an uninitialized block (bare null)")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q226 SQ8 error stays within the half-cell quantizer contract") {
    val rows = graft.queries.Similarity
      .all("q226_scalar_quantization")(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val rng = r.getAs[Long]("max_e6") - r.getAs[Long]("min_e6")
      val bound = (rng + 1) / 512 + 1
      assert(r.getAs[Long]("max_err_e6") <= bound,
        s"dim ${r.getAs[Long]("dim")}: max_err beyond half-cell bound")
      assert(r.getAs[Long]("n_codes") <= 256L)
    }
  }

  test("stream transitions parity gate equals the batch Markov matrix") {
    // the q232 gate replays events through flatMapGroupsWithState and
    // must land on exactly q148's matrix — row-for-row including the
    // double probabilities (same integer counts, same division)
    val streamed =
      Events.all("q232_stream_transitions_parity")(spark, sf).collect()
    val batch = Events.all("q148_markov_transitions")(spark, sf).collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("near-dup pipeline: jaccard>=0.8 pairs are a subset of LSH candidates") {
    val cands = Dedup.all("q28_lsh_band_pairs")(spark, sf)
      .select(col("d1"), col("d2"))
    val jac = Dedup.all("q31_ngram_jaccard")(spark, sf)
      .select(col("d1"), col("d2"))
    assert(jac.exceptAll(cands).count() === 0)
    assert(jac.count() > 0, "expected planted near-dups to be found")
  }

  test("simhash of near-identical docs is close in hamming space") {
    val sims = Dedup.all("q30_simhash_pairs")(spark, sf)
    assert(sims.filter(col("hamming") > 6).count() === 0)
  }

  test("langid confusion matrix covers every labeled language") {
    val m = TextAnalytics.all("q24_langid_confusion")(spark, sf)
    assert(m.select(col("lang")).distinct().count() === 5)
  }

  test("brute-force topk and LSH ANN agree where buckets align") {
    // LSH's best neighbor can never beat brute force rank-1 cosine.
    val bf = Similarity.all("q32_cosine_topk")(spark, sf)
      .filter(col("rnk") === 1)
      .select(col("qid"), col("cos").as("bf_cos"))
    val lsh = Similarity.all("q34_lsh_ann")(spark, sf)
      .select(col("qid"), col("cos").as("lsh_cos"))
    val joined = bf.join(lsh, "qid")
    assert(joined.filter(col("lsh_cos") > col("bf_cos")).count() === 0)
  }

  test("salted join is row-identical to the plain equi-join") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
      .select(col("o_orderkey"), col("c_name"))
    val salted = graft.ops.SkewOps
      .saltedInnerJoin(orders, customer, "o_custkey", salts = 7)
      .select(col("o_orderkey"), col("c_name"))
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("sessionization counts: sessions <= events per user") {
    val s = Events.all("q41_sessionization")(spark, sf)
    assert(s.filter(col("n_sessions") > col("n_events")).count() === 0)
    assert(s.filter(col("n_sessions") < 1).count() === 0)
  }
}
