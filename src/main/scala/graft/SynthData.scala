package graft

import graft.core.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale factors the driver
  * does not ship (the sf1 scaling point): reproduces the SAME table
  * family, schemas, key domains, and distribution shapes as
  * `/root/testdata/sf*` (measured from sf0.1: uniform 30-word document
  * vocabulary + rare `dup` marker, unit-normalized 64-dim embeddings
  * with uniform 10-way labels, exponential(50) event values over a
  * 30-day µs-timestamp window, TPC-H-ish dims/facts with the exact
  * literal domains the query pack filters on — BUILDING segment,
  * Brand#0..24, O/P/F status, five order priorities, A/N/R return
  * flags, 1995–2001 day-granular dates).
  *
  * Everything is a pure expression of `spark.range(n)` ids hashed with
  * seeded xxhash64 — no driver loops, no RNG state, identical output
  * for a given (sf, seed) regardless of partitioning, and generation
  * itself distributes. This is a builder-side approximation of the
  * driver's generator (its code is not in the repo), NOT a bit-exact
  * clone: good for timing/scaling runs, not for oracle hash gates —
  * which is exactly how it is used (SCALING only).
  *
  * Usage: `runMain graft.SynthData <sf> <outDir> [arm] [tablesCsv]`;
  * row counts scale as lineitem=6M·sf, orders=1.5M·sf,
  * customer=150k·sf, part=200k·sf, supplier=10k·sf, events=1M·sf
  * (users 15k·sf), documents=max(500, 50k·sf),
  * embeddings=max(500, 20k·sf).
  *
  * `arm` selects the EMBEDDING corpus structure (round 11):
  *   - `uniform` (default) — isotropic unit Gaussians, the
  *     structureless adversarial floor. On these, ANN recall is
  *     information-theoretically ≈ the scanned fraction for ANY
  *     quantizer (every direction is equally likely, so no routing
  *     can know where the neighbors are) — the regime that pins the
  *     share-pinned probe rule.
  *   - `clustered` — a planted mixture of m = ⌈√n⌉ Gaussian centers:
  *     center = xxhash64-pick per vector, v = unit(center_dir +
  *     σ·noise) with σ = [[CLUSTER_SIGMA]] = 0.1 (⇒
  *     within-cluster cosine ≈ 1/(1+64σ²) ≈ 0.61 vs ≈0 across
  *     clusters). This is what real embedding corpora look like (IVF
  *     exists BECAUSE embeddings cluster), and it is the corpus on
  *     which a trained quantizer can be distinguished from a random
  *     partition — the recall gate's structure-exploitation pin and
  *     the √n-cell sizing's validation arm both run here. m ∝ √n
  *     keeps expected cluster size ∝ √n, the classic IVF regime.
  *
  * `tablesCsv` optionally restricts generation to a comma-set of
  * table names (the clustered companions only need `embeddings`).
  */
object SynthData {

  private val SEED = 42L

  /** Within-cluster noise scale of the `clustered` embedding arm. */
  private val CLUSTER_SIGMA = 0.1

  /** Deterministic uniform [0,1) from (tag, id). */
  private def u(tag: String, id: Column): Column =
    pmod(xxhash64(lit(SEED), lit(tag), id), lit(1000000000L))
      .cast("double") / 1e9

  /** Deterministic integer in [0, n) from (tag, id). */
  private def h(tag: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(SEED), lit(tag), id), lit(n))

  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(typedlit(values), (h(tag, id, values.size) + 1).cast("int"))

  /** Day-granular NTZ timestamp: base + (0..days) whole days. */
  private def dayTs(tag: String, id: Column, base: String,
      days: Long): Column =
    (to_timestamp(lit(base)).cast("long") + h(tag, id, days) * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SynthData <sf> <outDir> [uniform|clustered] [tablesCsv]")
    val sf = args(0).toDouble
    val out = args(1)
    val arm = args.lift(2).getOrElse("uniform")
    require(Set("uniform", "clustered")(arm), s"unknown arm $arm")
    val only: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local("graft-synthdata")

    def n(base: Long, floor: Long = 1): Long =
      math.max(floor, (base * sf).toLong)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nCust = n(150000)
    val nOrders = n(1500000)
    val nLine = n(6000000)
    val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = n(50000, 500)
    val nVecs = n(20000, 500)

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      if (only.forall(_.contains(name))) {
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$out/$name.parquet")
        println(s"[synth] wrote $name")
      }
    }

    // fixed names keyed by position — match the reference domain exactly
    val regions =
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedlit(regions), col("id").cast("int") + 1)
        .as("r_name")), "region", 1)

    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation", 1)

    write(spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("snat", col("id"), 25).cast("int").as("s_nationkey"),
      round(u("sbal", col("id")) * 11000 - 1000, 2).as("s_acctbal")),
      "supplier", 1)

    val colors = Seq("blue", "cold", "hot", "large", "red", "small",
      "green", "dark")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
      "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD")
    write(spark.range(nPart).select(col("id").as("p_partkey"),
      concat(pick("pcol", col("id"), colors), lit(" "),
        pick("pnoun", col("id"), nouns)).as("p_name"),
      concat(lit("Brand#"), h("pbrand", col("id"), 25)).as("p_brand"),
      pick("ptype", col("id"), types).as("p_type"),
      (h("psize", col("id"), 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10)
        .as("p_retailprice")), "part", math.max(1, (4 * sf).toInt))

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")
    write(spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cnat", col("id"), 25).cast("int").as("c_nationkey"),
      round(u("cbal", col("id")) * 11000 - 1000, 2).as("c_acctbal"),
      pick("cseg", col("id"), segments).as("c_mktsegment")),
      "customer", math.max(1, (4 * sf).toInt))

    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    write(spark.range(nOrders).select(col("id").as("o_orderkey"),
      h("ocust", col("id"), nCust).as("o_custkey"),
      pick("ostat", col("id"), Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", col("id")) * 499000, 2)
        .as("o_totalprice"),
      dayTs("odate", col("id"), "1995-01-01 00:00:00", 2405)
        .as("o_orderdate"),
      pick("oprio", col("id"), priorities).as("o_orderpriority")),
      "orders", math.max(1, (16 * sf).toInt))

    write(spark.range(nLine).select(col("id").as("__id"))
      .select(h("lord", col("__id"), nOrders).as("l_orderkey"),
        h("lpart", col("__id"), nPart).as("l_partkey"),
        h("lsupp", col("__id"), nSupp).as("l_suppkey"),
        (h("lnum", col("__id"), 7) + 1).cast("int").as("l_linenumber"),
        (h("lqty", col("__id"), 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u("lprice", col("__id")) * 104100, 2)
          .as("l_extendedprice"),
        (h("ldisc", col("__id"), 11).cast("double") / 100).as("l_discount"),
        (h("ltax", col("__id"), 9).cast("double") / 100).as("l_tax"),
        pick("lret", col("__id"), Seq("A", "N", "R")).as("l_returnflag"),
        pick("lls", col("__id"), Seq("O", "F")).as("l_linestatus"),
        dayTs("lship", col("__id"), "1995-01-02 00:00:00", 2499)
          .as("l_shipdate")), "lineitem", math.max(1, (32 * sf).toInt))

    // events: day-continuous µs timestamps over Jan 2024, ids in ts
    // order (the driver's layout), exponential(50) values, JSON props
    val rawEv = spark.range(nEvents).select(
      ((to_timestamp(lit("2024-01-01 00:00:00")).cast("double") +
        u("ets", col("id")) * 30 * 86400) * 1e6).cast("long").as("ts_us"),
      h("euser", col("id"), nUsers).as("user_id"),
      pick("etype", col("id"),
        Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u("eval", col("id")) * 0.99999), 2)
        .as("value"),
      format_string("{\"k\": %d}", h("ek", col("id"), 100)).as("props"))
    write(rawEv
      .withColumn("event_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts_us"))).cast("long") - 1)
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      "events", math.max(1, (8 * sf).toInt))

    // documents: uniform 30-word vocabulary, 10..100 words, exact-dup
    // and marked near-dup injections at the measured ~0.2%/1% rates
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window").filterNot(_ == "dup")
    def textFor(id: Column): Column = {
      val len = (h("dlen", id, 91) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(0), len - 1),
        j => element_at(typedlit(vocab),
          pmod(xxhash64(lit(SEED), lit("dword"), id, j),
            lit(vocab.size.toLong)).cast("int") + 1)))
    }
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    write(spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") % 499 === 7, textFor(col("id") - 1))
        .when(col("id") % 97 === 13,
          concat(textFor(col("id") - 7), lit(" dup dup dup dup dup")))
        .otherwise(textFor(col("id"))).as("text"),
      pick("dlang", col("id"), langs).as("lang"),
      concat(lit("src"), h("dsrc", col("id"), 20)).as("source"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars"),
      "documents", math.max(1, (4 * sf).toInt))

    // embeddings: unit-normalized 64-dim vectors, uniform 10-way
    // labels. Component source by arm:
    //   uniform   — isotropic gaussians (Box-Muller from hashed
    //               uniforms; matches the measured component stddev
    //               1/sqrt(64) and |v| = 1) — the structureless floor;
    //   clustered — planted mixture: unit center (of ⌈√n⌉ hashed
    //               Gaussian centers) + σ × the SAME per-vector noise
    //               the uniform arm ships, so the two arms differ by
    //               exactly the planted structure and nothing else.
    def gaussArr(tag: String, key: Column): Column =
      transform(sequence(lit(0), lit(63)), j => {
        val u1 = (pmod(xxhash64(lit(SEED), lit(tag + "1"), key, j),
          lit(999999989L)).cast("double") + 1) / 1e9
        val u2 = pmod(xxhash64(lit(SEED), lit(tag + "2"), key, j),
          lit(1000000000L)).cast("double") / 1e9
        sqrt(lit(-2.0) * log(u1)) * cos(lit(2 * math.Pi) * u2)
      })
    val gauss =
      if (arm == "uniform") gaussArr("eg", col("id"))
      else {
        val mCenters =
          math.max(4L, math.ceil(math.sqrt(nVecs.toDouble)).toLong)
        val cg = gaussArr("ecg", h("eclu", col("id"), mCenters))
        val cn = sqrt(aggregate(cg, lit(0.0d), (a, x) => a + x * x))
        zip_with(cg, gaussArr("eg", col("id")),
          (c, x) => c / cn + lit(CLUSTER_SIGMA) * x)
      }
    write(spark.range(nVecs).select(col("id").as("vec_id"),
      gauss.as("g"),
      h("elab", col("id"), 10).cast("int").as("label"))
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("g"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label")), "embeddings", 1)

    println(s"""{"synth": "$out", "sf": $sf, "lineitem": $nLine}""")
    spark.stop()
  }
}
