package graft

import graft.core.{CacheScope, Exact, GraftSession}
import graft.ops.{StatsOps, TopKOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5.3) — ScalaCheck generators with
  * a fixed seed (reproducible), asserted through real Spark plans.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  // money-like fixed-decimal doubles
  private val moneyList: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-99999L, 99999L).map(_ / 100.0))

  test("Exact.sumFixed is invariant under permutation and partitioning") {
    val sq = spark
    import sq.implicits._
    samples(moneyList, 12).foreach { xs =>
      val results = Seq(xs, scala.util.Random.shuffle(xs)).flatMap { ys =>
        Seq(1, 3, 7).map { parts =>
          ys.toDF("x").repartition(parts)
            .agg(Exact.sumFixed(col("x"), 2)).head().getDouble(0)
        }
      }
      assert(results.distinct.size === 1,
        s"sumFixed varied across layouts for $xs: $results")
    }
  }

  test("sq8 honors the half-cell error bound and code range on random vectors") {
    import graft.ops.VectorOps
    val sq = spark
    import sq.implicits._
    // float-ish values across wildly different per-dim scales,
    // including constant dims (range 0 → every code 0, recon exact-ish)
    val vecGen: Gen[List[Float]] = Gen.listOfN(8,
      Gen.chooseNum(-2000000L, 2000000L).map(_ / 1000000.0f))
    val vecs = samples(vecGen, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v) } :+
      (999L, List.fill(8)(0.5f)) // constant-dim contributor
    val df = vecs.toDF("vec_id", "embedding")
    val out = VectorOps.sq8(VectorOps.liftE6(df, "vec_id", "embedding"))
      .select(col("rng"), col("code"),
        abs(col("x") - col("recon")).as("err")).collect()
    out.foreach { r =>
      val rng = r.getAs[Long]("rng"); val code = r.getAs[Long]("code")
      assert(code >= 0L && code <= 255L, s"code $code out of uint8 range")
      assert(r.getAs[Long]("err") <= (rng + 1) / 512 + 1,
        s"err beyond half-cell for rng=$rng")
    }
  }

  test("min-max normalization lands in [0,1] with both endpoints hit") {
    val sq = spark
    import sq.implicits._
    samples(moneyList.suchThat(_.distinct.size > 1), 8).foreach { xs =>
      val mm = StatsOps
        .minMaxNormalize(xs.toDF("x"), "x", "n")
        .agg(min(col("n")), max(col("n"))).head()
      assert(mm.getDouble(0) === 0.0 && mm.getDouble(1) === 1.0, s"for $xs")
    }
  }

  test("word-count totals are invariant under repartitioning") {
    val sq = spark
    import sq.implicits._
    val words = Gen.nonEmptyListOf(Gen.oneOf("a", "bb", "ccc", "dd", "e"))
    samples(words, 8).foreach { ws =>
      val counts = Seq(1, 5).map { parts =>
        ws.toDF("w").repartition(parts)
          .groupBy(col("w")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(counts(0) === counts(1), s"for $ws")
      assert(counts(0).values.sum === ws.size.toLong)
    }
  }

  test("lshBandKeys: equal vectors collide in every band, keys stay in range") {
    val sq = spark
    import sq.implicits._
    val dim = 16
    val vec: Gen[List[Double]] =
      Gen.listOfN(dim, Gen.chooseNum(-1000, 1000).map(_ / 250.0))
    samples(vec, 8).foreach { v =>
      val df = Seq(("a", v.toArray), ("b", v.toArray)).toDF("id", "v")
        .select(col("id"),
          graft.ops.VectorOps.lshBandKeys(col("v"), dim, 4, 4).as("bks"))
      val rows = df.collect().map(r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(b => (b.getLong(0), b.getLong(1))))
      val (a, b) = (rows(0)._2, rows(1)._2)
      assert(a === b, "identical vectors must produce identical band keys")
      assert(a.map(_._1) === Seq(0L, 1L, 2L, 3L), "one key per band, in order")
      assert(a.forall { case (_, k) => k >= 0L && k < 16L },
        s"4-bit band keys must be in [0,16): $a")
    }
  }

  test("native md5-prefix hash is bit-identical to the conv-based reference") {
    val sq = spark
    import sq.implicits._
    val strs = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const(""), Gen.const("héllo wörld 你好"),
      Gen.asciiPrintableStr))
    val inputs = samples(strs, 6).flatten.distinct
    val df = inputs.toDF("s")
    val rows = df.select(
      graft.ops.TextOps.tokenHash(col("s")).as("fast"),
      graft.ops.TextOps.tokenHashReference(col("s")).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(rows.nonEmpty)
  }

  test("graft_nfc matches java.text.Normalizer on adversarial inputs") {
    val sq = spark
    import sq.implicits._
    val cases = Seq(
      "plain ascii text",
      "", // empty
      "e\u0301", // decomposed acute, must compose to U+00E9
      "\u00e9", // already composed - fast path returns it unchanged
      "mixed e\u0301 and \u00e9 in one string",
      "\ud83d\ude00 non-BMP then d\u0307\u0323 reorders to d\u0323\u0307",
      "A\u0300\u0316 multi-combining")
    val got = cases.toDF("s")
      .selectExpr("graft_nfc(s) AS n").as[String].collect()
    val want = cases.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq === want,
      "codegen'd NFC must equal the JDK reference on every case")
    // null-safety via the UnaryExpression null contract
    val nulls = Seq[Option[String]](None, Some("é")).toDF("s")
      .selectExpr("graft_nfc(s) AS n").collect().map(_.isNullAt(0))
    assert(nulls.toSeq === Seq(true, false))
  }

  test("minhashAll equals the K independent minhash expressions") {
    val sq = spark
    import sq.implicits._
    // the per-i form is the reference (it mirrors minhashSql); the
    // native kernel AND the one-pass HOF accumulator must both stay
    // bit-identical to it
    val hashes = Gen.listOf(Gen.chooseNum(0L, graft.ops.DedupOps.P - 1))
    samples(hashes, 10).foreach { hs =>
      val df = Seq(Tuple1(hs.toArray)).toDF("hs")
      val sep = df.select((0 until 8)
        .map(i => graft.ops.DedupOps.minhash(col("hs"), i)): _*)
        .head().toSeq
      val all = df.select(graft.ops.DedupOps.minhashAll(col("hs")))
        .head().getSeq[Long](0)
      val fold = df.select(graft.ops.DedupOps.minhashAllFold(col("hs")))
        .head().getSeq[Long](0)
      assert(all.toSeq === sep, s"for $hs")
      assert(fold.toSeq === sep, s"for $hs")
    }
  }

  test("native simhash equals the HOF fold reference") {
    val sq = spark
    import sq.implicits._
    val hashes = Gen.listOf(Gen.chooseNum(0L, graft.ops.DedupOps.P - 1))
    samples(hashes, 12).foreach { hs =>
      val df = Seq(Tuple1(hs.toArray)).toDF("hs")
      val native = df.select(graft.ops.DedupOps.simhash(col("hs")))
        .head().getLong(0)
      val fold = df.select(graft.ops.DedupOps.simhashFold(col("hs")))
        .head().getLong(0)
      assert(native === fold, s"for $hs")
    }
  }

  test("signature kernels honor the fold null contract on null elements") {
    val sq = spark
    import sq.implicits._
    // a null ELEMENT: minhash skips it (least(acc, null) == acc);
    // simhash zeroes the whole signature (poisoned fold accumulator)
    val withNull = Seq(Tuple1(Array[java.lang.Long](3L, null, 5L))).toDF("hs")
    val nat = withNull.select(
      graft.ops.DedupOps.simhash(col("hs")),
      graft.ops.DedupOps.minhashAll(col("hs"))).head()
    val ref = withNull.select(
      graft.ops.DedupOps.simhashFold(col("hs")),
      graft.ops.DedupOps.minhashAllFold(col("hs"))).head()
    assert(nat.getLong(0) === ref.getLong(0))
    assert(nat.getLong(0) === 0L)
    assert(nat.getSeq[Long](1) === ref.getSeq[Long](1))
    // null ARRAY → null for every form
    val nullArr = Seq(Tuple1(null: Array[java.lang.Long])).toDF("hs")
    val r = nullArr.select(
      graft.ops.DedupOps.simhash(col("hs")),
      graft.ops.DedupOps.minhashAll(col("hs"))).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("signature kernels: codegen and interpreted paths agree") {
    val sq = spark
    import sq.implicits._
    // single-row eval through head() exercises one path; a filter over
    // many rows goes through whole-stage codegen — compare a digest of
    // both expressions computed over a wider frame for good measure
    val rows = (0 until 200).map { i =>
      Tuple1((0 until i % 17).map(j => (i * 31L + j * 7L) % graft.ops.DedupOps.P).toArray)
    }
    val df = rows.toDF("hs")
    val agg = df.select(
      sum(graft.ops.DedupOps.simhash(col("hs"))).as("s1"),
      sum(graft.ops.DedupOps.simhashFold(col("hs"))).as("s2"),
      sum(element_at(graft.ops.DedupOps.minhashAll(col("hs")), 1)).as("m1"),
      sum(element_at(graft.ops.DedupOps.minhashAllFold(col("hs")), 1)).as("m2"))
      .head()
    assert(agg.getLong(0) === agg.getLong(1))
    assert(agg.getLong(2) === agg.getLong(3))
  }

  test("removeOthers keeps only vocab tokens, preserving order and duplicates") {
    val sq = spark
    import sq.implicits._
    val vocab = Seq("alpha", "beta", "gamma")
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "longword")
    val text = Gen.nonEmptyListOf(word).map(_.mkString(" "))
    samples(text, 10).foreach { t =>
      val got = Seq(t).toDF("text")
        .select(graft.ops.ReferenceTextOps.removeOthers(col("text"), vocab))
        .head().getString(0)
      val want = {
        val kept = t.split(" ").filter(vocab.contains)
        if (kept.isEmpty) "No Values" else kept.mkString(",")
      }
      assert(got === want, s"for input '$t'")
    }
  }

  test("topKPerGroup returns exactly the k-prefix of the per-group sort") {
    val sq = spark
    import sq.implicits._
    val rows = Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.chooseNum(0, 1000)))
    samples(rows, 8).foreach { rs =>
      val df = rs.toDF("g", "v")
        .withColumn("id", monotonically_increasing_id())
      val got = TopKOps
        .topKPerGroup(df, Seq(col("g")),
          Seq(col("v").desc, col("id").asc), 2)
        .select(col("g"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted
      val want = rs.zipWithIndex
        .groupBy(_._1._1)
        .toSeq // NOT flatMap on the Map: pair results would dedup by key
        .flatMap { case (g, grp) =>
          grp.map { case ((_, v), i) => (g, v, i) }
            .sortBy { case (_, v, i) => (-v, i) }
            .take(2).map { case (g2, v, _) => (g2, v) }
        }
        .sorted
      assert(got.toSeq === want, s"for $rs")
    }
  }

  test("idf fixed-point: integer div is exact where double / drifts") {
    val sq = spark
    import sq.implicits._
    // corpus sizes where 1e6·N exceeds 2^53: the q100 regime the
    // fixed-point contract exists for (N up to ~9e9 documents)
    val cases = Gen.zip(
      Gen.chooseNum(1L << 33, 9000000000L), // n_total
      Gen.chooseNum(1L, 1L << 33)) // df
    val rows = samples(cases, 40).map { case (n, df) => (n, math.min(df, n)) }
    val got = rows.toDF("n_total", "df")
      .select(col("n_total"), col("df"),
        expr("(cast(1000000 as bigint) * n_total) div df").as("idf_e6"),
        ((lit(1000000L) * col("n_total")) / col("df")).cast("long")
          .as("idf_dbl"))
      .collect()
    got.foreach { r =>
      val want = (BigInt(r.getLong(0)) * 1000000 / BigInt(r.getLong(1)))
        .toLong
      assert(r.getLong(2) === want,
        s"div not exact for n=${r.getLong(0)} df=${r.getLong(1)}")
    }
    // the guarded-against bug is real once 1e6·N crosses 2^53 (N over
    // ~9.0e9 rows — one epoch-expanded pass at 100 TB): the double
    // path rounds the quotient up across an integer boundary for some
    // df, the floor-div path never does
    val (nBig, dfBig) = (34981812590L, 7L) // 1e6·n ≈ 3.5e16 > 2^53
    assert(((1000000L * nBig).toDouble / dfBig).toLong !=
      (BigInt(nBig) * 1000000 / BigInt(dfBig)).toLong)
    val sparkRow = Seq((nBig, dfBig)).toDF("n_total", "df")
      .select(expr("(cast(1000000 as bigint) * n_total) div df"),
        ((lit(1000000L) * col("n_total")) / col("df")).cast("long"))
      .collect()(0)
    assert(sparkRow.getLong(0) ===
      (BigInt(nBig) * 1000000 / BigInt(dfBig)).toLong)
    assert(sparkRow.getLong(1) !== sparkRow.getLong(0),
      "Spark double path should reproduce the drift")
  }

  test("capped LSH pairing: capped ⊆ uncapped pairs, equality when " +
    "inactive, star linearity inside hot buckets — random corpora") {
    val sq = spark
    import sq.implicits._
    import graft.ops.CurationOps
    // random corpora mixing a duplicated boilerplate (hot buckets)
    // with unique filler docs built from a tiny vocabulary
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val corpus: Gen[(Int, Int, List[List[Int]])] = for {
      nViral <- Gen.chooseNum(3, 12)
      nUniq <- Gen.chooseNum(2, 6)
      fills <- Gen.listOfN(nUniq,
        Gen.listOfN(12, Gen.chooseNum(0, vocab.size - 1)))
    } yield (nViral, nUniq, fills)
    samples(corpus, 6).foreach { case (nViral, _, fills) =>
      val boiler = "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen"
      val docs = ((0 until nViral).map(i => (i.toLong, boiler)) ++
        fills.zipWithIndex.map { case (ws, i) =>
          ((100 + i).toLong, ws.map(vocab).mkString(" "))
        }).toDF("doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val un = pairs(CurationOps.lshCandidatePairs(docs))
      val capped = pairs(CurationOps.lshCandidatePairsCapped(docs, 2))
      assert(capped.subsetOf(un),
        s"capped must never invent pairs: ${capped.diff(un)}")
      // the viral clique collapses to a star on the minimum id
      val viralCapped = capped.filter(_._2 < 100)
      assert(viralCapped === (1 until nViral).map(i => (0L, i.toLong)).toSet,
        s"hot bucket must star to the minimum: $viralCapped")
      // cap above every bucket ⇒ identical pair set
      val wide = pairs(CurationOps.lshCandidatePairsCapped(docs, 1000))
      assert(wide === un, "inactive cap must be the identity")
      CacheScope.release()
    }
  }

  test("ANN recall reports (q241, q251) are invariant under shuffle " +
      "partitioning and AQE, quantizer build included") {
    import graft.ops.ArtifactStore
    val dir = "/root/testdata/sf0.001"
    val parts = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val saved = Seq(parts, aqe).map(k => k -> spark.conf.getOption(k))
    def reports(nParts: Int, adaptive: Boolean): Seq[Seq[String]] = {
      spark.conf.set(parts, nParts.toLong)
      spark.conf.set(aqe, adaptive)
      // a fresh registry, so each config also trains the quantizers
      ArtifactStore.clear()
      Seq("q241_pq_adc_recall", "q251_trained_ivf").map(q =>
        SparkEntry.run(spark, q, dir)(_.collect().map(_.toString).toSeq))
    }
    try {
      val serial = reports(1, adaptive = false)
      assert(serial.forall(_.size == 20))
      assert(reports(7, adaptive = true) === serial)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
