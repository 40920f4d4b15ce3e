package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, GraftSession}
import graft.ops.{CurationOps, GraphOps, SubwordOps}

/** Iterative-operator scaling evidence: the round counts of the
  * data-dependent loops (connected components, k-core peeling) are
  * functions of graph STRUCTURE (component diameter, cascade depth),
  * not of corpus size — so a 10× corpus with the same cluster-size
  * distribution must show a FLAT round count and ~linear wall time.
  * `SCALING_r*.json` proves this for the one-pass queries up to sf0.1;
  * this main extends the evidence to the iterative family at 10×(sf0.1)
  * synthetic scale, where the driver's fixed testdata stops.
  *
  * The corpus generator is deterministic and fully distributed (hash
  * mixing off the row id — no RNG, no driver loop) and mimics the
  * testdata `documents` profile (31-word vocab, ~60-word docs, 5 langs,
  * 20 sources) with a controlled near-duplicate family structure:
  * families of `familySize` docs share a base word stream and differ by
  * a per-member suffix, so every family is one exact-Jaccard cluster of
  * known size and the cluster-size DISTRIBUTION is scale-invariant —
  * exactly the regime in which the flat-rounds claim must hold. Two
  * fixed-shape graph families (paths of length 256 for CC diameter,
  * pendant chains of length 12 for k-core cascade) isolate the
  * round-count claim from LSH behavior.
  *
  * Emits one JSON document (stdout + file): per scale, the doc/pair
  * counts, per-op wall seconds, and the CC / k-core round counts.
  * Run: `sbt "runMain graft.IterScale [outFile]"` (default
  * ITERSCALE_LOCAL.json) over the doc counts in [[SCALES]].
  */
object IterScale {
  /** Corpus sizes (docs) swept, one decade apart. */
  private val SCALES = Seq(5000L, 50000L)

  /** Same 31-word vocab register as the testdata documents table. */
  private val vocab = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "join", "shuffle", "cache", "disk", "net")

  /** Deterministic near-dup corpus: `nDocs` docs in families of
    * `familySize`; member m of family f = `baseWords` words keyed on f
    * plus m suffix words keyed on (f, position). Pairwise Jaccard
    * within a family ≥ base/(base+2·familySize) ≈ 0.79 on 3-gram
    * shingles — above the 0.7 verify threshold used below, below
    * nothing LSH (4 bands × 2 of 8 minhashes) would miss.
    * Schema mirrors testdata documents: doc_id, text, lang, source,
    * n_chars.
    */
  def synthDocs(spark: SparkSession, nDocs: Long,
      familySize: Int = 8, baseWords: Int = 60): DataFrame = {
    val v = array(vocab.map(lit): _*)
    val langs = array(Seq("en", "en", "zh", "fr", "es", "de").map(lit): _*)
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        (col("id") / familySize).cast("long").as("fam"),
        pmod(col("id"), lit(familySize)).cast("int").as("m"))
      .select(col("doc_id"),
        concat_ws(" ",
          flatten(array(
            transform(sequence(lit(0), lit(baseWords - 1)), i =>
              element_at(v,
                (pmod(xxhash64(lit("base"), col("fam"), i), lit(31)) + 1)
                  .cast("int"))),
            transform(sequence(lit(1), col("m")), i =>
              element_at(v,
                (pmod(xxhash64(lit("sfx"), col("fam"), i), lit(31)) + 1)
                  .cast("int")))))).as("text"),
        element_at(langs,
          (pmod(xxhash64(lit("lang"), col("doc_id")), lit(6)) + 1)
            .cast("int")).as("lang"),
        concat(lit("src"),
          pmod(xxhash64(lit("src"), col("doc_id")), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** [[synthDocs]] with 2% of docs overwritten by one shared
    * boilerplate text — the viral-family scenario: all of them land in
    * the same LSH buckets, so uncapped pairing is quadratic in the 2%
    * while [[graft.ops.CurationOps.lshCandidatePairsCapped]] stays
    * linear.
    */
  def synthViralDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val boiler = "subscribe to our newsletter for updates about the " +
      "product and follow us on social media for the latest news today " +
      "and join the community forum to discuss features with the team"
    synthDocs(spark, nDocs).withColumn("text",
      when(pmod(col("doc_id"), lit(50)) === 0, lit(boiler))
        .otherwise(col("text")))
  }

  /** `nPaths` disjoint simple paths of `pathLen` nodes each — fixed
    * component diameter, so CC rounds must not move with nPaths.
    */
  def pathEdges(spark: SparkSession, nPaths: Long, pathLen: Long): DataFrame =
    spark.range(nPaths * pathLen)
      .filter(pmod(col("id") + 1, lit(pathLen)) =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("ITERSCALE_LOCAL.json")
    val spark = GraftSession.local("graft-iterscale")
    // JIT/codegen warmup so the smallest scale isn't billed for it
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    def f(d: Double) = f"$d%.3f"
    val rows = SCALES.map { n =>
      CacheScope.release()
      graft.ops.ArtifactStore.clear()
      spark.catalog.clearCache()
      val docs = synthDocs(spark, n).localCheckpoint()

      // end-to-end near-dup chain: LSH pairs + exact verify
      val (pairs, pairSec) = time {
        val p = CurationOps.verifiedPairs(docs, threshold = 0.7)
          .localCheckpoint()
        (p, p.count())
      }
      // cluster formation on the real pair graph
      val ((labels, ccRounds), ccSec) = time {
        val (l, r) =
          GraphOps.connectedComponentsRounds(pairs._1, "d1", "d2")
        l.write.format("noop").mode("overwrite").save()
        (l, r)
      }
      val nLabeled = labels.count()
      // k-core on the real pair graph (family cliques → shallow peel)
      val ((_, kcRounds), kcSec) = time {
        val (c, r) = GraphOps.kCoreRounds(pairs._1, "d1", "d2", k = 2)
        c.write.format("noop").mode("overwrite").save()
        (c, r)
      }
      // PageRank: fixed 3 rounds over the pair graph
      val (_, prSec) = time {
        GraphOps.weightedPageRank(
            pairs._1.withColumn("w", lit(1L)), "d1", "d2", "w")
          .write.format("noop").mode("overwrite").save()
      }
      // BPE merge training: fixed 20 argmax rounds over the corpus
      val (merges, bpeSec) = time {
        SubwordOps.trainMerges(docs, nMerges = 20)
      }

      // fixed-diameter graphs scaled by count — rounds must stay flat
      val nPaths = math.max(1L, n / 256)
      val ((_, pathCcRounds), pathCcSec) = time {
        val (l, r) = GraphOps.connectedComponentsRounds(
          pathEdges(spark, nPaths, 256), "src", "dst")
        l.write.format("noop").mode("overwrite").save()
        (l, r)
      }
      val nChains = math.max(1L, n / 12)
      val ((_, chainKcRounds), chainKcSec) = time {
        val (c, r) = GraphOps.kCoreRounds(
          pathEdges(spark, nChains, 12), "src", "dst", k = 2)
        c.write.format("noop").mode("overwrite").save()
        (c, r)
      }

      // viral-boilerplate family: 2% of docs identical — uncapped
      // candidate pairing is quadratic in the family, the capped form
      // linear, and both verify to the same clusters
      val viral = synthViralDocs(spark, n).localCheckpoint()
      val (vUn, vUnSec) = time {
        CurationOps.lshCandidatePairs(viral)
          .filter(pmod(col("d1"), lit(50)) === 0 &&
            pmod(col("d2"), lit(50)) === 0).count()
      }
      CacheScope.release()
      val (vCap, vCapSec) = time {
        CurationOps.lshCandidatePairsCapped(viral, bucketCap = 64)
          .filter(pmod(col("d1"), lit(50)) === 0 &&
            pmod(col("d2"), lit(50)) === 0).count()
      }
      CacheScope.release()

      System.err.println(s"[iterscale] n=$n pairs=${pairs._2} " +
        s"cc=$ccRounds rounds/${f(ccSec)}s kcore=$kcRounds " +
        s"pathCc=$pathCcRounds chainKc=$chainKcRounds " +
        s"viral=$vUn/${f(vUnSec)}s capped=$vCap/${f(vCapSec)}s")
      s"""{"docs":$n,"pairs":${pairs._2},"labeled":$nLabeled,""" +
        s""""pair_sec":${f(pairSec)},""" +
        s""""cc_rounds":$ccRounds,"cc_sec":${f(ccSec)},""" +
        s""""kcore_rounds":$kcRounds,"kcore_sec":${f(kcSec)},""" +
        s""""pagerank_sec":${f(prSec)},""" +
        s""""bpe_merges":${merges.size},"bpe_sec":${f(bpeSec)},""" +
        s""""path_cc_rounds":$pathCcRounds,""" +
        s""""path_cc_sec":${f(pathCcSec)},"paths":$nPaths,""" +
        s""""chain_kcore_rounds":$chainKcRounds,""" +
        s""""chain_kcore_sec":${f(chainKcSec)},"chains":$nChains,""" +
        s""""viral_docs":${n / 50},""" +
        s""""viral_uncapped_pairs":$vUn,""" +
        s""""viral_uncapped_sec":${f(vUnSec)},""" +
        s""""viral_capped_pairs":$vCap,""" +
        s""""viral_capped_sec":${f(vCapSec)}}"""
    }
    val json =
      s"""{"claim":"iterative round counts track graph structure, not corpus size","scales":[${rows.mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(outFile),
      json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
