package graft.ops

import graft.core.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corpus-curation pipeline as a PUBLIC library API — the same
  * operators the gate queries (Dedup pack q27-q31, q75-q79, q86)
  * exercise, callable on any `(doc_id LONG, text STRING, …)` frame so
  * an embedding application doesn't have to reach into the query pack.
  * (Reference analogue: hw3/hw3.py's MinHash-LSH ends at candidate
  * pairs, hw3/hw3.py:165-169; this carries the pipeline through
  * verification, cluster formation, canonical selection, and the
  * quality cut — what "dedup a 100 TB corpus" actually requires.)
  *
  * Scale contract (same invariants ENGINE.md documents):
  *   - signatures are per-row expressions — shuffle-free, scan-fused;
  *   - every pairwise step is candidate-driven through a uniform
  *     (band, key) equi-join — no all-pairs join anywhere;
  *   - narrow relations that feed both sides of a self-join are
  *     cached AND materialized first (two concurrent stage scans race
  *     an unmaterialized cache and both recompute);
  *   - cluster formation is the iterative star-contraction
  *     ([[GraphOps.connectedComponents]]), not a driver union-find.
  *
  * Caching side effect: [[lshCandidatePairs]] / [[verifiedPairs]] (and
  * everything built on them) pin two narrow relations per distinct
  * input frame through [[graft.core.CacheScope]], which owns and
  * releases them.
  */
object CurationOps {

  /** Releases the [[CacheScope]]; kept for the benchmark harness
    * (`perfbench/`), whose between-pass reset calls it.
    */
  def release(): Unit = CacheScope.release()

  // ------------------------------------------------- artifact tables

  /** Write-once materialized artifacts (verified pairs / cluster
    * labels), keyed on the CANONICALIZED input plan + parameters. A
    * curation run's expensive derivations — the MinHash→LSH→verify
    * chain and the iterative component contraction — are each computed
    * exactly once per corpus and written as a parquet table; every
    * later consumer (the audit family: duplication rates, method
    * agreement, calibration, leakage checks) reads the table instead
    * of re-deriving the chain. This is the 100 TB shape: labels are a
    * first-class pipeline artifact, not a subexpression — Spark's
    * in-memory cache can't serve it because audits run in separate
    * jobs/sessions (and the gate clears caches per query).
    *
    * Keys include the canonicalized logical plan AND the input's file
    * snapshot (path, size, mtime), so two corpora (or the same table
    * at two scale factors) never collide, and re-writing an input path
    * IN PLACE mints a new key — the next call re-derives
    * automatically, no manual [[clearArtifacts]] required.
    */
  private def materializedOnce(docs: DataFrame, kind: String,
      threshold: Double, textCol: String)
      (build: => DataFrame): DataFrame =
    ArtifactStore.materializedOnce(docs, ArtifactStore.key(docs, kind,
      s"${java.lang.Double.doubleToLongBits(threshold).toHexString}-$textCol"))(
      build)

  /** [[ArtifactStore.clear]]; kept for the benchmark harness
    * (`perfbench/`), whose between-pass reset calls it.
    */
  def clearArtifacts(): Unit = ArtifactStore.clear()

  /** Retention GC for a durable `spark.graft.artifactDir` cache:
    * content-addressed keys accumulate as inputs evolve (every
    * in-place overwrite strands the previous key's directory), so a
    * long-lived cache needs this sweep — delete entries not referenced
    * by this session and older than `retainMs`. Returns deleted entry
    * names; no-op without a configured durable dir.
    */
  def vacuumArtifacts(spark: org.apache.spark.sql.SparkSession,
      retainMs: Long = 7L * 24 * 3600 * 1000): Seq[String] =
    ArtifactStore.vacuum(spark, retainMs)

  /** [[verifiedPairs]] as a write-once parquet artifact — derived on
    * first call per (corpus, threshold), read back afterwards.
    */
  def pairsTable(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame =
    materializedOnce(docs, "pairs", threshold, textCol) {
      verifiedPairs(docs, threshold, textCol)
    }

  /** [[clusterLabels]] as a write-once parquet artifact. Built over
    * [[pairsTable]], so one call materializes BOTH artifacts and the
    * full audit family runs off two small tables.
    */
  def labelsTable(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame =
    materializedOnce(docs, "labels", threshold, textCol) {
      val verified = pairsTable(docs, threshold, textCol)
        .select(col("d1"), col("d2"))
      val labels = GraphOps.connectedComponents(verified, "d1", "d2")
      docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
    }

  /** Scale-adaptive compute spread (round 13, guide §2): the
    * tokenize→shingle→hash chains inherit the scan's partitioning,
    * and a small corpus (single-row-group parquet) scans as ONE task,
    * so the pack's heaviest per-row arithmetic ran single-core
    * (stage profile: the [[CacheScope.pin]] counts were 1-2-task stages
    * of 2-4.5 s pure CPU at sf0.1). When — and only when — the input
    * carries fewer partitions than the session's parallelism,
    * hash-repartition by doc id before the per-row work; at scale the
    * scan already has ≥ cores partitions and this is the identity, so
    * no exchange is ever added to a large scan. Keyed (no constant):
    * the partition count follows spark.sql.shuffle.partitions/AQE.
    * Round 14: the trigger reads the analyzed plan's leaf byte stats
    * ([[SpreadOps.underParallel]]) instead of `rdd.getNumPartitions`,
    * which physically planned the un-spread query a second time.
    */
  private def spread(df: DataFrame): DataFrame =
    SpreadOps.spread(df, col("doc_id"))

  /** doc_id + shingles + 31-bit shingle-hash array, as chained
    * projections (each array column materialized once per row;
    * CollapseProject keeps the md5 work single-evaluation because the
    * arrays are non-cheap and multiply referenced downstream).
    */
  def shingleHashed(docs: DataFrame, textCol: String = "text"): DataFrame =
    spread(docs)
      .select(col("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), DedupOps.shingles(col("toks")).as("sh"))
      .select(col("doc_id"), col("sh"),
        DedupOps.shingleHashes(col("sh")).as("hs"))

  /** doc_id + the 8 MinHash signature components (native one-pass
    * kernel; the extra projection is deliberate — `sig` is non-cheap
    * and referenced 8×, so CollapseProject keeps it
    * single-evaluation).
    */
  def minhashSignatures(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    shingleHashed(docs, textCol)
      .select(col("doc_id"), DedupOps.minhashAll(col("hs")).as("sig"))
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"s$i")): _*)

  /** Banded signature keys: 4 bands × 2 signature rows, one pass over
    * the signatures with an `explode` of band structs — a union of 4
    * selects would recompute the whole tokenize→shingle→md5→minhash
    * pipeline once per band (measured 4× the scan cost).
    */
  def bandKeys(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bandStructs = array((0 until DedupOps.bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("key"))
    }: _*)
    minhashSignatures(docs, textCol)
      .select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  /** LSH candidate pairs (d1 < d2, n_shared_bands): docs agreeing on
    * ≥1 full band. The join key (band, key) is a uniform hash →
    * balanced shuffle; quadratic work only inside a bucket
    * (LSH-bounded).
    */
  def lshCandidatePairs(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    bandPairs(docs, textCol, newSide = None)

  /** Per-bucket occupancy of the LSH band index: (band, key, n_docs,
    * rep = min doc_id in the bucket). The observability surface for
    * the viral-boilerplate hazard: bucket pairing is quadratic INSIDE
    * a bucket, so one boilerplate text duplicated across 1% of a
    * 10 B-doc corpus puts ~10⁸ docs behind one key and the plain
    * self-join emits ~10¹⁵ rows from that bucket alone. Profile first
    * (one uniform groupBy — linear), then choose
    * [[lshCandidatePairsCapped]] if any bucket is hot.
    */
  def bucketProfile(docs: DataFrame, textCol: String = "text"): DataFrame =
    bandKeys(docs, textCol)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep"))

  /** [[lshCandidatePairs]] with a hot-bucket cap — the viral-family
    * scale path. Buckets with ≤ `bucketCap` docs pair all-vs-all
    * exactly as the uncapped form; a bucket above the cap emits a STAR
    * instead of a clique: every member pairs with the bucket's minimum
    * doc id only, O(B) rows instead of O(B²). Downstream exact
    * verification still applies to every emitted edge, and for
    * CLUSTER FORMATION (survivors/curate — the reason oversized
    * buckets exist at all: near-identical boilerplate) the star
    * reaches the same connected components whenever the star edges
    * verify, which identical and near-identical texts do by
    * construction. What the cap trades away: (a) non-representative
    * pairs inside a hot bucket are not emitted, so the PAIR LIST is
    * no longer exhaustive there (use the uncapped form when the pair
    * list itself is the product); (b) `n_shared_bands` counts only
    * the bands in which a pair was actually emitted. Opt-in — the
    * default pipeline stays exact.
    */
  def lshCandidatePairsCapped(docs: DataFrame, bucketCap: Int = 1024,
      textCol: String = "text"): DataFrame = {
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    val bd = CacheScope.pin(bandKeys(docs, textCol))
    val stats = bd.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep"))
    // uniform (band, key) equi-join — the annotation rides the same
    // shuffle the pairing itself needs
    val sized = CacheScope.pin(bd.join(stats, Seq("band", "key")))
    val small = sized.filter(col("n_docs") <= bucketCap)
    val smallPairs = small
      .select(col("doc_id").as("d1"), col("band"), col("key"))
      .join(small.select(col("doc_id").as("d2"),
          col("band").as("band2"), col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("band"))
    val starPairs = sized
      .filter(col("n_docs") > bucketCap && col("doc_id") =!= col("rep"))
      // rep is the bucket minimum, so (rep, doc_id) is already d1 < d2
      .select(col("rep").as("d1"), col("doc_id").as("d2"), col("band"))
    smallPairs.union(starPairs)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** [[verifiedPairs]] over the capped candidate set — the end-to-end
    * viral-family-safe dedup chain (see [[lshCandidatePairsCapped]]
    * for what the cap trades away).
    */
  def verifiedPairsCapped(docs: DataFrame, threshold: Double = 0.8,
      bucketCap: Int = 1024, textCol: String = "text"): DataFrame =
    exactVerify(docs, lshCandidatePairsCapped(docs, bucketCap, textCol),
      threshold, textCol)

  /** Shared band self-join. `newSide = None` pairs the whole corpus
    * (d1 < d2). `Some(pred)` is the incremental path: one side of the
    * band join is restricted to the new docs BEFORE pairing, so
    * old-old (corpus-internal) pairs never form and cost stays
    * batch-proportional — but the OTHER side stays unrestricted and
    * pairs are normalized to (least, greatest), so a new doc is
    * flagged against an existing near-duplicate regardless of id
    * order (ingest need not be id-monotone).
    */
  private def bandPairs(docs: DataFrame, textCol: String,
      newSide: Option[org.apache.spark.sql.Column]): DataFrame = {
    // the band relation is narrow (doc_id, band, key) — cache and
    // materialize it so the self-join's two concurrent scans don't
    // each recompute (or race) the tokenize→shingle→md5→minhash chain
    val bd = CacheScope.pin(bandKeys(docs, textCol))
    newSide match {
      case None =>
        val a = bd.select(col("doc_id").as("d1"), col("band"), col("key"))
        val b = bd.select(col("doc_id").as("d2"),
          col("band").as("band2"), col("key").as("key2"))
        a.join(b, col("band") === col("band2") &&
            col("key") === col("key2") && col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("n_shared_bands"))
      case Some(pred) =>
        // probe: new docs vs ALL docs. A new-new pair matches from
        // both orientations, so normalize then de-dup per band before
        // counting shared bands (a band holds one key per doc, so
        // (d1, d2, band) identifies the match).
        val nw = bd.filter(pred)
          .select(col("doc_id").as("dn"), col("band"), col("key"))
        val all = bd.select(col("doc_id").as("da"),
          col("band").as("band2"), col("key").as("key2"))
        nw.join(all, col("band") === col("band2") &&
            col("key") === col("key2") && col("dn") =!= col("da"))
          .select(least(col("dn"), col("da")).as("d1"),
            greatest(col("dn"), col("da")).as("d2"), col("band"))
          .distinct()
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("n_shared_bands"))
    }
  }

  /** Verified near-dup pairs: exact n-gram Jaccard ≥ `threshold`,
    * computed ONLY for LSH candidates. Candidates (small) equi-join
    * the shingle-set table twice to fetch both arrays, then a per-row
    * `array_intersect` — no shingle explode, no wide shuffle. Shingle
    * sets are distinct by construction so |intersect| is exact.
    */
  def verifiedPairs(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame =
    exactVerify(docs, lshCandidatePairs(docs, textCol), threshold, textCol)

  /** Incremental form — the daily-ingest fast path: one band-join
    * side is restricted to `isNew` docs BEFORE exact verification, so
    * corpus-internal (old-old) pairs never form and cost is
    * batch-proportional, not corpus-quadratic. Output rows are exactly
    * the [[verifiedPairs]] rows with `isNew` true on AT LEAST one side
    * (normalized d1 < d2) — admission checks both orientations, so
    * ingest order need not be id-monotone.
    */
  def verifiedPairsIncremental(
      docs: DataFrame,
      isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.8,
      textCol: String = "text"): DataFrame =
    exactVerify(docs, bandPairs(docs, textCol, Some(isNew)), threshold,
      textCol)

  /** [[verifiedPairsIncremental]] with the hot-bucket cap — the
    * daily-ingest path when the HISTORY holds viral boilerplate: the
    * uncapped probe pairs each new doc against every historical
    * bucket member (|new∩bucket| × |bucket| rows per hot bucket);
    * here a bucket above `bucketCap` pairs each new member with the
    * bucket's minimum doc id only. Admission semantics survive: a new
    * doc in a hot bucket is still flagged through its representative
    * edge whenever that edge verifies (which boilerplate does by
    * construction); a new doc that IS the bucket minimum carries no
    * edge from that bucket and is admitted — first-seen-wins, the
    * same convention the uncapped form applies to an all-new cluster.
    * Same trade as [[lshCandidatePairsCapped]]: the pair list is no
    * longer exhaustive inside hot buckets.
    */
  def verifiedPairsIncrementalCapped(
      docs: DataFrame,
      isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.8,
      bucketCap: Int = 1024,
      textCol: String = "text"): DataFrame = {
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    val bd = CacheScope.pin(bandKeys(docs, textCol))
    val stats = bd.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep"))
    val nw = bd.filter(isNew)
      .select(col("doc_id").as("dn"), col("band"), col("key"))
    val small = nw
      .join(stats.filter(col("n_docs") <= bucketCap)
        .select(col("band"), col("key")), Seq("band", "key"), "left_semi")
      .join(bd.select(col("doc_id").as("da"), col("band").as("band2"),
          col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("dn") =!= col("da"))
      .select(least(col("dn"), col("da")).as("d1"),
        greatest(col("dn"), col("da")).as("d2"), col("band"))
    val star = nw
      .join(stats.filter(col("n_docs") > bucketCap), Seq("band", "key"))
      .filter(col("dn") =!= col("rep"))
      .select(least(col("dn"), col("rep")).as("d1"),
        greatest(col("dn"), col("rep")).as("d2"), col("band"))
    val cands = small.union(star)
      .distinct() // new-new pairs match from both orientations
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared_bands"))
    exactVerify(docs, cands, threshold, textCol)
  }

  private def exactVerify(docs: DataFrame, cands0: DataFrame,
      threshold: Double, textCol: String): DataFrame =
    jaccardOf(docs, cands0, textCol, minJaccard = Some(threshold))
      .select(col("d1"), col("d2"), col("n_shared"), col("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact n-gram Jaccard for every LSH candidate pair, UNFILTERED:
    * (d1, d2, n_shared, n1, n2, jaccard), jaccard null for the
    * empty-shingle 0/0 pairs. The raw material for threshold
    * calibration sweeps and signature-estimate audits —
    * [[verifiedPairs]] is exactly this with the deployed threshold
    * applied, so a sweep over these rows predicts what ANY threshold
    * choice would purge.
    */
  def candidateJaccard(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    jaccardOf(docs, lshCandidatePairs(docs, textCol), textCol)

  /** `minJaccard = Some(t)` applies the round-14 SIZE pre-filter (the
    * [[verifyThreshold]] rule): J = i/(n1+n2−i) ≥ t with
    * i ≤ min(n1,n2) forces t·(n1+n2) ≤ (1+t)·min(n1,n2), so
    * size-incompatible pairs skip the O(n1+n2) `array_intersect`
    * entirely. The comparison carries a +1 slack so double rounding
    * of t·(n1+n2) can never drop a boundary pair — the exact jaccard
    * filter downstream still decides; the filter only skips work.
    * Callers that need EVERY candidate's jaccard (threshold sweeps —
    * [[candidateJaccard]]) pass None and are unchanged.
    */
  private def jaccardOf(docs: DataFrame, cands0: DataFrame,
      textCol: String, minJaccard: Option[Double] = None): DataFrame = {
    // fetched twice (both pair sides) — compute once
    val sets = CacheScope.pin(
      shingleHashed(docs, textCol).select(col("doc_id"), col("sh")))
    val cands = cands0.select(col("d1"), col("d2"))
    val sized = cands
      .join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1")),
        Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), col("sh1"), col("sh2"),
        size(col("sh1")).cast("long").as("n1"),
        size(col("sh2")).cast("long").as("n2"))
    val gated = minJaccard match {
      case Some(t) => sized.where(
        lit(t) * (col("n1") + col("n2")) <=
          lit(1.0 + t) * least(col("n1"), col("n2")) + lit(1.0))
      case None => sized
    }
    gated
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long")
          .as("n_shared"),
        col("n1"), col("n2"))
      // two sub-n-token docs have EMPTY shingle sets yet identical
      // sentinel signatures, so they DO become candidates — the 0/0
      // division must yield null (pair dropped, matching the SQL
      // mirror's NULL), not an ANSI DIVIDE_BY_ZERO crash
      .select(col("d1"), col("d2"), col("n_shared"), col("n1"), col("n2"),
        when(col("n1") + col("n2") - col("n_shared") > 0,
          col("n_shared") / (col("n1") + col("n2") - col("n_shared")))
          .as("jaccard"))
  }

  /** EXACT all-pairs Jaccard ≥ `threshold` — the ground truth a recall
    * audit compares the LSH candidates against. O(|docs|²): call ONLY
    * on a bounded audit subset (in engine sessions the cartesian lint
    * rejects unbounded inputs). Same Jaccard definition and threshold
    * default as [[verifiedPairs]], so the audit measures the deployed
    * configuration.
    */
  /** EXACT threshold similarity join via prefix filtering (the
    * AllPairs/PPJoin family) — the scalable exact alternative to both
    * [[exactJaccardPairs]] (O(n²), audit subsets only) and
    * [[verifiedPairs]] (LSH, probabilistic recall). Guarantee: returns
    * EVERY pair with distinct-shingle Jaccard ≥ num/den, because two
    * sets with J ≥ t must collide on their length-(n − ⌈t·n⌉ + 1)
    * prefixes under ANY shared total token order. We order tokens
    * rarest-first (doc-frequency, then hash), so prefix tokens are the
    * most selective and candidate buckets stay small.
    *
    * The threshold is a rational num/den so the prefix length is EXACT
    * integer arithmetic (⌈num·n/den⌉ via (num·n + den − 1) DIV den) —
    * an FP ceil that rounded up would silently drop true pairs.
    *
    * Scale shape: one doc-frequency aggregate, one uniform-key join to
    * attach frequencies, one per-doc sort (array_sort over each row's
    * own tokens, not a global sort), a prefix-token equi-join whose key
    * distribution is *rarest tokens only*, and an exact verify on the
    * deduplicated candidates. Nothing quadratic outside candidate
    * buckets; every relation feeding two join sides is materialized.
    */
  def exactPrefixJoin(docs: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5, textCol: String = "text"): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"threshold must be in (0,1]: $thresholdNum/$thresholdDen")
    val sets = CacheScope.pin(distinctShingleSets(docs, textCol))
    prefixJoinOn(sets, prefixEmissions(sets, thresholdNum, thresholdDen),
      thresholdNum, thresholdDen)
  }

  /** (doc_id, hset) with hset = the doc's distinct shingle hashes in
    * SORTED order — sorted so multi-token sub-signatures (segment
    * join) are canonical across docs; prefix/verify stages are
    * order-insensitive.
    */
  private def distinctShingleSets(docs: DataFrame,
      textCol: String): DataFrame =
    shingleHashed(docs, textCol)
      .select(col("doc_id"), array_sort(array_distinct(col("hs"))).as("hset"))

  /** Per-doc prefix-token emissions under the rarest-first global
    * order: length n − ⌈t·n⌉ + 1, exact integer ceil.
    */
  private def prefixEmissions(sets: DataFrame, thresholdNum: Int,
      thresholdDen: Int): DataFrame = {
    val tok = sets.select(col("doc_id"), explode(col("hset")).as("h"))
    // hset is distinct per doc, so count(*) == doc frequency
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ordered = tok
      .join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h"))))
        .as("ord"))
    val plen = expr(
      s"size(ord) - ($thresholdNum * size(ord) + ${thresholdDen - 1})" +
        s" DIV $thresholdDen + 1")
    CacheScope.pin(
      ordered
        .select(col("doc_id"), explode(slice(col("ord"), lit(1), plen)).as("p"))
        .select(col("doc_id"), col("p.h").as("h")))
  }

  private def prefixJoinOn(sets: DataFrame, pre: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyThreshold(cand, sets, thresholdNum, thresholdDen)
  }

  /** Exact distinct-shingle Jaccard over deduplicated candidates —
    * the shared verify tail of every exact-join strategy.
    *
    * Round 14 (guide §1.2 — don't compute what you throw away): the
    * exact `array_intersect` was the single largest CPU block of the
    * q153/q242 profiles (stage profile: 28.7 s summed task CPU at
    * sf0.1), and most of it was spent on candidates a SIZE test
    * already rejects: J = i/(n1+n2−i) ≥ num/den with i ≤ min(n1,n2)
    * forces num·(n1+n2) ≤ (num+den)·min(n1,n2) — integer-exact, no
    * rounding. The size filter runs BEFORE the intersect (sizes are
    * O(1) off the array headers), so the per-pair O(n1+n2) set work
    * only runs on size-compatible pairs. No qualifying pair can be
    * dropped (the condition is implied by J ≥ t), so the brute-force
    * oracle is unchanged.
    */
  private def verifyThreshold(cand: DataFrame, sets: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame =
    cand
      .join(sets.as("x"), col("d1") === col("x.doc_id"))
      .join(sets.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"),
        col("x.hset").as("hx"), col("y.hset").as("hy"),
        size(col("x.hset")).cast("long").as("n1"),
        size(col("y.hset")).cast("long").as("n2"))
      .where(lit(thresholdNum) * (col("n1") + col("n2")) <=
        lit(thresholdNum + thresholdDen) * least(col("n1"), col("n2")))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("hx"), col("hy"))).cast("long")
          .as("n_shared"),
        col("n1"), col("n2"))
      .withColumn("jaccard",
        col("n_shared") / (col("n1") + col("n2") - col("n_shared")))
      .where(col("jaccard") >= lit(thresholdNum.toDouble / thresholdDen))

  /** EXACT threshold similarity join via pigeonhole segmentation —
    * the partition-based (PTJ) family ("An Efficient Partition-Based
    * Method for Exact Set Similarity Joins", Deng, Tao & Feng,
    * VLDB 2016), re-expressed as three DataFrame joins. This is the
    * strategy for the regime where prefix filtering DEGENERATES: a
    * token universe smaller than the corpus (boilerplate shingles,
    * small vocabularies) makes every token's doc-frequency grow with
    * |corpus|, so prefix-bucket candidates scale as Σ df² — measured
    * 151× candidate growth on a 10× corpus on the saturated synthetic
    * documents table, vs 9.9× (linear) for this join.
    *
    * Guarantee chain, all integer-exact:
    *  - J(x,y) ≥ num/den ⇒ |xΔy| ≤ D = ⌊(den−num)(n1+n2)/(den+num)⌋,
    *    bounded per size-group pair by the groups' max sizes;
    *  - hash-partition the token UNIVERSE into K = ⌈(D+1)/2⌉ segments,
    *    give each segment a 1-deletion budget: if every segment
    *    disagreed in ≥2 tokens the pair would differ in ≥2K ≥ D+1
    *    tokens — contradiction, so some segment differs in ≤1;
    *  - a 0-diff segment matches full-signature = full-signature
    *    (both-empty included); a 1-diff segment matches the longer
    *    side's 1-deletion signature = the shorter side's full
    *    signature. del×del never needs to join (that's a 2-diff
    *    shape), which keeps single-token deletion signatures from
    *    re-introducing df-driven buckets.
    *  - signatures are xxhash64 of the sorted segment projection: a
    *    collision can only ADD a candidate, and the exact verify
    *    removes it.
    *
    * Size groups are an integer ladder (lo_{g+1} = hi_g + 1,
    * hi = ⌊lo·den/num⌋) so the group table, the compatible pairs and
    * each pair's K are all driver-computed constants (a few dozen
    * rows, broadcast); docs join their own group and each compatible
    * neighbor. Scale shape: every stage is a linear scan or a uniform
    * equi-join on (group-pair, segment, signature); candidates are
    * collision-driven, not popularity-driven.
    */
  def exactSegmentJoin(docs: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5, textCol: String = "text"): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"threshold must be in (0,1]: $thresholdNum/$thresholdDen")
    val sets = CacheScope.pin(distinctShingleSets(docs, textCol))
    segmentJoinOn(sets, thresholdNum, thresholdDen)
  }

  private def segmentJoinOn(sets: DataFrame, num: Int,
      den: Int): DataFrame = {
    val sp = sets.sparkSession
    import sp.implicits._
    // a doc with an empty shingle set can never reach J ≥ t > 0
    val dn = sets.withColumn("n", size(col("hset")))
      .filter(col("n") >= 1)
    // bounded driver edge: one max() row sizes the group ladder
    val maxN = sets.agg(max(size(col("hset")))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    if (maxN == 0)
      return verifyThreshold(
        sets.limit(0).select(col("doc_id").as("d1"),
          col("doc_id").as("d2")), sets, num, den)
    var groups = Vector.empty[(Int, Int, Int)] // (g, lo, hi)
    var lo = 1
    while (lo <= maxN) {
      val hi = math.max(lo, lo * den / num)
      groups :+= ((groups.size, lo, hi))
      lo = hi + 1
    }
    // compatible ordered group pairs: some (n1 ∈ g1, n2 ∈ g2) can
    // satisfy num·n2 ≤ den·n1; K = ⌈(D+1)/2⌉ from the groups' maxima
    val gps = for {
      (g1, _, hi1) <- groups
      (g2, lo2, hi2) <- groups
      if g2 >= g1 && num * lo2 <= den * hi1
    } yield {
      val d = (den - num) * (hi1 + hi2) / (den + num)
      (g1 * groups.size + g2, g1, g2, math.max(1, (d + 2) / 2))
    }
    val gpDf = gps.toDF("gp", "g1", "g2", "k")
    val gExpr = groups.foldLeft(lit(-1)) { case (acc, (g, glo, ghi)) =>
      when(col("n") >= glo && col("n") <= ghi, lit(g)).otherwise(acc)
    }
    val dg = dn.withColumn("g", gExpr)
    val parts = dg.join(broadcast(gpDf), col("g") === col("g1"))
      .unionByName(dg.join(broadcast(gpDf),
        col("g") === col("g2") && col("g1") =!= col("g2")))
      .select(col("doc_id"), col("hset"), col("gp"), col("k"))
    def sigOf(arr: Column): Column =
      xxhash64(concat_ws(",", transform(arr, x => x.cast("string"))))
    val em = CacheScope.pin(parts
      .withColumn("seg", explode(sequence(lit(0), col("k") - 1)))
      .withColumn("arr",
        filter(col("hset"), h => pmod(h, col("k")) === col("seg")))
      .select(col("doc_id"), col("gp"), col("seg"),
        explode(concat(
          array(struct(sigOf(col("arr")).as("sig"), lit(0).as("del"))),
          transform(col("arr"), x =>
            struct(sigOf(array_remove(col("arr"), x)).as("sig"),
              lit(1).as("del"))))).as("e"))
      .select(col("doc_id"), col("gp"), col("seg"),
        col("e.sig").as("sig"), col("e.del").as("del")))
    val cand = em.as("a")
      .join(em.as("b"),
        col("a.gp") === col("b.gp") && col("a.seg") === col("b.seg") &&
          col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id") &&
          !(col("a.del") === 1 && col("b.del") === 1))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyThreshold(cand, sets, num, den)
  }

  /** Cost-based EXACT similarity join: probe the prefix strategy's
    * candidate count (exactly Σ_h c·(c−1)/2 over prefix-token buckets
    * — one tiny aggregate on the already-materialized prefix frame),
    * run prefix filtering when it is selective, and fall back to
    * [[exactSegmentJoin]] when the token universe has saturated and
    * prefix buckets have gone viral. Both strategies return the same
    * exact answer (same brute-force oracle); only the physical shape
    * changes — the same decision a planner makes from statistics at
    * 100 TB, made here from the true bucket histogram.
    */
  def exactSimilarityJoin(docs: DataFrame, thresholdNum: Int = 4,
      thresholdDen: Int = 5, textCol: String = "text",
      candidateBudgetPerDoc: Int = 64): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum,
      s"threshold must be in (0,1]: $thresholdNum/$thresholdDen")
    val sets = CacheScope.pin(distinctShingleSets(docs, textCol))
    val pre = prefixEmissions(sets, thresholdNum, thresholdDen)
    val estPairs = pre.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("p"))
      .head().getLong(0)
    val nDocs = sets.count()
    if (estPairs <= candidateBudgetPerDoc.toLong * nDocs)
      prefixJoinOn(sets, pre, thresholdNum, thresholdDen)
    else segmentJoinOn(sets, thresholdNum, thresholdDen)
  }

  def exactJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    // cache the full shingleHashed base (not a projection of it): the
    // cache manager matches canonicalized SUBTREES, so a subsequent
    // lshCandidatePairs over the same frame reuses this scan instead
    // of re-running tokenize→shingle→md5
    val base = CacheScope.pin(shingleHashed(docs, textCol))
    val sets = base.select(col("doc_id"), col("sh"))
    val a = sets.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val b = sets.select(col("doc_id").as("d2"), col("sh").as("sh2"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("long")
    val denom = size(col("sh1")).cast("long") +
      size(col("sh2")).cast("long") - inter
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        when(denom > 0, inter.cast("double") / denom).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** One-row LSH recall audit over `docs`: true Jaccard-≥threshold
    * pairs ([[exactJaccardPairs]] — O(|docs|²), so pass a BOUNDED
    * audit subset, e.g. a hash-sampled slice of a production corpus)
    * vs the deployed LSH candidate set → (n_true_pairs, n_caught,
    * recall). Both sides use the SAME shingle/Jaccard definition the
    * pipeline deploys, so the number justifies (or indicts) the
    * banding configuration before a 100 TB run.
    */
  def recallAudit(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    val truePairs = exactJaccardPairs(docs, threshold, textCol)
      .select(col("d1"), col("d2"))
    val cands = lshCandidatePairs(docs, textCol)
      .select(col("d1"), col("d2"), lit(1L).as("caught"))
    truePairs.join(cands, Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum(col("caught")), lit(0L)).as("n_caught"))
      .select(col("n_true_pairs"), col("n_caught"),
        when(col("n_true_pairs") > 0,
          col("n_caught").cast("double") / col("n_true_pairs"))
          .otherwise(lit(1.0)).as("recall"))
  }

  /** Maximal cross-document duplicated token spans — the
    * exact-substring dedup shape (suffix-array dedup's output,
    * re-expressed as DataFrame ops): every maximal run of token
    * positions whose k-gram occurs in ≥2 DISTINCT documents. Unlike
    * the whole-document near-dup chain this catches the boilerplate
    * header/footer/license block pasted into otherwise-unique
    * documents — the dominant duplication mode in crawled corpora.
    *
    * Distributed shape: per-row k-gram hash arrays (shuffle-free) →
    * posexplode → ONE uniform groupBy for the k-gram document
    * frequency → equi-join back → per-document window merge of
    * adjacent hit positions into maximal spans. The df table is
    * k-gram-vocabulary-sized; the window partitions by doc_id — no
    * all-pairs step, no skewed key (a k-gram shared by millions of
    * docs contributes one df row and per-doc hits, never a pairwise
    * blow-up — exactly why spans scale where pairwise substring
    * comparison cannot).
    *
    * Intra-document repeats are deliberately NOT counted as
    * duplication here (distinct-doc frequency, not occurrence count):
    * within-doc repetition is a per-row signal (q90's Gopher
    * fractions), while cross-doc spans are what an ExactSubstr purge
    * removes.
    *
    * Output: (doc_id, span_id, start_tok, end_tok, span_toks) — token
    * index range [start_tok, end_tok] inclusive, span_id the per-doc
    * ordinal by position.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 8,
      textCol: String = "text"): DataFrame = {
    val ex = kgramHits(docs, k, textCol)
    val dup = ex.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val hits = ex.join(dup, Seq("h")).select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .select(col("doc_id"), col("pos"),
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") - lag(col("pos"), 1).over(w) > 1, 1L)
          .otherwise(0L).as("ns"))
      .select(col("doc_id"), col("pos"), sum(col("ns")).over(w).as("span_id"))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("end_tok"))
      .select(col("doc_id"), col("span_id"), col("start_tok"),
        col("end_tok"),
        (col("end_tok") - col("start_tok") + 1L).as("span_toks"))
  }

  /** Exploded (doc_id, pos, h) k-gram hash hits, cached+materialized:
    * the shared base of [[duplicatedSpans]] and [[purgeSpans]] — it
    * feeds both the document-frequency aggregate and the join probe,
    * and an unmaterialized cache would recompute the whole
    * tokenize→k-gram chain once per concurrent stage scan.
    */
  private def kgramHits(docs: DataFrame, k: Int,
      textCol: String): DataFrame = {
    // chained projections: toks materialized as an attribute before
    // the HOF lambda references it (HOF lambdas get no CSE)
    val kgs = spread(docs)
      .select(col("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        // sequence(0, n-k) DESCENDS when n<k (step defaults to -1) —
        // guard short docs to an empty position range
        when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k),
            p => TextOps.tokenHash(
              concat_ws(" ", slice(col("toks"), p + 1, lit(k))))))
          .otherwise(array().cast("array<bigint>")).as("kgs"))
    // pin the per-doc kgram arrays BEFORE the explode:
    // InferFiltersFromGenerate clones the generator input into a
    // pre-Generate filter with the whole hash chain INLINED (design
    // note 14) — unpinned, the per-position md5 pipeline evaluates
    // 2-3× per row (measured 11-15 s at sf0.1 for q103/q104; ~4 s
    // pinned)
    CacheScope.pin(CacheScope.pin(kgs)
      .select(col("doc_id"), posexplode(col("kgs")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h")))
  }

  /** Exact-substring purge — the APPLY side of [[duplicatedSpans]]:
    * rebuild every document with its cross-document duplicated token
    * runs removed, keeping one canonical occurrence corpus-wide (the
    * deduplicate-text-datasets ExactSubstr semantics, re-expressed as
    * uniform-key DataFrame ops instead of a suffix array).
    *
    * Canonical-occurrence rule, exactly mirrorable in SQL: each
    * duplicated k-gram's OWNER is the smallest doc_id containing it; a
    * hit in any other document is foreign, and every token position it
    * covers is purged. The owner keeps its text untouched (including
    * its own intra-doc repeats — those are q90's per-row signal, not
    * cross-doc duplication), so shared blocks survive exactly once and
    * the purge is idempotent. Short overlap-remnants (< k tokens) of a
    * partially-shared run are kept — only positions provably inside a
    * duplicated k-gram are removed.
    *
    * Distributed shape: the [[kgramHits]] explode → one uniform
    * groupBy(h) for (doc-frequency, owner) → equi-join back → a
    * bounded k× explode of foreign hits into covered token positions
    * (k is a constant; no pairwise step, no skew — a block shared by a
    * million docs costs one owner row plus per-doc hits) → left-anti
    * join against the per-doc token positions → order-preserving
    * reassembly via array_sort (never a window over the whole corpus).
    *
    * Output: (doc_id, n_toks, n_purged, text_clean) for EVERY input
    * document; text_clean is empty when everything was purged.
    */
  def purgeSpans(docs: DataFrame, k: Int = 8,
      textCol: String = "text"): DataFrame = {
    // spread like kgramHits' root (round 14, guide §2): this second
    // tokenize lineage fed the per-token posexplode as ONE task over
    // the single-row-group scan (stage profile: 797 ms single-task
    // CPU); the identical spread exchange below is reused by both
    val toks = spread(docs)
      .select(col("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
    val ex = kgramHits(docs, k, textCol)
    val owners = ex.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("owner"))
    val purgedPos = ex.join(owners, Seq("h"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1).cast("long")))
          .as("t"))
      .distinct()
    val tokPos = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("t", "tok")))
      .select(col("doc_id"), col("t").cast("long").as("t"), col("tok"))
    val rebuilt = tokPos
      .join(purgedPos, Seq("doc_id", "t"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("t"), col("tok")))),
            s => s.getField("tok"))).as("text_clean"))
    toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_purged"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Total cluster assignment (doc_id, comp): connected components
    * over the verified pairs, singletons labeled with their own id.
    */
  def clusterLabels(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame = {
    val verified = verifiedPairs(docs, threshold, textCol)
      .select(col("d1"), col("d2"))
    val labels = GraphOps.connectedComponents(verified, "d1", "d2")
    docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  /** One survivor per cluster (the minimum doc_id — the component
    * label by construction) with the cluster size it absorbed.
    */
  def survivors(docs: DataFrame, threshold: Double = 0.8,
      textCol: String = "text"): DataFrame =
    labelsTable(docs, threshold, textCol)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("comp").as("doc_id"), col("cluster_size"))

  /** One survivor per cluster chosen by PRIORITY rather than min-id:
    * the highest `priority` (doc_id as the total tie-break) wins.
    * This is the curation-realistic canonical selection — keep the
    * best-quality copy of a near-dup family, not the one that crawled
    * first. `priority` is any expression over `docs`' columns (e.g.
    * the shared [[TextOps.qualityScore]]). One label join + one
    * per-cluster WindowGroupLimit — same shuffle count as
    * [[survivors]] at any scale.
    */
  def survivorsBy(docs: DataFrame, priority: Column,
      threshold: Double = 0.8, textCol: String = "text"): DataFrame = {
    val prioritized = docs.select(col("doc_id"), priority.as("priority"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("priority").desc, col("doc_id").asc)
    labelsTable(docs, threshold, textCol)
      .join(prioritized, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))))
      .filter(col("rn") === 1)
      .select(col("comp"), col("doc_id").as("canonical_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        col("priority"))
  }

  /** End-to-end curation: keep each cluster's canonical doc, then cut
    * on the shared quality score ([[TextOps.qualityScore]]). Returns
    * the input columns minus `textCol`, plus `quality` — the rows ARE
    * the purged training corpus.
    */
  def curate(
      docs: DataFrame,
      threshold: Double = 0.8,
      minQuality: Double = 0.40,
      textCol: String = "text"): DataFrame = {
    val canon = labelsTable(docs, threshold, textCol)
      .filter(col("doc_id") === col("comp"))
      .select(col("doc_id"))
    val kept = docs.columns.filterNot(_ == textCol).map(col).toSeq
    docs
      .select(kept :+
        TextOps.qualityScore(TextOps.tokens(col(textCol))).as("quality"): _*)
      .join(canon, Seq("doc_id"))
      .filter(col("quality") >= minQuality)
  }
}
