package graft.ops

import graft.core.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SEMANTIC (embedding-space) near-dup chain as a PUBLIC library
  * API — the embedding twin of [[CurationOps]]: banded hyperplane-LSH
  * candidates → exact cosine verification → connected-component
  * cluster labels, callable on any `(vec_id LONG, embedding
  * ARRAY<FLOAT>)` frame. The Similarity/Dedup gate queries (q33, q112,
  * q120) delegate here; SemDeDup-style paraphrase dedup (Abbas et al.
  * 2023) is `labelsTable` + a survivor rule, run beside the text
  * chain's MinHash pass.
  *
  * Scale shape (same invariants as the text chain): signatures/band
  * keys are per-row expressions; pairwise work is confined to LSH
  * buckets through a uniform (band, bkey) equi-join; cluster
  * formation is the contracting iterative star join; `pairsTable` /
  * `labelsTable` persist the derivation once per (corpus, threshold)
  * via the shared [[ArtifactStore]], so every downstream audit reads
  * a parquet table instead of re-deriving the chain. Cosines are
  * round(·, 6)-pinned so a last-ulp summation difference can never
  * flip a verify decision across engines.
  *
  * Cache lifecycle: the normalized-vector projection feeding both
  * sides of the candidate self-join is pinned through
  * [[graft.core.CacheScope]] (the concurrent-stage race discipline).
  */
object SemanticOps {

  /** Releases the [[CacheScope]]; kept for the benchmark harness
    * (`perfbench/`), whose between-pass reset calls it.
    */
  def release(): Unit = CacheScope.release()

  /** Scale-adaptive compute spread (round 13, guide §2 — the same
    * rule as CurationOps): a small embeddings table scans as ONE task
    * (single-row-group parquet), so the per-row norm and the 4×16
    * hyperplane-sign band keys all ran single-core (stage profile:
    * q208's banding stage was 1 task / 1.35 s CPU). Repartition by the
    * row id only when the input carries fewer partitions than the
    * session parallelism — at scale this is the identity, and the
    * partition count follows spark.sql.shuffle.partitions/AQE.
    * Round 14: the trigger reads analyzed-plan leaf byte stats
    * ([[SpreadOps.underParallel]]) instead of `rdd.getNumPartitions`
    * (which planned the un-spread query a second time).
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    SpreadOps.spread(df, col(idCol))

  /** (vec_id, v DOUBLE[], nrm) — the shared normalized projection. */
  def normalized(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    spread(emb, idCol)
      .select(col(idCol).as("vec_id"),
        VectorOps.toDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"),
        VectorOps.norm(col("v")).as("nrm"))

  /** Count-scaled band resolution — [[IndexStore.scaledBitsRow]] at
    * divisor 32, floor `minRows`, and the fix the full-pack sf1 sweep
    * demanded: a FIXED band key space saturates (at 10× the shipped
    * corpus, 16 keys per band held ~300 vectors each and pairing went
    * quadratic — measured 41×/24× on the 10× step). Each band computes
    * its full 16-bit sign key and keeps only the low r bits, where r
    * is the smallest value in [minRows, 16] with 2^r ≥ n/32, so the
    * expected band-bucket size stays ≤ ~32 up to n ≈ 2M per band (the
    * previous 8-bit ceiling re-saturated at n ≈ 2^8·32 ≈ 8k — one
    * decade past sf1, not the 100× the design brief asks). At
    * sf0.001/sf0.01 (≤512 vectors) r = minRows; at sf0.1 (2000
    * vectors) r = 6, so the recall curve there is 1-(1-p^6)^bands.
    * Masking (rather than re-planing) keeps the plane machinery static
    * so the DuckDB mirror derives the same r from its own COUNT(*)
    * and applies the same mask. One row, column `r`.
    */
  private def scaledRowsRow(v: DataFrame, minRows: Int): DataFrame =
    IndexStore.scaledBitsRow(v, 32, minRows, "r")

  /** The shared (vec_id, band, bkey) banding frame: full 16-bit band
    * keys ([[VectorOps.lshBandKeys16]] — low 8 bits identical to the
    * historical 8-bit keys, so r ≤ 8 reproduces them bit-for-bit)
    * masked to the count-scaled low r bits.
    */
  private def bandKeyed(v: DataFrame, dim: Int, bands: Int,
      minRows: Int): DataFrame =
    v.select(col("vec_id"),
        explode(VectorOps.lshBandKeys16(col("v"), dim, bands)).as("bk"))
      .crossJoin(broadcast(scaledRowsRow(v, minRows)))
      .select(col("vec_id"), col("bk.band").as("band"),
        (col("bk.bkey") % expr("shiftleft(CAST(1 AS BIGINT), r)"))
          .as("bkey"))

  /** Verified near-dup pairs (d1 < d2, cos): banded hyperplane-LSH
    * candidates (uniform equi-join, quadratic work confined to
    * buckets), exact cosine ≥ `threshold` computed for candidates
    * only. `dim` must match the embedding width; `rowsPerBand` is the
    * resolution FLOOR — the effective bits per band scale with the
    * corpus count ([[bandKeyed]]), so bucket sizes stay bounded and
    * candidate work stays linear at any SF; recall follows the
    * standard 1-(1-p^r)^bands curve at the derived r.
    */
  def neardupPairs(emb: DataFrame, threshold: Double = 0.45,
      dim: Int = 64, bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = CacheScope.pin(normalized(emb, idCol, vecCol))
    val keyed = bandKeyed(v, dim, bands, rowsPerBand)
    val cand = keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    val q = v.select(col("vec_id").as("d1"), col("v").as("qv"),
      col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("d2"), col("v").as("cv"),
      col("nrm").as("cn"))
    cand.join(q, Seq("d1")).join(c, Seq("d2"))
      .select(col("d1"), col("d2"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** TOTAL cluster assignment: (vec_id, cluster) for every input row,
    * cluster = min vec_id of the connected component of the verified
    * near-dup graph (singletons carry their own id). The SemDeDup
    * survivor rule is `vec_id === cluster`.
    */
  def semanticLabels(emb: DataFrame, threshold: Double = 0.45,
      dim: Int = 64, bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = neardupPairs(emb, threshold, dim, bands, rowsPerBand,
      idCol, vecCol).select(col("d1"), col("d2"))
    val comp = GraphOps.connectedComponents(pairs, "d1", "d2")
    emb.select(col(idCol).cast("long").as("vec_id"))
      .join(comp, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        least(col("vec_id"), coalesce(col("comp"), col("vec_id")))
          .as("cluster"))
  }

  /** [[neardupPairs]] with the hot-bucket cap — the embedding twin of
    * [[CurationOps.lshCandidatePairsCapped]] for corpora where one
    * embedding repeats massively (the same boilerplate page embedded
    * millions of times lands every copy in identical sign buckets):
    * buckets ≤ `bucketCap` pair all-vs-all exactly as the uncapped
    * form; an oversized bucket emits a star to its minimum vec_id —
    * O(B) verified edges reaching the same connected components
    * whenever the star edges verify, which duplicated embeddings do
    * by construction. Same documented trade: the pair list is not
    * exhaustive inside hot buckets.
    */
  def neardupPairsCapped(emb: DataFrame, threshold: Double = 0.45,
      bucketCap: Int = 1024, dim: Int = 64, bands: Int = 4,
      rowsPerBand: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    val v = CacheScope.pin(normalized(emb, idCol, vecCol))
    val keyed = CacheScope.pin(bandKeyed(v, dim, bands, rowsPerBand))
    val stats = keyed.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("rep"))
    val sized = keyed.join(stats, Seq("band", "bkey"))
    val small = sized.filter(col("n_vecs") <= bucketCap)
    val smallPairs = small
      .select(col("vec_id").as("d1"), col("band"), col("bkey"))
      .join(small.select(col("vec_id").as("d2"),
          col("band").as("band2"), col("bkey").as("bkey2")),
        col("band") === col("band2") && col("bkey") === col("bkey2") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    val starPairs = sized
      .filter(col("n_vecs") > bucketCap && col("vec_id") =!= col("rep"))
      .select(col("rep").as("d1"), col("vec_id").as("d2"))
    val cands = smallPairs.union(starPairs).distinct()
    val q = v.select(col("vec_id").as("d1"), col("v").as("qv"),
      col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("d2"), col("v").as("cv"),
      col("nrm").as("cn"))
    cands.join(q, Seq("d1")).join(c, Seq("d2"))
      .select(col("d1"), col("d2"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Batch-proportional incremental probe — the embedding twin of
    * [[CurationOps.verifiedPairsIncremental]]: one side of the band
    * join is restricted to `isNew` rows BEFORE pairing, so old-old
    * (corpus-internal) pairs never form and daily-ingest cost is
    * batch-proportional. Orientation-safe (pairs normalized to
    * least/greatest), so a new vector is flagged against an existing
    * near-duplicate regardless of id order. `isNew` is evaluated
    * against the `vec_id` column of the normalized projection.
    */
  def neardupPairsIncremental(emb: DataFrame,
      isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.45,
      dim: Int = 64, bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = CacheScope.pin(normalized(emb, idCol, vecCol))
    val keyed = bandKeyed(v, dim, bands, rowsPerBand)
    val nw = keyed.filter(isNew)
      .select(col("vec_id").as("dn"), col("band"), col("bkey"))
    val cand = nw
      .join(keyed.select(col("vec_id").as("da"),
          col("band").as("band2"), col("bkey").as("bkey2")),
        col("band") === col("band2") && col("bkey") === col("bkey2") &&
          col("dn") =!= col("da"))
      .select(least(col("dn"), col("da")).as("d1"),
        greatest(col("dn"), col("da")).as("d2"))
      .distinct()
    val q = v.select(col("vec_id").as("d1"), col("v").as("qv"),
      col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("d2"), col("v").as("cv"),
      col("nrm").as("cn"))
    cand.join(q, Seq("d1")).join(c, Seq("d2"))
      .select(col("d1"), col("d2"),
        round(VectorOps.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def params(threshold: Double, dim: Int, bands: Int,
      rowsPerBand: Int): String =
    s"${java.lang.Double.doubleToLongBits(threshold).toHexString}" +
      s"-$dim-$bands-$rowsPerBand"

  /** [[neardupPairs]] as a write-once parquet artifact. */
  def pairsTable(emb: DataFrame, threshold: Double = 0.45,
      dim: Int = 64, bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ArtifactStore.materializedOnce(emb, ArtifactStore.key(emb, "sempairs",
      params(threshold, dim, bands, rowsPerBand))) {
      neardupPairs(emb, threshold, dim, bands, rowsPerBand, idCol, vecCol)
    }

  /** [[semanticLabels]] as a write-once parquet artifact — built over
    * [[pairsTable]], so one call materializes both and the audit
    * family (q112, q120) reads two small tables.
    */
  def labelsTable(emb: DataFrame, threshold: Double = 0.45,
      dim: Int = 64, bands: Int = 4, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ArtifactStore.materializedOnce(emb, ArtifactStore.key(emb, "semlabels",
      params(threshold, dim, bands, rowsPerBand))) {
      val pairs = pairsTable(emb, threshold, dim, bands, rowsPerBand,
        idCol, vecCol).select(col("d1"), col("d2"))
      val comp = GraphOps.connectedComponents(pairs, "d1", "d2")
      emb.select(col(idCol).cast("long").as("vec_id"))
        .join(comp, col("vec_id") === col("id"), "left")
        .select(col("vec_id"),
          least(col("vec_id"), coalesce(col("comp"), col("vec_id")))
            .as("cluster"))
    }
}
