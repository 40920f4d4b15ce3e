package graft.ops

import graft.core.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-shaping operators an LLM training-data pipeline runs between
  * dedup and batching: boilerplate-segment removal (the C4/CCNet
  * "line-level dedup" — drop lines shared across many documents:
  * headers, footers, navigation chrome), per-source document caps
  * (content-farm throttling), and source mixture weighting (the
  * "epochs per source" knob that turns a raw crawl into a training
  * mix). The reference corpus has no newline structure, so the segment
  * splitter here is fixed-width token windows; `lineDedup` takes the
  * splitter output as a column, so a real corpus plugs in
  * `split(text, '\n')` unchanged.
  *
  * Scale notes (100 TB): segmentation is per-row (HOF over the token
  * array — no shuffle); the boilerplate table is a distinct-count
  * aggregation over segments whose result is tiny (only segments
  * crossing the doc-frequency threshold) and joins back as a build
  * side; caps and mixtures are per-source windows / per-row explodes —
  * nothing global, nothing quadratic.
  */
object CorpusOps {

  /** Releases the [[CacheScope]]; kept for the benchmark harness
    * (`perfbench/`), whose between-pass reset calls it.
    */
  def release(): Unit = CacheScope.release()

  /** Fixed-width token windows of `textCol`, as an array column —
    * per-row, shuffle-free. Segment i = tokens [i*width, (i+1)*width).
    */
  def segmentArray(textToks: Column, width: Int): Column = {
    val nSegs = ceil(size(textToks) / lit(width.toDouble)).cast("int")
    // sequence(0, -1) would DESCEND (Spark defaults step to -1 when
    // start > stop) — an empty doc must map to zero segments instead.
    when(nSegs > 0,
      transform(sequence(lit(0), nSegs - 1),
        i => array_join(slice(textToks, i * width + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB mirror of [[segmentArray]] over a token-list SQL expr. */
  def segmentArraySql(toksSql: String, width: Int): String =
    s"""list_transform(
          range(0, CAST(ceil(len($toksSql) / $width.0) AS INT)),
          i -> array_to_string(list_slice($toksSql, i * $width + 1, (i + 1) * $width), ' '))"""

  /** C4/CCNet-style boilerplate removal: drop every segment that occurs
    * in at least `minDocs` DISTINCT documents, rebuild each document
    * from its surviving segments in order. Input: one row per document
    * with `idCol` and an array column `segsCol` (from [[segmentArray]]
    * or any real line splitter). Output per document: `doc_id,
    * n_segments, n_kept, cleaned_text` (NULL text when nothing
    * survives, matching SQL string_agg-over-NULLs semantics).
    *
    * Shape: posexplode (per-row) → distinct-doc-count per segment (one
    * uniform-key shuffle; the surviving boilerplate set is tiny — only
    * segments repeated across ≥ minDocs docs) → equi join back → one
    * grouped reassembly. No self-join, no all-pairs.
    */
  def lineDedup(docs: DataFrame, idCol: String, segsCol: String,
                minDocs: Int): DataFrame = {
    // Pin the compact per-doc segment ARRAYS, not the exploded rows:
    // the optimizer infers a `size(segs) > 0` filter under the explode
    // and inlines the full segmentation expression into it — against
    // raw text that re-runs tokenize+segment per row 2-3x (measured 3.3s
    // of q96's 7.7s at sf0.1); against a cached column it's free. The
    // cache also feeds BOTH consumers below (boilerplate aggregate +
    // join probe), whose explodes off the cache are cheap. Boilerplate
    // membership groups/joins on the 60-bit segment hash — long
    // shuffle keys — while reassembly keeps the exact string.
    val segd =
      CacheScope.pin(docs.select(col(idCol), col(segsCol).as("segs")))
    val segs = segd
      .select(col(idCol), posexplode(col("segs")).as(Seq("ord", "seg")))
      .select(col(idCol), col("ord"), col("seg"),
        TextOps.tokenHash(col("seg")).as("seg_h"))
    val boiler = segs
      .groupBy(col("seg_h"))
      .agg(countDistinct(col(idCol)).as("n_docs_with"))
      .filter(col("n_docs_with") >= minDocs)
      .select(col("seg_h"), lit(true).as("is_boiler"))
    val joined = segs.join(boiler, Seq("seg_h"), "left")
    val keptSeg = when(col("is_boiler").isNull, col("seg"))
    joined
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        // sort_array on (ord, seg?) structs restores document order;
        // dropped segments carry NULL and are filtered after the sort
        // so ordering never depends on collect_list's arrival order.
        array_join(
          filter(
            transform(
              sort_array(collect_list(struct(col("ord"), keptSeg.as("seg")))),
              s => s.getField("seg")),
            s => s.isNotNull),
          " ").as("joined"))
      .select(col(idCol), col("n_segments"), col("n_kept"),
        when(col("n_kept") > 0, col("joined")).otherwise(lit(null))
          .as("cleaned_text"))
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * chosen by a deterministic hash order (so the kept subset is
    * run/scale-stable, not ingest-order-dependent). The window is
    * partitioned by source — distributed across sources, never global.
    */
  def sourceCap(docs: DataFrame, idCol: String, sourceCol: String,
                cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = TextOps.tokenHash(
      concat(lit("cap:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(rank.asc, col(idCol).asc)
    docs.select(col(sourceCol), col(idCol), rank.as("rank_hash"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
  }

  /** DSIR-family hashed n-gram importance weights (Xie et al. 2023):
    * score every document by how target-domain-like its hashed bigram
    * distribution is. Per-bucket weights are +1-smoothed LIKELIHOOD
    * RATIOS in e6 fixed-point (`(10⁶·(ct+1)) div (cr+1)`) rather than
    * the paper's log-ratios — float `ln` is not bit-stable across
    * engines, the ratio is exact integer math, and for selection only
    * the ranking matters (the constant Nr/Nt factor is dropped for
    * the same reason). Returns (`idCol`, n_bigrams, avg_w_e6); callers
    * select by deterministic top-k (q223) or threshold. Scale shape:
    * bigrams explode linearly, the weight table is exactly `buckets`
    * rows → broadcast, two linear passes + the per-doc agg — no
    * corpus-sized shuffle beyond the doc key. Overflow bound: the raw
    * pool contains every target row, so ct ≤ cr per bucket and every
    * weight is ≤ 10⁶; a document's score therefore stays < 10⁶·|doc
    * bigrams|, LONG-safe to ~9·10¹² bigrams per document.
    */
  def importanceWeights(docs: DataFrame, idCol: String, toksCol: Column,
      isTarget: Column, buckets: Int = 1024): DataFrame = {
    val bk = docs
      .select(col(idCol), isTarget.as("is_target"), toksCol.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), col("is_target"),
        TextOps.bigrams("tk", "_").as("bigram"))
      .select(col(idCol), col("is_target"),
        pmod(TextOps.tokenHash(col("bigram")), lit(buckets.toLong)).as("b"))
    val w = bk.groupBy(col("b"))
      .agg(sum(when(col("is_target"), lit(1L)).otherwise(lit(0L)))
        .as("ct"),
        count(lit(1)).as("cr"))
      .select(col("b"), expr("(1000000*(ct+1)) div (cr+1)").as("w_e6"))
    bk.join(broadcast(w), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w_e6")).as("score"))
      .select(col(idCol), col("n_bigrams"),
        expr("score div n_bigrams").as("avg_w_e6"))
  }

  /** Hamilton largest-remainder apportionment of an integer budget
    * `T` across the rows of `perSrc` (`source`, `tok`), proportional
    * to `tok`: base quota = ⌊T·tokᵢ/Σtok⌋, leftover seats to the
    * largest remainders (source-name tie-break). All integer math —
    * quotas sum to T exactly and never drift between engines. Runs
    * on the |sources|-row summary only (two broadcast scalars + one
    * tiny window).
    */
  def hamiltonQuotas(perSrc: DataFrame, T: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withTot = perSrc.crossJoin(
      broadcast(perSrc.agg(sum(col("tok")).as("tot"))))
      .withColumn("base", expr(s"($T * tok) div tot"))
      .withColumn("rem", expr(s"($T * tok) % tot"))
    val deficit = withTot
      .agg((lit(T) - sum(col("base"))).as("deficit"))
    withTot.crossJoin(broadcast(deficit))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .select(col("source"), col("tok"),
        (col("base") + when(col("rr") <= col("deficit"), 1L).otherwise(0L))
          .as("quota"))
  }

  /** Greedy prefix draw against per-source quotas: within each
    * source, documents are taken in stable draw-hash order while the
    * cumulative token count stays within that source's quota. The
    * kept set is identical across runs, engines, and ingest order;
    * appending new docs only ever APPENDS to a source's kept prefix
    * if the hash order places them later. One broadcast join against
    * the quota table + one per-source window (distributes across
    * sources, no global sort). Returns the kept docs with their
    * running total.
    */
  def prefixDraw(docs: DataFrame, quotas: DataFrame, idCol: String,
      sourceCol: String, nTokensCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = TextOps.tokenHash(
      concat(lit("draw:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(h.asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(quotas.select(col(sourceCol), col("quota"))),
        Seq(sourceCol))
      .withColumn("cum", sum(col(nTokensCol)).over(w))
      .where(col("cum") <= col("quota"))
  }

  /** BM25 ranked retrieval over the corpus for a literal bag of query
    * terms, in EXACT integer fixed-point so the ranking is
    * bit-reproducible across engines and runs (k1 = 1.2, b = 0.75;
    * idf uses the q100 integer convention `(1e6·N) div df` rather
    * than the transcendental log — the monotone-in-1/df shape is what
    * the ranking needs, and integer div is what hash-equality needs).
    *
    * Fixed-point budget: the contribution numerator is
    * `idf_e6 · tf · 22000`; with idf_e6 ≤ 1e6·N/df and tf ≤ doc
    * length, it stays inside signed 64-bit for corpora up to ~1e10
    * docs with df ≥ N/1e5 — beyond that, drop idf to e3.
    *
    * Scale shape: tf is one explode+groupBy restricted to the query
    * terms (the `isin` filter prunes the explode's output before the
    * shuffle); df and the corpus totals are tiny broadcast sides; the
    * final top-k is TakeOrderedAndProject, never a global sort.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], topK: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // tokenization feeds dl AND tf — materialize or both scans re-clean
    val tokd = CacheScope.pin(docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks")))
    val dl = tokd.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tf = tokd.select(col("doc_id"), explode(col("toks")).as("word"))
      .filter(col("word").isInCollection(terms))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tots = dl.agg(count(lit(1)).as("n_total"),
      sum(col("dl")).as("tok_total"))
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(dfT), Seq("word"))
      .crossJoin(broadcast(tots))
      .withColumn("avgdl_e3", expr("(1000 * tok_total) div n_total"))
      .withColumn("norm_e3",
        expr("250 + (750 * ((1000000 * dl) div avgdl_e3)) div 1000"))
      .withColumn("idf_e6", expr("(1000000 * n_total) div df"))
      .withColumn("contrib_e6",
        expr("(idf_e6 * tf * 22000) div (tf * 10000 + 12 * norm_e3)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("contrib_e6")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Plain TF-IDF retrieval over a literal query bag — the "second
    * ranker" beside [[bm25TopK]]: score_e6 = Σ_terms tf · idf_e6 with
    * the same integer idf (1e6·N div df) but NO length normalization,
    * so long documents that repeat a term outrank BM25's saturated
    * ordering. Exact integer fixed-point throughout.
    *
    * Scale shape: one explode pruned to the query terms before the
    * shuffle; df and the corpus total are broadcast; top-k is
    * TakeOrderedAndProject. The single tokenize pass feeds only tf
    * (no dl), so nothing needs pinning.
    */
  def tfidfTopK(docs: DataFrame, terms: Seq[String], topK: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isInCollection(terms))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tots = docs.agg(count(lit(1)).as("n_total"))
    tf.join(broadcast(dfT), Seq("word"))
      .crossJoin(broadcast(tots))
      .withColumn("idf_e6", expr("(1000000 * n_total) div df"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("tf * idf_e6")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Borda rank fusion of two ranked retrieval lists — the hybrid-
    * retrieval combiner: each list awards `depth + 1 - rank` points to
    * its members (0 to absentees), fused score = the sum. Integer
    * arithmetic end to end, so the fusion is engine/run-stable —
    * unlike reciprocal-rank fusion's 1/(k+r) floats — while preserving
    * RRF's rank-only (score-scale-free) property. Inputs must carry
    * (`doc_id`, `rnk`) with 1-based dense ranks ≤ depth.
    *
    * Scale shape: ranked lists are top-k results — broadcast-sized by
    * construction — so the full outer join never shuffles a corpus.
    */
  def bordaFuse(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val pa = a.select(col("doc_id"),
      col("rnk").cast("long").as("rank_a"))
    val pb = b.select(col("doc_id"),
      col("rnk").cast("long").as("rank_b"))
    pa.join(pb, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("rank_a"), lit(0L)).as("rank_a"),
        coalesce(col("rank_b"), lit(0L)).as("rank_b"),
        (coalesce(lit(depth + 1L) - col("rank_a"), lit(0L)) +
          coalesce(lit(depth + 1L) - col("rank_b"), lit(0L)))
          .as("fused_pts"))
  }

  /** Deterministic global training shuffle: assign every document a
    * shard and an in-shard position from a seeded stable hash — the
    * "shuffle the corpus once, reproducibly" step that precedes
    * training-shard writes. Run/engine/ingest-order stable (same hash
    * discipline as the q83 split): re-running with the same seed
    * reproduces the exact order; changing the seed is a fresh shuffle.
    *
    * At 100 TB the materialization is `repartition(nShards, shard)` +
    * `sortWithinPartitions(h)` into per-shard files — each shard sorts
    * only corpus/nShards rows, no global sort. This returns the
    * assignment itself ((doc_id, shard, pos)) so audits and resumable
    * loaders can address any position without re-reading the corpus.
    */
  def trainingShards(docs: DataFrame, nShards: Int, seed: String,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = TextOps.tokenHash(
      concat(lit(s"$seed:"), col(idCol).cast("string")))
    docs
      .select(col(idCol).as("doc_id"), h.as("h"))
      .select(col("doc_id"), col("h"),
        pmod(col("h"), lit(nShards.toLong)).as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Concat-and-split sequence packing — how GPT-style pipelines
    * materialize training sequences: documents are laid out in the
    * deterministic [[trainingShards]] order, conceptually concatenated
    * per shard, and split at fixed `budget`-token context boundaries.
    * Returns, per document: its pack (the context window where it
    * STARTS), its token offset inside that pack, and how many context
    * boundaries cut through it (0 = fits in one training sequence) —
    * the numbers a loader needs to address any sequence, and the
    * audit needs to count cross-document attention boundaries.
    *
    * Scale shape: one equi-join of the shard assignment onto per-doc
    * token lengths, then a running sum windowed WITHIN each shard —
    * each window sorts corpus/nShards rows, no global sort, and the
    * arithmetic is per-row integer fixed-point (run/engine-stable).
    */
  def packSequences(docs: DataFrame, nShards: Int, seed: String,
      budget: Int, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    import org.apache.spark.sql.expressions.Window
    val dl = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("dl"))
    trainingShards(docs, nShards, seed, idCol)
      .join(dl, Seq("doc_id"))
      .withColumn("cum", sum(col("dl"))
        .over(Window.partitionBy(col("shard")).orderBy(col("pos"))))
      .select(col("doc_id"), col("shard"), col("pos"), col("dl"),
        expr(s"(cum - dl) div $budget").as("pack_id"),
        expr(s"(cum - dl) % $budget").as("pack_offset"),
        when(col("dl") === 0L, 0L)
          .otherwise(
            expr(s"((cum - 1) div $budget) - ((cum - dl) div $budget)"))
          .as("n_boundaries"))
  }

  /** Source mixture weighting: per-source sampling weight w ∈ {1.0,
    * 1.5, 2.0} (derived here from the source id; production passes a
    * weight table) realized as deterministic per-document repeat
    * counts — the integer part replays every document, the fractional
    * part replays the stable-hash half of them. One per-row explode;
    * no RNG, so the mix is reproducible across runs and engines.
    */
  def mixtureEpochs(docs: DataFrame, idCol: String, sourceCol: String)
      : DataFrame = {
    // twice the weight, an exact integer: 2 + (source number mod 3)
    val w2 = lit(2) + substring(col(sourceCol), 4, 10).cast("int") % 3
    val extra = when(w2 % 2 === 1,
      when(pmod(TextOps.tokenHash(
        concat(lit("mix:"), col(idCol).cast("string"))), lit(2L)) === 0L,
        1).otherwise(0)).otherwise(0)
    val reps = (w2.cast("long") / 2L).cast("long") + extra.cast("long")
    docs
      .select(col(sourceCol), col(idCol), reps.as("reps"))
      .select(col(sourceCol), col(idCol),
        explode(sequence(lit(1L), col("reps"))).as("epoch"))
  }
}
