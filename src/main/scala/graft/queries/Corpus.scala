package graft.queries

import graft.core.{CacheScope, Tables}
import graft.ops.{CorpusOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-shaping pack — the training-data operations that sit between
  * near-dup dedup ([[Dedup]]/`ops.CurationOps`) and model consumption:
  * boilerplate line removal, per-source caps, source mixture weighting,
  * context-window chunking, and TF-IDF keyword extraction. All are
  * oracle-exact (integer/string outputs or safe integer-division
  * fixed-point — no order-dependent FP anywhere).
  */
object Corpus extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private val toks = TextOps.tokens(col("text"))
  private val toksSql = TextOps.tokensSql("text")

  /** q178: exact token-budget apportionment — split a fixed training
    * budget (1M tokens) across sources proportionally to their
    * available tokens using Hamilton's largest-remainder method: base
    * quota = ⌊T·srcᵢ/total⌋, then the leftover T−Σbase seats go to
    * the largest remainders (source-name tie-break). All integer
    * math, so quotas are exact, sum to T precisely, and never drift
    * between engines — the step that turns q98's mixture WEIGHTS
    * into integer token QUOTAS a sampler can enforce. Per-source
    * totals are one map-side-partial aggregate; the apportionment
    * runs over the |sources|-row summary (broadcast scalars + one
    * tiny window), never over the corpus.
    */
  private def tokenQuotas(s: SparkSession, d: String, T: Long): DataFrame =
    CorpusOps.hamiltonQuotas(
      docs(s, d)
        .select(col("source"), size(toks).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("tok")),
      T).orderBy(col("source"))

  private def q178TokenQuotas(s: SparkSession, d: String): DataFrame =
    tokenQuotas(s, d, 1000000L)

  /** The largest-remainder (Hamilton) apportionment as reusable
    * DuckDB CTEs — the SQL mirror of [[CorpusOps.hamiltonQuotas]].
    * Reads `(source, <w>)` rows from `srcRel` and ends in
    * `quota(source, <w>, quota)` with quotas summing to T exactly.
    * ONE copy on purpose: the deficit handling and the
    * `rem DESC, source` tie-break must never drift between the
    * proportional (q178/q179/q187) and temperature-flattened (q229)
    * oracles.
    */
  private[queries] def hamiltonCtes(T: Long, srcRel: String,
      w: String): String =
    s"""wt AS (SELECT source, $w,
                CAST(($T * $w)
                  // (SELECT CAST(SUM($w) AS BIGINT) FROM $srcRel)
                  AS BIGINT) AS base,
                CAST(($T * $w)
                  % (SELECT CAST(SUM($w) AS BIGINT) FROM $srcRel)
                  AS BIGINT) AS rem
         FROM $srcRel),
       rr AS (SELECT *,
                CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                  AS BIGINT) AS rr,
                (SELECT CAST($T - SUM(base) AS BIGINT) FROM wt) AS deficit
         FROM wt),
       quota AS (SELECT source, $w,
                CAST(base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END
                  AS BIGINT) AS quota
         FROM rr)"""

  /** The q178 apportionment as reusable DuckDB CTEs ending in
    * `quota(source, tok, quota)` — shared by q178, q179, and (over
    * the survivor relation) Dedup's q187 manifest.
    */
  private[queries] def quotaCtes(T: Long, rel: String = "documents"): String =
    s"""per_src AS (
         SELECT source, CAST(SUM(len($toksSql)) AS BIGINT) AS tok
         FROM $rel GROUP BY source),
       ${hamiltonCtes(T, "per_src", "tok")}"""

  private val q178Sql =
    s"""WITH ${quotaCtes(1000000L)}
       SELECT source, tok, quota FROM quota ORDER BY source"""

  /** q179: quota-filled corpus draw — consume the q178 quotas: within
    * each source, order documents by a stable content-free hash and
    * keep the greedy prefix whose cumulative token count stays within
    * that source's quota (budget 10k tokens here so the cut bites at
    * every SF). Prefix-fill is the deterministic contract: the kept
    * set is identical across runs, engines, and ingest order, and a
    * re-draw after appending new docs only ever APPENDS to a source's
    * kept set if the hash order places them later. One broadcast join
    * against the 20-row quota table + one per-source window — the
    * cumulative sum distributes across sources; no global sort.
    */
  private def q179QuotaDraw(s: SparkSession, d: String): DataFrame = {
    val quotas = tokenQuotas(s, d, 10000L).select(col("source"), col("quota"))
    val perDoc = docs(s, d).select(col("source"), col("doc_id"),
      size(toks).cast("long").as("n"))
    val kept = CorpusOps.prefixDraw(perDoc, quotas, "doc_id", "source", "n")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_kept"))
    quotas.join(kept, Seq("source"), "left")
      .select(col("source"), col("quota"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
      .orderBy(col("source"))
  }

  private val q179Sql = {
    val hash = TextOps.tokenHashSql("('draw:' || CAST(doc_id AS VARCHAR))")
    s"""WITH ${quotaCtes(10000L)},
       perdoc AS (SELECT source, doc_id,
              CAST(len($toksSql) AS BIGINT) AS n, $hash AS h
         FROM documents),
       cums AS (SELECT p.source, p.n, q.quota,
              SUM(p.n) OVER (PARTITION BY p.source
                             ORDER BY p.h ASC, p.doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
         FROM perdoc p JOIN quota q USING (source)),
       kept AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n) AS BIGINT) AS tok_kept
         FROM cums WHERE cum <= quota GROUP BY source)
       SELECT q.source, q.quota,
              CAST(COALESCE(k.n_docs, 0) AS BIGINT) AS n_docs,
              CAST(COALESCE(k.tok_kept, 0) AS BIGINT) AS tok_kept
       FROM quota q LEFT JOIN kept k USING (source)
       ORDER BY q.source"""
  }

  /** q229: temperature-FLATTENED token quotas — the UniMax/mT5-style
    * counter to q178's proportional split: big web crawls shouldn't
    * drown small high-quality sources, so apportion the budget over
    * √tok weights (temperature α = 0.5) instead of tok. The square
    * root is EXACT integer isqrt on both engines (float floor(sqrt)
    * seeded, then ±1-corrected by integer comparison — immune to the
    * double misrounding that bites near 2⁵³); the apportionment
    * reuses [[CorpusOps.hamiltonQuotas]] verbatim, so quotas still
    * sum to T exactly. Same scale shape as q178: everything after
    * the one corpus aggregate runs on the |sources|-row summary.
    */
  private def q229FlattenedQuotas(s: SparkSession, d: String): DataFrame = {
    val perSrc = docs(s, d)
      .select(col("source"), size(toks).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("tok"))
    val weights = perSrc
      .withColumn("s0",
        expr("cast(floor(sqrt(cast(tok as double))) as bigint)"))
      .withColumn("w", expr(
        "s0 - if(s0*s0 > tok, 1L, 0L) + if((s0+1)*(s0+1) <= tok, 1L, 0L)"))
    CorpusOps.hamiltonQuotas(
        weights.select(col("source"), col("w").as("tok")), 100000L)
      .select(col("source"), col("tok").as("w_isqrt"), col("quota"))
      .join(broadcast(perSrc), Seq("source"))
      .select(col("source"), col("tok"), col("w_isqrt"), col("quota"))
      .orderBy(col("source"))
  }

  private val q229Sql =
    s"""WITH per_src AS (SELECT source,
            CAST(SUM(len($toksSql)) AS BIGINT) AS tok
         FROM documents GROUP BY source),
       isq AS (SELECT source,
            CAST(s0 - CASE WHEN s0*s0 > tok THEN 1 ELSE 0 END
                    + CASE WHEN (s0+1)*(s0+1) <= tok THEN 1 ELSE 0 END
              AS BIGINT) AS w
         FROM (SELECT source, tok,
                 CAST(FLOOR(SQRT(CAST(tok AS DOUBLE))) AS BIGINT) AS s0
               FROM per_src)),
       ${hamiltonCtes(100000L, "isq", "w")}
       SELECT q.source, p.tok, q.w AS w_isqrt, q.quota
       FROM quota q JOIN per_src p USING (source)
       ORDER BY q.source"""

  /** q230: top-k with OTHERS rollup — per language, the top-3 sources
    * by token volume plus ONE residual row aggregating everything
    * else: the standard dashboard report that naive top-k silently
    * falsifies (the tail often outweighs the head). Rank and residual
    * both derive from a single grouped aggregate (|lang|×|source|
    * rows); the rank<=3 branch is WindowGroupLimit-eligible and the
    * residual is a second tiny aggregate — the fact table is touched
    * once. Deterministic source tie-break; `~other` sorts after real
    * sources only via the explicit rk column, never by name. The
    * report's row key is `(lang, rk)` — `~other` is a display label,
    * not a key: a real source literally named "~other" would collide
    * with it on `(lang, source)` but stays distinguishable by rk<=3
    * vs rk=4, so consumers must key on rk.
    */
  private def q230TopSourcesWithOther(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, d)
      .select(col("lang"), col("source"), size(toks).cast("long").as("n"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n")).as("tok"))
    val ranked = base.withColumn("rk",
      row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("tok").desc, col("source"))).cast("long"))
    val top = ranked.filter(col("rk") <= 3L)
      .select(col("lang"), col("source"), col("tok"), col("rk"))
    val other = ranked.filter(col("rk") > 3L)
      .groupBy(col("lang")).agg(sum(col("tok")).as("tok"))
      .select(col("lang"), lit("~other").as("source"), col("tok"),
        lit(4L).as("rk"))
    top.unionByName(other).orderBy(col("lang"), col("rk"), col("source"))
  }

  private val q230Sql =
    s"""WITH base AS (SELECT lang, source,
            CAST(SUM(len($toksSql)) AS BIGINT) AS tok
         FROM documents GROUP BY 1, 2),
       ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY tok DESC, source) AS BIGINT) AS rk
                  FROM base)
       SELECT lang, source, tok, rk FROM ranked WHERE rk <= 3
       UNION ALL
       SELECT lang, '~other' AS source, CAST(SUM(tok) AS BIGINT) AS tok,
              CAST(4 AS BIGINT) AS rk
       FROM ranked WHERE rk > 3 GROUP BY lang
       ORDER BY lang, rk, source"""

  /** q96: C4/CCNet-style boilerplate removal. Segments here are
    * fixed-width 4-token windows (the synthetic corpus has no newline
    * structure; a real corpus passes `split(text, '\n')` into the same
    * [[CorpusOps.lineDedup]]); a segment occurring in ≥3 distinct
    * documents is chrome (header/footer/nav) and is dropped from every
    * document, which then gets reassembled from its surviving segments
    * in order. Per-row segmentation → one distinct-count shuffle whose
    * survivors (the boilerplate set) are tiny → equi join back → one
    * grouped ordered reassembly. Nothing quadratic at any scale.
    */
  private def q96LineDedup(s: SparkSession, d: String): DataFrame = {
    val segd = docs(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), CorpusOps.segmentArray(col("toks"), 4).as("segs"))
    CorpusOps.lineDedup(segd, "doc_id", "segs", 3).orderBy(col("doc_id"))
  }

  private val q96Sql = {
    val segsSql = CorpusOps.segmentArraySql(toksSql, 4)
    val segHash = TextOps.tokenHashSql("seg")
    s"""WITH segd AS (SELECT doc_id, $segsSql AS segs FROM documents),
       segs AS (SELECT doc_id, seg, ord, $segHash AS seg_h FROM
         (SELECT doc_id, unnest(segs) AS seg,
                 unnest(range(1, len(segs) + 1)) AS ord FROM segd)),
       boiler AS (SELECT seg_h FROM segs GROUP BY seg_h
                  HAVING count(DISTINCT doc_id) >= 3)
       SELECT s.doc_id,
              count(*) AS n_segments,
              CAST(sum(CASE WHEN b.seg_h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              string_agg(CASE WHEN b.seg_h IS NULL THEN s.seg END,
                         ' ' ORDER BY s.ord) AS cleaned_text
       FROM segs s LEFT JOIN boiler b ON s.seg_h = b.seg_h
       GROUP BY s.doc_id ORDER BY s.doc_id"""
  }

  /** q97: per-source document cap (content-farm / crawler-bug
    * throttling): keep at most 15 documents per source, selected by
    * deterministic hash rank so the kept subset is stable across runs,
    * engines, and ingest order. Per-source windows distribute; no
    * global sort.
    */
  private def q97SourceCaps(s: SparkSession, d: String): DataFrame =
    CorpusOps.sourceCap(docs(s, d), "doc_id", "source", 15)
      .select(col("source"), col("doc_id"), col("rank_hash"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("source"), col("rk"))

  private val q97Sql = {
    val hash = TextOps.tokenHashSql("('cap:' || CAST(doc_id AS VARCHAR))")
    s"""WITH r AS (SELECT source, doc_id, $hash AS rank_hash,
              row_number() OVER (PARTITION BY source
                                 ORDER BY $hash ASC, doc_id ASC) AS rk
            FROM documents)
       SELECT source, doc_id, rank_hash, rk FROM r
       WHERE rk <= 15 ORDER BY source, rk"""
  }

  /** q98: source mixture weighting — the "epochs per source" knob that
    * turns a raw crawl into a training mix. Weights w ∈ {1.0, 1.5,
    * 2.0} per source realized as deterministic per-document repeat
    * counts (integer part replays all docs, fractional part the
    * stable-hash half); output is the per-source doc vs sample ledger.
    * One per-row explode + one grouped count — reproducible, RNG-free.
    */
  private def q98MixtureEpochs(s: SparkSession, d: String): DataFrame =
    CorpusOps.mixtureEpochs(docs(s, d), "doc_id", "source")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_samples"))
      .orderBy(col("source"))

  private val q98Sql = {
    val hash = TextOps.tokenHashSql("('mix:' || CAST(doc_id AS VARCHAR))")
    s"""WITH x AS (SELECT source, doc_id,
              2 + CAST(substr(source, 4) AS INT) % 3 AS w2, $hash AS h
            FROM documents),
       r AS (SELECT source, doc_id,
              CAST(w2 // 2 AS BIGINT)
                + CASE WHEN w2 % 2 = 1 AND h % 2 = 0 THEN 1 ELSE 0 END AS reps
            FROM x),
       e AS (SELECT source, doc_id, unnest(range(1, reps + 1)) AS epoch FROM r)
       SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              count(*) AS n_samples
       FROM e GROUP BY source ORDER BY source"""
  }

  /** q99: context-window chunking — split every document into
    * max-32-token training sequences with stride 24 (8-token overlap),
    * the standard long-document → fixed-context preprocessing step.
    * Start count is closed-form integer math; chunk extraction is a
    * per-row explode + slice, shuffle-free until the final order.
    */
  private def q99ContextChunks(s: SparkSession, d: String): DataFrame = {
    val (win, stride) = (32L, 24L)
    val base = docs(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"))
    // long `/` is double division; cast back truncates == floor for
    // non-negatives, and quotients here are ≥ 1/stride from integers,
    // far outside double rounding error — mirrors DuckDB `//`.
    val nStarts = lit(1L) +
      ((greatest(lit(0L), col("n") - win) + (stride - 1L)) / stride)
        .cast("long")
    base
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), nStarts - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(win), col("n") - col("chunk_idx") * stride).as("n_tokens"),
        array_join(
          slice(col("toks"), (col("chunk_idx") * stride + 1L).cast("int"),
            lit(win.toInt)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val q99Sql =
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       b2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM base),
       st AS (SELECT doc_id, toks, n,
                unnest(range(0, 1 + (greatest(0, n - 32) + 23) // 24))
                  AS chunk_idx
              FROM b2)
       SELECT doc_id, chunk_idx,
              CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_tokens,
              array_to_string(
                list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32),
                ' ') AS chunk_text
       FROM st ORDER BY doc_id, chunk_idx"""

  /** q181: deterministic MLM masking prep (BERT-style span
    * corruption): each token position is masked iff a stable per-
    * (doc, position) hash lands under 15%, producing the
    * (masked_text, targets) training pair plus the mask ledger. RNG-
    * free — the SAME positions mask on every run, engine, and
    * partitioning, so the training set is reproducible end-to-end and
    * the oracle can hash-match it. Everything is one per-row
    * projection (token array pinned first — HOF lambdas must not
    * re-derive it per element); no shuffle at all before the gate's
    * ORDER BY.
    */
  private def q181MlmMasking(s: SparkSession, d: String): DataFrame = {
    def maskCond(i: Column, docId: Column): Column =
      TextOps.tokenHash(concat(lit("mlm:"), docId.cast("string"),
        lit(":"), i.cast("string"))) % 100 < 15
    docs(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        filter(col("t"), (_, i) => maskCond(i, col("doc_id")))
          .as("masked_toks"),
        array_join(transform(col("t"),
          (w, i) => when(maskCond(i, col("doc_id")), lit("[MASK]"))
            .otherwise(w)), " ").as("masked_text"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("masked_toks")).cast("long").as("n_masked"),
        array_join(col("masked_toks"), " ").as("targets"),
        col("masked_text"))
      .orderBy(col("doc_id"))
  }

  private val q181Sql = {
    def cond(i: String) = "CAST(('0x' || substr(md5('mlm:' || " +
      s"CAST(doc_id AS VARCHAR) || ':' || CAST($i AS VARCHAR)), 1, 15)) " +
      "AS BIGINT) % 100 < 15"
    s"""WITH base AS (SELECT doc_id, $toksSql AS t FROM documents),
       m AS (SELECT doc_id, t,
               list_filter(range(len(t)), i -> ${cond("i")}) AS mpos
             FROM base)
       SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
              CAST(len(mpos) AS BIGINT) AS n_masked,
              -- duckdb array_to_string([]) is NULL, spark's is ''
              COALESCE(array_to_string(
                list_transform(mpos, i -> t[i + 1]), ' '), '') AS targets,
              array_to_string(
                list_transform(range(len(t)),
                  i -> CASE WHEN ${cond("i")}
                       THEN '[MASK]' ELSE t[i + 1] END), ' ') AS masked_text
       FROM m ORDER BY doc_id"""
  }

  /** q185: deterministic negative sampling — contrastive-training
    * prep: each anchor document draws k=3 candidate negatives by
    * stable hash into the contiguous doc_id space, then keeps only
    * CROSS-SOURCE draws (a same-source or self draw is discarded, not
    * re-drawn — the documented, engine-exact contract; with 20 sources
    * the expected yield is ~95% of 3k). RNG-free: the same anchor
    * always gets the same negatives, so a resumed or re-run training
    * job sees an identical pair set. The draw is a per-row expression;
    * resolving each draw's source is one equi-join on the uniform
    * hash-picked id — no cartesian anywhere.
    */
  private def q185NegativeSamples(s: SparkSession, d: String): DataFrame = {
    val n = docs(s, d).agg(count(lit(1)).as("n_docs_total"))
    val picks = docs(s, d).select(col("doc_id"), col("source").as("src_a"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("src_a"), col("n_docs_total"),
        explode(sequence(lit(0L), lit(2L))).as("draw_idx"))
      .withColumn("neg_id", pmod(TextOps.tokenHash(
        concat(lit("neg:"), col("doc_id").cast("string"),
          lit(":"), col("draw_idx").cast("string"))), col("n_docs_total")))
    picks.join(docs(s, d).select(col("doc_id").as("neg_id"),
        col("source").as("src_n")), "neg_id")
      .filter(col("src_n") =!= col("src_a") &&
        col("neg_id") =!= col("doc_id"))
      .select(col("doc_id"), col("draw_idx"), col("neg_id"),
        col("src_a"), col("src_n"))
      .orderBy(col("doc_id"), col("draw_idx"))
  }

  private val q185Sql = {
    val hash = TextOps.tokenHashSql(
      "('neg:' || CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(draw_idx AS VARCHAR))")
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
                   FROM documents),
       draws AS (SELECT doc_id, source AS src_a,
                        unnest(range(0, 3)) AS draw_idx
                 FROM documents),
       picks AS (SELECT doc_id, src_a, draw_idx,
                        $hash % n_docs_total AS neg_id
                 FROM draws CROSS JOIN n)
       SELECT p.doc_id, p.draw_idx, p.neg_id, p.src_a,
              d.source AS src_n
       FROM picks p JOIN documents d ON d.doc_id = p.neg_id
       WHERE d.source <> p.src_a AND p.neg_id <> p.doc_id
       ORDER BY p.doc_id, p.draw_idx"""
  }

  /** q100: TF-IDF keyword extraction, top-3 terms per document. The
    * idf is exact integer fixed-point — `(1e6 · N) div df` — so the
    * score is order-independent integer math that hash-matches across
    * engines (no transcendental log whose last bit could differ). The
    * document-frequency table is vocabulary-sized → broadcast; the
    * per-doc rank is a doc-partitioned window (WindowGroupLimit), never
    * global.
    */
  private def q100TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds BOTH join sides (probe + the df aggregate) — cache AND
    // materialize before the join, or the two concurrent stage scans
    // race the cache population and each recomputes the explode+agg.
    // Spread the docs before tokenize+explode (round 14, guide §2 —
    // the CurationOps rule): a single-row-group corpus scans as ONE
    // task, so the per-row tokenize and the tf partial aggregation ran
    // single-core (stage profile: the tf map side was a 1-task stage);
    // identity at scale ([[graft.ops.SpreadOps]]).
    val tf = graft.ops.SpreadOps.spread(docs(s, d), col("doc_id"))
      .select(col("doc_id"), explode(toks).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .transform(CacheScope.pin)
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nTotal = docs(s, d).agg(count(lit(1)).as("n_total"))
    // integer `div`, not double `/` + cast: the double path is exact
    // only while 1e6·N < 2^53 — `div` keeps the fixed-point contract
    // at any corpus size.
    val idfE6 = expr("(cast(1000000 as bigint) * n_total) div df")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("word").asc)
    tf.join(broadcast(df), Seq("word"))
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        (col("tf") * idfE6).as("score_e6"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy(col("doc_id"), col("rk"))
  }

  private val q100Sql =
    s"""WITH tf AS (SELECT doc_id, word, count(*) AS tf
            FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents)
            GROUP BY doc_id, word),
       df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       n AS (SELECT count(*) AS n_total FROM documents),
       sc AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
                CAST(tf.tf * ((1000000 * n.n_total) // df.df) AS BIGINT)
                  AS score_e6
              FROM tf JOIN df USING (word) CROSS JOIN n),
       r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score_e6 DESC, word ASC) AS rk FROM sc)
       SELECT doc_id, word, tf, df, score_e6, rk FROM r
       WHERE rk <= 3 ORDER BY doc_id, rk"""

  /** q101: TextRank — weighted PageRank over the word co-occurrence
    * graph, the graph-based competitor to q100's TF-IDF keyword
    * scoring (Mihalcea & Tarau 2004). Nodes = non-stopword words,
    * edge weight = number of position pairs co-occurring within a
    * sliding window of [[textrankWindow]] raw-token positions — the
    * paper's actual definition, and the scale bound: pair generation
    * is an EQUI-join on (doc_id, position+offset) after an offset
    * explode, so per-doc work is O(len·window), never O(len²), no
    * matter how long real documents get. Ranking runs in
    * [[graft.ops.GraphOps.weightedPageRank]]'s exact integer
    * fixed-point, so three distributed join+agg rounds hash-match the
    * oracle's unrolled CTEs bit-for-bit — no FP drift.
    */
  private def q101Textrank(s: SparkSession, d: String): DataFrame = {
    import graft.ops.GraphOps
    // Hash-partition the exploded tokens by doc_id BEFORE caching:
    // both sides of the windowCooccurrence equi-join derive from this
    // cache, so its (doc_id)-partitioning satisfies the join's
    // (doc_id, pos2) requirement on a key subset and the join runs
    // with ZERO exchanges at whatever parallelism the shuffle gave it
    // — instead of single-threaded over the one cached scan partition
    // (small-SF parquet is one row group) plus two token-level
    // exchanges at scale. Keyed repartition (not a constant N): the
    // partition count follows spark.sql.shuffle.partitions/AQE, so
    // the same code is right at any scale.
    val tok = positionedTokens(docs(s, d))
      .repartition(col("doc_id")).cache()
    // the ranking is checkpointed, so the select below no longer
    // reads `tok`
    try {
      tok.count()
      val pairs = windowCooccurrence(tok, textrankWindow)
      GraphOps.weightedPageRank(pairs, "w1", "w2", "w", iters = 3)
        .select(col("u").as("word"), col("score"))
        .orderBy(col("score").desc, col("word").asc)
    } finally tok.unpersist()
  }

  /** TextRank co-occurrence window, in raw-token positions (stopwords
    * are removed but keep their gap, so the window measures distance
    * in the original text).
    */
  val textrankWindow = 8

  /** Non-stopword tokens with their 0-based raw position:
    * (doc_id, pos, word).
    */
  private[queries] def positionedTokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "word")))
      .filter(!col("word").isInCollection(TextOps.stopwords))

  /** Window-bounded co-occurrence pairs: for each token occurrence,
    * explode the offsets 1..window and EQUI-join on
    * (doc_id, pos + off = pos) — each output row is one position pair
    * at distance ≤ window, so total pairs are O(tokens·window) by
    * construction (the long-document bound q101 needs; a doc-keyed
    * self-join with a range residual would still enumerate O(len²)
    * candidates per doc at probe time). Pair key is unordered
    * (least, greatest); same-word pairs drop.
    */
  private[queries] def windowCooccurrence(
      tok: DataFrame, window: Int): DataFrame = {
    val probe = tok.select(col("doc_id"), col("pos"),
        explode(sequence(lit(1), lit(window))).as("off"),
        col("word").as("wa"))
      .select(col("doc_id"), (col("pos") + col("off")).as("pos2"),
        col("wa"))
    probe
      .join(tok.select(col("doc_id"), col("pos").as("pos2"),
        col("word").as("wb")), Seq("doc_id", "pos2"))
      .filter(col("wa") =!= col("wb"))
      .select(least(col("wa"), col("wb")).as("w1"),
        greatest(col("wa"), col("wb")).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("w"))
  }

  private val q101Sql = {
    val stops = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
    val iter = (prev: String, next: String) =>
      s"""$next AS (SELECT ew.v AS u,
            150000000 + (85 * CAST(SUM((s.score * ew.w) // ew.wdeg) AS BIGINT)) // 100
              AS score
          FROM ew JOIN $prev s ON ew.u = s.u GROUP BY ew.v)"""
    s"""WITH tokp AS (SELECT doc_id, unnest($toksSql) AS word,
           unnest(range(0, len($toksSql))) AS pos FROM documents),
       tok AS (SELECT doc_id, word, pos FROM tokp
         WHERE word NOT IN ($stops)),
       pairs AS (SELECT least(a.word, b.word) AS w1,
           greatest(a.word, b.word) AS w2, COUNT(*) AS w
         FROM tok a JOIN tok b ON a.doc_id = b.doc_id
           AND b.pos > a.pos AND b.pos <= a.pos + $textrankWindow
           AND a.word <> b.word
         GROUP BY 1, 2),
       e AS (SELECT w1 AS u, w2 AS v, w FROM pairs
             UNION ALL SELECT w2, w1, w FROM pairs),
       deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY u),
       ew AS (SELECT e.u, e.v, e.w, deg.wdeg FROM e JOIN deg USING (u)),
       s0 AS (SELECT DISTINCT u, CAST(1000000000 AS BIGINT) AS score FROM e),
       ${iter("s0", "s1")},
       ${iter("s1", "s2")},
       ${iter("s2", "s3")}
       SELECT u AS word, score FROM s3 ORDER BY score DESC, word ASC"""
  }

  /** The q110 query bag: one rare discriminative term (`dup`,
    * df ≈ 5% of docs) among common ones — the shape where BM25's
    * idf/length-normalization actually reorders results vs raw tf.
    */
  private val q110Terms = Seq("fast", "spark", "query", "dup")

  /** q110: BM25 ranked retrieval ([[CorpusOps.bm25TopK]]) — top-15
    * documents for a literal query bag, exact integer fixed-point
    * (k1 = 1.2, b = 0.75, integer idf). The search-side operator of
    * the corpus pack: df + totals broadcast, explode pruned to the
    * query terms before the shuffle, top-k via TakeOrderedAndProject.
    */
  private def q110Bm25Search(s: SparkSession, d: String): DataFrame =
    CorpusOps.bm25TopK(docs(s, d), q110Terms, topK = 15)

  /** DuckDB twin of [[CorpusOps.bm25TopK]] over the q110 bag, every
    * document scored and none cut: the tokens `t` (doc_id, toks), the
    * BM25 chain dl → tf → dfq → tots → sc0–sc3, and `bm` (doc_id,
    * n_terms_hit, score_e6).
    */
  private val bm25Ctes = {
    val terms = q110Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, unnest(toks) AS word FROM t)
              WHERE word IN ($terms) GROUP BY doc_id, word),
       dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY word),
       tots AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                CAST(sum(dl) AS BIGINT) AS tok_total FROM dl),
       sc0 AS (SELECT tf.doc_id, tf.tf, dl.dl, dfq.df, n_total, tok_total
               FROM tf JOIN dl USING (doc_id) JOIN dfq USING (word)
               CROSS JOIN tots),
       sc1 AS (SELECT *, (1000 * tok_total) // n_total AS avgdl_e3
               FROM sc0),
       sc2 AS (SELECT *,
                 250 + (750 * ((1000000 * dl) // avgdl_e3)) // 1000
                   AS norm_e3,
                 (1000000 * n_total) // df AS idf_e6 FROM sc1),
       sc3 AS (SELECT doc_id,
                 (idf_e6 * tf * 22000) // (tf * 10000 + 12 * norm_e3)
                   AS contrib_e6 FROM sc2),
       bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(contrib_e6) AS BIGINT) AS score_e6
         FROM sc3 GROUP BY doc_id)"""
  }

  private val q110Sql =
    s"""WITH $bm25Ctes
       SELECT doc_id, n_terms_hit, score_e6 FROM bm
       ORDER BY score_e6 DESC, doc_id ASC LIMIT 15"""

  /** Dense 1-based rank over a top-k-bounded score list. The global
    * window is deliberate: inputs are top-k results (≤ depth rows), so
    * the single-partition sort is broadcast-sized by construction.
    */
  private def rankedTop(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.select(col("doc_id"), col("score_e6"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("score_e6").desc, col("doc_id").asc))
        .cast("long"))
  }

  /** SQL twin of [[rankedTop]] cut at `depth`: the CTE `name`
    * (doc_id, rnk) over the CTE `scored` (doc_id, score_e6).
    */
  private def rankedTopSql(name: String, scored: String,
      depth: Int): String =
    s"""$name AS (SELECT doc_id, rnk FROM (
         SELECT doc_id, CAST(row_number() OVER
             (ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS rnk
           FROM $scored) WHERE rnk <= $depth)"""

  /** q113: hybrid retrieval with Borda rank fusion
    * ([[CorpusOps.bordaFuse]]) — BM25 (q110's ranker) fused with plain
    * TF-IDF ([[CorpusOps.tfidfTopK]]) over the same query bag: each
    * top-15 list awards `16 - rank` points, absentees get 0, final
    * answer = top-10 by fused points. The production hybrid-search
    * combiner (sparse + second signal), in rank space so score scales
    * never need calibrating — and in exact integer arithmetic, unlike
    * reciprocal-rank fusion's floats.
    */
  private def q113HybridFusion(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val bm = rankedTop(CorpusOps.bm25TopK(dd, q110Terms, topK = 15))
    val ti = rankedTop(CorpusOps.tfidfTopK(dd, q110Terms, topK = 15))
    CorpusOps.bordaFuse(bm, ti, depth = 15)
      .select(col("doc_id"), col("rank_a").as("bm25_rank"),
        col("rank_b").as("tfidf_rank"), col("fused_pts"))
      .orderBy(col("fused_pts").desc, col("doc_id").asc)
      .limit(10)
  }

  private val q113Sql =
    s"""WITH $bm25Ctes,
       ${rankedTopSql("bmr", "bm", 15)},
       ti AS (SELECT tf.doc_id,
              CAST(sum(tf.tf * ((1000000 * n_total) // df)) AS BIGINT)
                AS score_e6
              FROM tf JOIN dfq USING (word) CROSS JOIN tots
              GROUP BY tf.doc_id),
       ${rankedTopSql("tir", "ti", 15)}
       SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE(a.rnk, 0) AS BIGINT) AS bm25_rank,
         CAST(COALESCE(b.rnk, 0) AS BIGINT) AS tfidf_rank,
         CAST(COALESCE(16 - a.rnk, 0) + COALESCE(16 - b.rnk, 0) AS BIGINT)
           AS fused_pts
       FROM bmr a FULL JOIN tir b ON a.doc_id = b.doc_id
       ORDER BY fused_pts DESC, doc_id ASC LIMIT 10"""

  /** q114: concat-and-split sequence packing
    * ([[CorpusOps.packSequences]]) — every document's training-
    * sequence address under the q111 shard order with a 128-token
    * context budget: pack id, in-pack token offset, and the number of
    * context boundaries cutting through the document.
    */
  private def q114SequencePacking(s: SparkSession, d: String): DataFrame =
    CorpusOps.packSequences(docs(s, d), nShards = 16, seed = "shard42",
      budget = 128)
      .orderBy(col("shard"), col("pos"))

  private val q114Sql = {
    val h = TextOps.tokenHashSql("'shard42:' || CAST(doc_id AS VARCHAR)")
    s"""WITH hd AS (SELECT doc_id, $h AS h FROM documents),
       sh AS (SELECT doc_id, h, h % 16 AS shard FROM hd),
       pos AS (SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
             AS BIGINT) AS pos
         FROM sh),
       dl AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl
              FROM documents),
       j AS (SELECT p.doc_id, p.shard, p.pos, dl.dl
             FROM pos p JOIN dl USING (doc_id)),
       c AS (SELECT *, CAST(SUM(dl) OVER
               (PARTITION BY shard ORDER BY pos) AS BIGINT) AS cum
             FROM j)
       SELECT doc_id, shard, pos, dl,
         (cum - dl) // 128 AS pack_id,
         (cum - dl) % 128 AS pack_offset,
         CASE WHEN dl = 0 THEN 0
              ELSE ((cum - 1) // 128) - ((cum - dl) // 128)
         END AS n_boundaries
       FROM c ORDER BY shard, pos"""
  }

  /** q121: retrieval EVALUATION — precision@5/@15 and MRR of the BM25
    * ranking (q110) against a deterministic relevance oracle: a
    * document is relevant iff it contains the query bag's rare
    * discriminative term (`dup`). The IR-eval operator a search
    * deployment runs beside the recall audits (q38/q89): one row of
    * integer fixed-point metrics, so the scorecard is engine-stable.
    * Ranked list and relevance set are both broadcast-sized; the only
    * corpus-scale work is the relevance scan (one per-row
    * `array_contains`).
    */
  private def q121RetrievalEval(s: SparkSession, d: String): DataFrame = {
    val rel = docs(s, d)
      .filter(array_contains(TextOps.tokens(col("text")), "dup"))
      .select(col("doc_id")).withColumn("is_rel", lit(1L))
    val ranked = rankedTop(CorpusOps.bm25TopK(docs(s, d), q110Terms,
        topK = 15))
      .join(rel, Seq("doc_id"), "left")
      .select(col("rnk"), coalesce(col("is_rel"), lit(0L)).as("is_rel"))
    ranked
      .agg(
        sum(when(col("rnk") <= 5, col("is_rel")).otherwise(0L))
          .as("hits_at_5"),
        sum(col("is_rel")).as("hits_at_15"),
        min(when(col("is_rel") === 1L, col("rnk"))).as("first_rel_rank"))
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_relevant"))))
      .select(col("n_relevant"), col("hits_at_5"), col("hits_at_15"),
        expr("(1000000 * hits_at_5) div 5").as("p_at_5_e6"),
        expr("(1000000 * hits_at_15) div 15").as("p_at_15_e6"),
        when(col("first_rel_rank").isNotNull,
          expr("1000000 div first_rel_rank")).as("mrr_e6"))
  }

  private val q121Sql =
    s"""WITH $bm25Ctes,
       rel AS (SELECT doc_id, CAST(1 AS BIGINT) AS is_rel FROM t
               WHERE list_contains(toks, 'dup')),
       ${rankedTopSql("bmr", "bm", 15)},
       jr AS (SELECT b.rnk, COALESCE(r.is_rel, 0) AS is_rel
              FROM bmr b LEFT JOIN rel r ON r.doc_id = b.doc_id),
       m AS (SELECT
           CAST(SUM(CASE WHEN rnk <= 5 THEN is_rel ELSE 0 END) AS BIGINT)
             AS hits_at_5,
           CAST(SUM(is_rel) AS BIGINT) AS hits_at_15,
           MIN(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel_rank
         FROM jr)
       SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rel) AS n_relevant,
         hits_at_5, hits_at_15,
         (1000000 * hits_at_5) // 5 AS p_at_5_e6,
         (1000000 * hits_at_15) // 15 AS p_at_15_e6,
         CASE WHEN first_rel_rank IS NOT NULL
              THEN 1000000 // first_rel_rank END AS mrr_e6
       FROM m"""

  /** nDCG@10 discount table: round(1e6 / log2(rank+1)) for ranks
    * 1..10, and its prefix sums for the ideal DCG. CONSTANTS, not
    * runtime logs — the only irrational inputs enter as the same
    * integer literals in both engines, so the metric stays gate-exact
    * (the q121 house rule: no transcendental evaluation inside the
    * query).
    */
  private val ndcgDisc = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)
  private val ndcgCum = ndcgDisc.scanLeft(0L)(_ + _).tail

  /** q197: nDCG@10 of the BM25 ranking (q110) against q121's
    * deterministic relevance oracle — the rank-position-weighted
    * scorecard that P@k misses (a relevant doc at rank 1 vs rank 10
    * scores 3.5× more). DCG sums the discount of each relevant ranked
    * doc; ideal DCG is the discount prefix-sum at min(|relevant|, 10);
    * everything is BIGINT against the constant table. Same scale shape
    * as q121: the only corpus-scale work is the relevance scan and the
    * bounded BM25 top-k.
    */
  private def q197Ndcg(s: SparkSession, d: String): DataFrame = {
    val rel = docs(s, d)
      .filter(array_contains(TextOps.tokens(col("text")), "dup"))
      .select(col("doc_id")).withColumn("is_rel", lit(1L))
    val disc = array(ndcgDisc.map(lit): _*)
    val cum = array(ndcgCum.map(lit): _*)
    rankedTop(CorpusOps.bm25TopK(docs(s, d), q110Terms, topK = 10))
      .join(rel, Seq("doc_id"), "left")
      .agg(sum(coalesce(col("is_rel"), lit(0L)) *
        element_at(disc, col("rnk").cast("int"))).as("dcg_e6"))
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_relevant"))))
      .select(col("n_relevant"), col("dcg_e6"),
        element_at(cum, least(col("n_relevant"), lit(10L)).cast("int"))
          .as("idcg_e6"))
      .withColumn("ndcg_e6", expr(
        """CASE WHEN n_relevant = 0 THEN 0
           ELSE (dcg_e6 * 1000000) div idcg_e6 END"""))
  }

  private val q197Sql = {
    val discL = ndcgDisc.mkString("[", ", ", "]")
    val cumL = ndcgCum.mkString("[", ", ", "]")
    s"""WITH $bm25Ctes,
       rel AS (SELECT doc_id, CAST(1 AS BIGINT) AS is_rel FROM t
               WHERE list_contains(toks, 'dup')),
       ${rankedTopSql("bmr", "bm", 10)},
       dcg AS (SELECT CAST(SUM(COALESCE(r.is_rel, 0) *
                 ($discL)[CAST(b.rnk AS INT)]) AS BIGINT) AS dcg_e6
               FROM bmr b LEFT JOIN rel r ON r.doc_id = b.doc_id),
       nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel)
       SELECT n_relevant, dcg_e6,
         CAST(($cumL)[CAST(LEAST(n_relevant, 10) AS INT)] AS BIGINT)
           AS idcg_e6,
         CASE WHEN n_relevant = 0 THEN 0
              ELSE (dcg_e6 * 1000000) //
                CAST(($cumL)[CAST(LEAST(n_relevant, 10) AS INT)]
                  AS BIGINT) END AS ndcg_e6
       FROM dcg CROSS JOIN nr"""
  }

  /** q111: deterministic global training shuffle
    * ([[CorpusOps.trainingShards]]): every document's (shard, pos)
    * under a seeded stable hash, 16 shards. Reproducible across
    * engines/runs/ingest order; at scale the same assignment is
    * realized as repartition + sortWithinPartitions per shard.
    */
  private def q111TrainingShards(s: SparkSession, d: String): DataFrame =
    CorpusOps.trainingShards(docs(s, d), nShards = 16, seed = "shard42")
      .orderBy(col("shard"), col("pos"))

  private val q111Sql = {
    val h = TextOps.tokenHashSql("'shard42:' || CAST(doc_id AS VARCHAR)")
    s"""WITH hd AS (SELECT doc_id, $h AS h FROM documents),
       sh AS (SELECT doc_id, h, h % 16 AS shard FROM hd)
       SELECT doc_id, shard,
         CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
           AS BIGINT) AS pos
       FROM sh ORDER BY shard, pos"""
  }

  /** q151: per-source dynamic quality threshold — keep each source's
    * top 30% by quality score instead of one global cut (a global
    * threshold silently empties strict-format sources and passes
    * everything from verbose ones). `percent_rank` is exact integer
    * arithmetic over the rank, deterministic given the total (score
    * DESC, doc_id) tie-break; per-source windows distribute — no global
    * sort, and at 100 TB each source's partition sorts independently.
    */
  private def q151QualityPercentileCut(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs(s, d)
      .select(col("source"), col("doc_id"),
        TextOps.qualityScore(toks).as("q"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    scored
      .withColumn("pr", percent_rank().over(w))
      .where(col("pr") <= 0.3)
      .orderBy(col("source"), col("doc_id"))
  }

  private val q151Sql = {
    val q = TextOps.qualityScoreSql(toksSql)
    s"""WITH scored AS (SELECT source, doc_id, $q AS q FROM documents),
       ranked AS (SELECT source, doc_id, q,
              percent_rank() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id) AS pr
            FROM scored)
       SELECT source, doc_id, q, pr FROM ranked
       WHERE pr <= 0.3 ORDER BY source, doc_id"""
  }

  // ---------------------------------------------------------------- q202

  private val SETCOVER_K = 8

  /** q202: greedy maximum-coverage corpus selection — pick 8 documents
    * that together cover the most distinct word 3-shingles, one
    * greedy round at a time (each round picks the doc with the most
    * NOT-yet-covered shingles; ties → smaller doc_id). This is the
    * submodular data-selection primitive (greedy is the classic
    * (1−1/e)-approximation for max coverage): "which k documents are
    * the most informative, least mutually redundant sample of this
    * corpus" — the selection dual of near-dup REMOVAL, used for
    * eval-set seeding and few-shot pool construction. The emitted
    * marginal-gain curve is the coverage saturation diagnostic
    * (when gain flattens, more docs add redundancy, not coverage).
    *
    * Exactness: gains are integer counts over exact string shingles —
    * the greedy trajectory is engine-exact; the oracle unrolls the
    * same rounds as CTEs.
    *
    * Scale: per round ONE anti-join of the (doc, shingle) relation
    * against the covered-shingle set (uniform equi key) + ONE grouped
    * count + ONE argmax; the covered set is rebuilt from the ≤k picked
    * docs' shingles (bounded). k linear passes, no pairwise anything;
    * driver state is k (id, gain) scalars — the sanctioned 1-row
    * argmax edge (GraphOps-style). At 100 TB the (doc, shingle)
    * relation is the same explode the MinHash chain already scans.
    */
  private def q202SetCover(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val picked = graft.ops.SelectionOps
      .greedyCoverage(docs(s, d), "doc_id", "text", SETCOVER_K)
    val rows = picked.scanLeft((0L, 0L, 0L, 0L)) {
      case ((_, _, _, cum), p) => (p.round, p.id, p.score, cum + p.score)
    }.drop(1)
    rows.toDF("round_id", "doc_id", "gain", "covered_total")
      .orderBy(col("round_id"))
  }

  private val q202Sql = {
    val rounds = (1 until SETCOVER_K).map { r =>
      s"""g$r AS (SELECT s.doc_id, COUNT(*) AS gain FROM sh s
            LEFT JOIN cov${r - 1} c ON s.sh = c.sh
            WHERE c.sh IS NULL GROUP BY 1),
          p$r AS (SELECT doc_id, gain FROM g$r
            ORDER BY gain DESC, doc_id ASC LIMIT 1),
          cov$r AS (SELECT sh FROM cov${r - 1}
            UNION SELECT s.sh FROM sh s, p$r p WHERE s.doc_id = p.doc_id)"""
    }.mkString(",\n       ")
    val unions = (1 until SETCOVER_K).map { r =>
      s"SELECT $r AS round_id, doc_id, gain FROM p$r"
    }.mkString("\n       UNION ALL ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       sraw AS (SELECT doc_id,
           ${graft.ops.DedupOps.shinglesSql("toks")} AS sh FROM t),
       sh AS (SELECT doc_id, unnest(sh) AS sh FROM sraw),
       g0 AS (SELECT doc_id, COUNT(*) AS gain FROM sh GROUP BY 1),
       p0 AS (SELECT doc_id, gain FROM g0
         ORDER BY gain DESC, doc_id ASC LIMIT 1),
       cov0 AS (SELECT DISTINCT s.sh FROM sh s, p0 p
         WHERE s.doc_id = p.doc_id),
       $rounds,
       traj AS (SELECT 0 AS round_id, doc_id, gain FROM p0
         UNION ALL $unions)
       SELECT CAST(round_id AS BIGINT) AS round_id, doc_id,
              CAST(gain AS BIGINT) AS gain,
              CAST(SUM(gain) OVER (ORDER BY round_id) AS BIGINT)
                AS covered_total
       FROM traj ORDER BY round_id"""
  }

  /** q223: hashed n-gram importance weighting — the DSIR-family
    * data-selection primitive (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-domain-like its hashed bigram
    * distribution is (target here: lang='en'), select the top
    * scorers. Departures from the paper, both deliberate:
    * (1) bucket weights are LIKELIHOOD RATIOS in e6 fixed-point
    * (`(10⁶·(ct+1)) div (cr+1)`, +1-smoothed) rather than
    * log-ratios — float `ln` is not bit-stable across engines, the
    * ratio is exact integer math, and for SELECTION only the ranking
    * matters; the constant Nr/Nt factor is dropped for the same
    * reason. (2) deterministic top-k instead of Gumbel resampling
    * (the RNG would force a rows-only check; q163/q88 cover seeded
    * sampling). Scale shape: bigrams explode linearly, the weight
    * table is exactly B=1024 rows → broadcast; two linear passes +
    * one top-k, no corpus-sized shuffle beyond the per-doc agg.
    */
  private def q223ImportanceWeights(s: SparkSession, d: String): DataFrame =
    CorpusOps.importanceWeights(docs(s, d), "doc_id", toks,
        col("lang") === "en")
      .orderBy(col("avg_w_e6").desc, col("doc_id"))
      .limit(100)

  private val q223Sql = {
    val h = TextOps.tokenHashSql("bigram")
    s"""WITH base AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
       bg AS (SELECT doc_id, lang,
                     ${TextOps.bigramsSql("tk", "_", "i")} AS bigram
              FROM (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i
                    FROM base WHERE len(tk) >= 2)),
       bk AS (SELECT doc_id, lang, $h % 1024 AS b FROM bg),
       w AS (SELECT b,
               (1000000*(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)+1))
                 // (COUNT(*)+1) AS w_e6
             FROM bk GROUP BY 1),
       sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                SUM(w_e6) AS score
              FROM bk JOIN w USING (b) GROUP BY 1)
       SELECT doc_id, n_bigrams,
              CAST(score // n_bigrams AS BIGINT) AS avg_w_e6
       FROM sc ORDER BY avg_w_e6 DESC, doc_id LIMIT 100"""
  }

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_importance_weights" -> q223ImportanceWeights,
    "q202_set_cover" -> q202SetCover,
    "q151_quality_percentile_cut" -> q151QualityPercentileCut,
    "q96_line_dedup" -> q96LineDedup,
    "q97_source_caps" -> q97SourceCaps,
    "q98_mixture_epochs" -> q98MixtureEpochs,
    "q178_token_quotas" -> q178TokenQuotas,
    "q179_quota_draw" -> q179QuotaDraw,
    "q229_flattened_quotas" -> q229FlattenedQuotas,
    "q230_top_sources_other" -> q230TopSourcesWithOther,
    "q181_mlm_masking" -> q181MlmMasking,
    "q185_negative_samples" -> q185NegativeSamples,
    "q99_context_chunks" -> q99ContextChunks,
    "q100_tfidf_keywords" -> q100TfidfKeywords,
    "q101_textrank" -> q101Textrank,
    "q110_bm25_search" -> q110Bm25Search,
    "q111_training_shards" -> q111TrainingShards,
    "q113_hybrid_fusion" -> q113HybridFusion,
    "q114_sequence_packing" -> q114SequencePacking,
    "q121_retrieval_eval" -> q121RetrievalEval,
    "q197_ndcg" -> q197Ndcg)

  override val oracle: Map[String, String] = Map(
    "q223_importance_weights" -> q223Sql,
    "q202_set_cover" -> q202Sql,
    "q151_quality_percentile_cut" -> q151Sql,
    "q96_line_dedup" -> q96Sql,
    "q97_source_caps" -> q97Sql,
    "q98_mixture_epochs" -> q98Sql,
    "q178_token_quotas" -> q178Sql,
    "q179_quota_draw" -> q179Sql,
    "q229_flattened_quotas" -> q229Sql,
    "q230_top_sources_other" -> q230Sql,
    "q181_mlm_masking" -> q181Sql,
    "q185_negative_samples" -> q185Sql,
    "q99_context_chunks" -> q99Sql,
    "q100_tfidf_keywords" -> q100Sql,
    "q101_textrank" -> q101Sql,
    "q110_bm25_search" -> q110Sql,
    "q111_training_shards" -> q111Sql,
    "q113_hybrid_fusion" -> q113Sql,
    "q114_sequence_packing" -> q114Sql,
    "q121_retrieval_eval" -> q121Sql,
    "q197_ndcg" -> q197Sql)
}
