package graft.queries

import graft.core.{CacheScope, Tables}
import graft.ops.{CorpusOps, CurationOps, DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection pack over `documents` (hw3 MinHash-LSH
  * parity, re-designed Spark-first — SURVEY §2.10 M5/M6 — plus SimHash
  * and exact n-gram Jaccard verification, the dedup trio a training-data
  * pipeline runs at 100 TB).
  *
  * Pipeline shape (all candidates flow, no all-pairs step anywhere):
  *   signatures (per-row exprs, shuffle-free) → LSH banding self-join
  *   (equi-join on uniform keys) → exact Jaccard only on candidates.
  */
object Dedup extends QueryPack {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** The pipeline builders live in the PUBLIC [[CurationOps]] API —
    * this pack wires them to the gate tables and owns the DuckDB
    * mirrors.
    */
  private def hashed(s: SparkSession, d: String): DataFrame =
    CurationOps.shingleHashed(docs(s, d))

  /** Shared oracle CTE prelude: tokens → shingles → hashes. */
  private val hashedCte =
    s"""t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
              FROM documents),
        s AS (SELECT doc_id, ${DedupOps.shinglesSql("toks")} AS sh FROM t),
        hsrc AS (SELECT doc_id, sh,
                 ${DedupOps.shingleHashesSql("sh")} AS hs FROM s)"""

  private def sigs(s: SparkSession, d: String): DataFrame =
    CurationOps.minhashSignatures(docs(s, d))

  private val sigsCte = {
    val cols = (0 until 8)
      .map(i => s"${DedupOps.minhashSql("hs", i)} AS s$i")
      .mkString(", ")
    s"sigs AS (SELECT doc_id, $cols FROM hsrc)"
  }

  /** q27: MinHash signatures (8 permutations) per document. */
  private def q27MinhashSignatures(s: SparkSession, d: String): DataFrame =
    sigs(s, d).orderBy(col("doc_id"))

  private val q27Sql =
    s"WITH $hashedCte, $sigsCte SELECT * FROM sigs ORDER BY doc_id"

  private val bandsCte = {
    val selects = (0 until DedupOps.bands)
      .map { b =>
        s"""SELECT doc_id, $b AS band,
            s${2 * b}::VARCHAR || '_' || s${2 * b + 1}::VARCHAR AS key
            FROM sigs"""
      }
      .mkString(" UNION ALL ")
    s"bands AS ($selects)"
  }

  /** q28: LSH candidate pairs — docs agreeing on ≥1 full band
    * ([[CurationOps.lshCandidatePairs]]).
    */
  private def q28LshBandPairs(s: SparkSession, d: String): DataFrame =
    CurationOps.lshCandidatePairs(docs(s, d))
      .orderBy(col("d1"), col("d2"))

  private val pairsCte =
    s"""pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
          COUNT(*) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  private val q28Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte
       SELECT * FROM pairs ORDER BY d1, d2"""

  /** q205: LSH bucket-occupancy histogram — how many (band, key)
    * buckets hold how many docs ([[CurationOps.bucketProfile]]
    * aggregated). The pre-flight for the viral-boilerplate hazard: a
    * bucket of B docs costs B²/2 join rows in the uncapped pairing,
    * so this linear profile is what tells a 100 TB run whether it
    * needs [[CurationOps.lshCandidatePairsCapped]].
    */
  private def q205BucketProfile(s: SparkSession, d: String): DataFrame =
    CurationOps.bucketProfile(docs(s, d))
      .groupBy(col("band"), col("n_docs").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band"), col("bucket_size"), col("n_buckets"))
      .orderBy(col("band"), col("bucket_size"))

  private val q205Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte,
        prof AS (SELECT band, key, COUNT(*) AS n_docs
                 FROM bands GROUP BY 1, 2)
       SELECT band, n_docs AS bucket_size, COUNT(*) AS n_buckets
       FROM prof GROUP BY 1, 2 ORDER BY band, bucket_size"""

  /** q206: hot-bucket-capped LSH candidates
    * ([[CurationOps.lshCandidatePairsCapped]], cap=2 so the star path
    * actually executes at gate scale). Buckets ≤ cap pair all-vs-all
    * (identical to q28 there); larger buckets emit a star to the
    * bucket-minimum doc — O(B) rows where the clique is O(B²), the
    * opt-in form a corpus with viral boilerplate runs.
    */
  private def q206CappedCandidates(s: SparkSession, d: String): DataFrame =
    CurationOps.lshCandidatePairsCapped(docs(s, d), bucketCap = 2)
      .orderBy(col("d1"), col("d2"))

  private val q206Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte,
        stats AS (SELECT band, key, COUNT(*) AS n_docs,
                   MIN(doc_id) AS rep
                  FROM bands GROUP BY 1, 2),
        bs AS (SELECT b.doc_id, b.band, b.key, s.n_docs, s.rep
               FROM bands b JOIN stats s
                 ON b.band = s.band AND b.key = s.key),
        small AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.band
                  FROM bs a JOIN bs b
                    ON a.band = b.band AND a.key = b.key
                       AND a.doc_id < b.doc_id
                  WHERE a.n_docs <= 2),
        star AS (SELECT rep AS d1, doc_id AS d2, band
                 FROM bs WHERE n_docs > 2 AND doc_id <> rep),
        u AS (SELECT * FROM small UNION ALL SELECT * FROM star)
       SELECT d1, d2, COUNT(*) AS n_shared_bands
       FROM u GROUP BY 1, 2 ORDER BY d1, d2"""

  /** q29: 32-bit SimHash per document (per-row expression). */
  private def q29Simhash(s: SparkSession, d: String): DataFrame =
    hashed(s, d)
      .select(col("doc_id"), DedupOps.simhash(col("hs")).as("simhash"))
      .orderBy(col("doc_id"))

  private val simCte =
    s"sim AS (SELECT doc_id, ${DedupOps.simhashSql("hs")} AS simhash FROM hsrc)"

  private val q29Sql =
    s"WITH $hashedCte, $simCte SELECT * FROM sim ORDER BY doc_id"

  /** q30 core, shared with the q105 agreement audit: SimHash near-dup
    * pairs — bucket on 4 bands of COUNT-SCALED width, then exact
    * Hamming ≤ 6 on candidates (classic simhash index shape: only
    * same-band docs are compared, never all pairs). The band key is
    * 16 bits — the simhash's own 8-bit band extended by the matching
    * byte of an independent second fingerprint
    * ([[graft.ops.DedupOps.rehash2]]) — masked to the low r bits with
    * r ∈ [8, 16] from the shared count rule
    * ([[graft.ops.IndexStore.scaledBitsRow]], divisor 32): a fixed
    * 4×8-bit space is 256 buckets per band FOREVER (candidates ∝
    * n²/256 — 5.16× on the 10× sf1 step and rising), while the scaled
    * key holds expected bucket size ≤ ~32 to ~2M docs. At r = 8 (all
    * shipped SFs) the keys are the historical simhash bytes
    * bit-for-bit, preserving the exact pigeonhole guarantee (hamming
    * ≤ 6 over 4 bands ⇒ one band identical); past it the extended
    * bits trade that for bounded buckets — the standard banding
    * recall curve, both engines deriving the identical candidate set.
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sim = hashed(s, d)
      .select(col("doc_id"), DedupOps.simhash(col("hs")).as("simhash"),
        DedupOps.simhash(DedupOps.rehash2(col("hs"))).as("simhash2"))
    // single pass + explode (not union: see bandsDf note)
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)) +
          shiftright(col("simhash2"), 8 * b).bitwiseAND(lit(255L)) * 256L)
          .as("key"))
    }: _*)
    val bnd = sim
      .select(col("doc_id"), col("simhash"), explode(bandStructs).as("bk"))
      .crossJoin(broadcast(
        graft.ops.IndexStore.scaledBitsRow(docs(s, d), 32, 8, "r")))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"),
        (col("bk.key") % expr("shiftleft(CAST(1 AS BIGINT), r)"))
          .as("key"))
      // see q28: don't recompute/race the signature chain
      .transform(CacheScope.pin)
    val a = bnd.select(col("doc_id").as("d1"), col("simhash").as("sh1"),
      col("band"), col("key"))
    val b = bnd.select(col("doc_id").as("d2"), col("simhash").as("sh2"),
      col("band").as("band2"), col("key").as("key2"))
    a.join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
  }

  private def q30SimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d).orderBy(col("d1"), col("d2"))

  /** Shared mirror of [[simhashPairs]]'s banding: both fingerprints,
    * the count-scaled r, and the masked 16-bit band keys (`sbands`).
    */
  private val sbandsCtes = {
    val bandSelects = (0 until 4)
      .map(b => s"""SELECT doc_id, simhash, $b AS band,
                    (((simhash >> ${8 * b}) & 255) +
                     ((simhash2 >> ${8 * b}) & 255) * 256)
                      % (CAST(1 AS BIGINT) << r) AS key
                    FROM sim2 CROSS JOIN rr30""")
      .mkString(" UNION ALL ")
    s"""h2 AS (SELECT doc_id, hs, ${DedupOps.rehash2Sql("hs")} AS hsb
          FROM hsrc),
       sim2 AS (SELECT doc_id, ${DedupOps.simhashSql("hs")} AS simhash,
          ${DedupOps.simhashSql("hsb")} AS simhash2 FROM h2),
       rr30 AS (SELECT ${graft.ops.IndexStore.scaledBitsSql(32, 8)} AS r
          FROM documents),
       sbands AS ($bandSelects)"""
  }

  private val q30Sql =
    s"""WITH $hashedCte, $sbandsCtes
       SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM sbands a JOIN sbands b
         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       ORDER BY d1, d2"""

  /** q31: exact n-gram Jaccard, computed ONLY for LSH candidates —
    * candidate-driven verification ([[CurationOps.verifiedPairs]]).
    */
  private def q31NgramJaccard(s: SparkSession, d: String): DataFrame =
    CurationOps.pairsTable(docs(s, d))
      .orderBy(col("d1"), col("d2"))

  private val withsetsCte =
    """withsets AS (SELECT p.d1, p.d2,
           CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_shared,
           CAST(len(x.sh) AS BIGINT) AS n1,
           CAST(len(y.sh) AS BIGINT) AS n2
         FROM pairs p
         JOIN hsrc x ON x.doc_id = p.d1
         JOIN hsrc y ON y.doc_id = p.d2)"""

  private val q31Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte
       SELECT d1, d2, n_shared,
         n_shared / (n1 + n2 - n_shared) AS jaccard
       FROM withsets
       WHERE n_shared / (n1 + n2 - n_shared) >= 0.8
       ORDER BY d1, d2"""

  /** q75: near-dup CLUSTER formation — the step after verified pairs
    * that "dedup" actually means: distributed large-star/small-star
    * connected components over the q31-verified pairs, total
    * assignment with singletons labeled by their own id
    * ([[CurationOps.clusterLabels]] — no driver-side union-find).
    */
  private def q75NeardupClusters(s: SparkSession, d: String): DataFrame =
    CurationOps.labelsTable(docs(s, d))
      .orderBy(col("doc_id"))

  /** Oracle mirror of the component labels: transitive closure of the
    * verified-pair edge set via a recursive CTE (min reachable id ==
    * the component minimum the star-contraction converges to).
    */
  private val verifiedCte =
    """verified AS (SELECT d1, d2 FROM withsets
          WHERE n_shared / (n1 + n2 - n_shared) >= 0.8)"""

  private val ccCtes =
    s"""$verifiedCte,
       sym AS (SELECT d1 AS u, d2 AS v FROM verified
               UNION SELECT d2, d1 FROM verified),
       reach(u, v) AS (
         SELECT u, v FROM sym
         UNION
         SELECT r.u, s.v FROM reach r JOIN sym s
           ON r.v = s.u WHERE s.v <> r.u),
       cmp AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u),
       labels AS (SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(c.mn, d.doc_id)) AS comp
         FROM documents d LEFT JOIN cmp c ON c.doc_id = d.doc_id)"""

  private val q75Sql =
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes
       SELECT doc_id, comp FROM labels ORDER BY doc_id"""

  /** q182: split-leakage audit + the cluster-keyed fix — the check an
    * eval pipeline runs BEFORE trusting held-out numbers: a near-dup
    * cluster whose members land in different q83 hash splits leaks
    * training text into valid/test. One row per MULTI-doc cluster:
    * how many doc-level splits it straddles (`n_splits` > 1 = leak)
    * and the `split_safe` assignment — the same 80/10/10 hash keyed by
    * the CLUSTER label instead of the doc id, which puts every member
    * in one split by construction (and keeps each min-id survivor
    * exactly where doc-level hashing already placed it, so switching
    * to cluster-keyed splitting never moves a deduplicated corpus).
    * Cost on top of q75's labels: one groupBy over |docs|.
    */
  private def q182SplitLeakage(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) = {
      val bucket = pmod(TextOps.tokenHash(
        concat(lit("split:"), c.cast("string"))), lit(100L))
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test")
    }
    CurationOps.labelsTable(docs(s, d))
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).cast("long").as("n_splits"),
        array_join(sort_array(collect_set(col("split"))), ",")
          .as("splits_doc"))
      .filter(col("n_docs") >= 2)
      .withColumn("split_safe", splitOf(col("comp")))
      .orderBy(col("comp"))
  }

  private val q182Sql = {
    def splitOf(x: String) = {
      val h = TextOps.tokenHashSql(s"('split:' || CAST($x AS VARCHAR))")
      s"""CASE WHEN $h % 100 < 80 THEN 'train'
              WHEN $h % 100 < 90 THEN 'valid'
              ELSE 'test' END"""
    }
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       lab AS (SELECT doc_id, comp, ${splitOf("doc_id")} AS split
               FROM labels)
       SELECT comp, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
              array_to_string(list_sort(list(DISTINCT split)), ',')
                AS splits_doc,
              ${splitOf("comp")} AS split_safe
       FROM lab GROUP BY comp HAVING count(*) >= 2 ORDER BY comp"""
  }

  /** q187: training-data manifest — the factory's final ledger, four
    * stages composed end-to-end from the PUBLIC ops the gate already
    * verifies one at a time: near-dup survivors
    * ([[CurationOps.survivors]], q76) → Hamilton token quotas over
    * the SURVIVING tokens ([[graft.ops.CorpusOps.hamiltonQuotas]],
    * q178, 10k budget) → per-source prefix draw
    * ([[graft.ops.CorpusOps.prefixDraw]], q179) → 80/10/10 hash
    * split (q83). Because each survivor is its cluster's min-id
    * label, the doc-keyed split here IS the cluster-keyed q182
    * `split_safe` — the manifest is leakage-free by construction.
    * One row per (source, split): documents drawn and tokens
    * shipped. The oracle recomputes the whole chain (recursive-CTE
    * closure + quota CTEs over the survivor relation), so a drift in
    * ANY stage hash-fails the manifest.
    */
  private def q187TrainingManifest(s: SparkSession, d: String): DataFrame = {
    val surv = CurationOps.survivors(docs(s, d)).select(col("doc_id"))
    val sd = docs(s, d).join(surv, "doc_id")
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
    val quotas = CorpusOps.hamiltonQuotas(
      sd.groupBy(col("source")).agg(sum(col("n")).as("tok")), 10000L)
    val bucket = pmod(TextOps.tokenHash(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    CorpusOps.prefixDraw(sd, quotas, "doc_id", "source", "n")
      .withColumn("split", when(bucket < 80, "train")
        .when(bucket < 90, "valid").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_kept"))
      .orderBy(col("source"), col("split"))
  }

  private val q187Sql = {
    val splitHash =
      TextOps.tokenHashSql("('split:' || CAST(doc_id AS VARCHAR))")
    val drawHash =
      TextOps.tokenHashSql("('draw:' || CAST(p.doc_id AS VARCHAR))")
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       surv_docs AS (
         SELECT d.* FROM documents d
         JOIN (SELECT DISTINCT comp FROM labels) s ON d.doc_id = s.comp),
       ${Corpus.quotaCtes(10000L, "surv_docs")},
       perdoc AS (SELECT source, doc_id,
              CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n
         FROM surv_docs),
       cums AS (SELECT p.source, p.doc_id, p.n, q.quota,
              SUM(p.n) OVER (PARTITION BY p.source
                             ORDER BY $drawHash ASC, p.doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
         FROM perdoc p JOIN quota q USING (source))
       SELECT source,
              CASE WHEN $splitHash % 100 < 80 THEN 'train'
                   WHEN $splitHash % 100 < 90 THEN 'valid'
                   ELSE 'test' END AS split,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n) AS BIGINT) AS tok_kept
       FROM cums WHERE cum <= quota
       GROUP BY source, split ORDER BY source, split"""
  }

  /** q76: canonical-document selection + purge summary — one survivor
    * per cluster (the minimum doc_id, which is the component label by
    * construction) with the cluster size it absorbed. The purged corpus
    * is exactly these survivor ids; `cluster_size - 1` docs per row
    * were removed as near-duplicates.
    */
  private def q76DedupSurvivors(s: SparkSession, d: String): DataFrame =
    CurationOps.survivors(docs(s, d))
      .orderBy(col("doc_id"))

  /** q165: PRIORITY canonical selection
    * ([[graft.ops.CurationOps.survivorsBy]]) — q76's min-id survivor
    * rule swapped for "keep the highest-quality copy" (the shared
    * [[graft.ops.TextOps.qualityScore]], doc_id tie-break): the
    * curation-realistic choice when a near-dup family spans a clean
    * original and a boilerplate-wrapped mirror. Same cluster labels,
    * one extra WindowGroupLimit per cluster; the oracle re-derives the
    * winner with a window over the recursive-CTE closure, so a single
    * flipped survivor hash-fails.
    */
  private def q165BestOfCluster(s: SparkSession, d: String): DataFrame =
    CurationOps.survivorsBy(docs(s, d),
        TextOps.qualityScore(TextOps.tokens(col("text"))))
      .orderBy(col("comp"))

  private val q165Sql = {
    val qual = TextOps.qualityScoreSql(TextOps.tokensSql("text"))
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       prio AS (SELECT doc_id, $qual AS priority FROM documents),
       ranked AS (
         SELECT l.comp, l.doc_id, p.priority,
                ROW_NUMBER() OVER (PARTITION BY l.comp
                  ORDER BY p.priority DESC, l.doc_id ASC) AS rn,
                COUNT(*) OVER (PARTITION BY l.comp) AS cluster_size
         FROM labels l JOIN prio p ON p.doc_id = l.doc_id)
       SELECT comp, doc_id AS canonical_id,
              CAST(cluster_size AS BIGINT) AS cluster_size, priority
       FROM ranked WHERE rn = 1 ORDER BY comp"""
  }

  private val q76Sql =
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes
       SELECT comp AS doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       FROM labels GROUP BY comp ORDER BY doc_id"""

  /** q77: benchmark-contamination check — the fraction of each
    * document's trigram-shingle hashes that appear in a "benchmark"
    * set (here: the shingles of every 50th doc, a deterministic
    * stand-in for a held-out eval suite). The benchmark set is a
    * broadcast-sized aggregate (eval suites are tiny next to a 100 TB
    * corpus), so the scan side stays shuffle-free: one pass, per-row
    * `array_intersect` against the broadcast array.
    */
  private def q77Contamination(s: SparkSession, d: String): DataFrame = {
    // NOT a broadcast-array + per-row array_intersect: that rescans
    // the whole benchmark array once per document (|docs|×|bench|
    // work — measured 17.5 s of a 79 s bench at sf0.1). Explode the
    // doc shingles and hash-JOIN the broadcast benchmark TABLE
    // instead: one linear pass, the join probes an executor-local
    // hash map built once, and the per-doc hit count partial-
    // aggregates map-side. Both sides are distinct so the count
    // equals |hs ∩ bench| exactly.
    val h = hashed(s, d)
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"))
      // three consumers below — materialize once, no races
      .transform(CacheScope.pin)
    val bench = h.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(explode(col("hs")).as("bh"))
      .distinct()
    val hits = h.select(col("doc_id"), explode(col("hs")).as("bh"))
      .join(broadcast(bench), Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
    h.select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)).as("contamination"))
      .orderBy(col("doc_id"))
  }

  private val q77Sql =
    s"""WITH $hashedCte,
       hh AS (SELECT doc_id, list_distinct(hs) AS hs FROM hsrc),
       bench AS (SELECT DISTINCT unnest(hs) AS bh FROM hh
                 WHERE doc_id % 50 = 0),
       bl AS (SELECT list(bh) AS bench FROM bench),
       scored AS (SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_grams,
           CAST(len(list_intersect(hs, bench)) AS BIGINT) AS n_hit
         FROM hh CROSS JOIN bl)
       SELECT doc_id, n_grams, n_hit,
         CASE WHEN n_grams > 0
           THEN CAST(n_hit AS DOUBLE) / n_grams ELSE 0.0 END
           AS contamination
       FROM scored ORDER BY doc_id"""

  /** q79: end-to-end corpus curation — the flagship training-data
    * pipeline shape, composed from audited parts: near-dup purge (keep
    * each q75 cluster's canonical doc) ∘ quality filter (the exact
    * q23 score via the shared [[TextOps.qualityScore]] builder, cut at
    * 0.40). One corpus pass for scoring + the candidate-driven dedup
    * chain; the output IS the training corpus a downstream tokenizer
    * would consume.
    */
  private def q79CuratedCorpus(s: SparkSession, d: String): DataFrame =
    CurationOps.curate(docs(s, d))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .orderBy(col("doc_id"))

  private val q79Sql = {
    val qual = TextOps.qualityScoreSql(TextOps.tokensSql("text"))
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       canon AS (SELECT doc_id FROM labels WHERE doc_id = comp),
       scored AS (SELECT doc_id, lang, source, $qual AS quality
                  FROM documents)
       SELECT s.doc_id, s.lang, s.source, s.quality
       FROM scored s JOIN canon USING (doc_id)
       WHERE s.quality >= 0.40 ORDER BY s.doc_id"""
  }

  /** q82: dedup observability — per-source duplication rate: how many
    * of each source's documents would the near-dup purge remove (docs
    * whose cluster canonical is another doc). The report every corpus
    * curation run ships next to its output: a source with an outlier
    * dup_rate is a crawler bug or a content farm. Aggregation over the
    * q75 labels — one uniform groupBy, no extra corpus pass.
    */
  private def q82SourceDupRates(s: SparkSession, d: String): DataFrame = {
    val labels = CurationOps.labelsTable(docs(s, d))
    docs(s, d).select(col("doc_id"), col("source"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("comp"), 1L).otherwise(0L))
          .as("n_purged"))
      .select(col("source"), col("n_docs"), col("n_purged"),
        (col("n_purged").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy(col("source"))
  }

  private val q82Sql =
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes
       SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN l.comp <> l.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purged,
         CAST(SUM(CASE WHEN l.comp <> l.doc_id THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*) AS dup_rate
       FROM documents d JOIN labels l ON l.doc_id = d.doc_id
       GROUP BY d.source ORDER BY d.source"""

  /** q104: inter-document n-gram NOVELTY — the corpus-statistics
    * quality signal the per-row heuristics (q23) and the intra-doc
    * repetition fractions (q90) can't see: what fraction of a
    * document's distinct trigrams are corpus-RARE (doc frequency < 3)?
    * Low novelty ⇒ the document is assembled from phrases the corpus
    * already contains everywhere (template/boilerplate prose — the
    * KenLM-perplexity-shaped filter, here in exact integer fixed-point
    * instead of a float LM score). Distributed shape: explode the
    * per-doc shingle hashes → one uniform groupBy for the trigram
    * document-frequency table → equi join back → per-doc counts. The
    * df table is shingle-vocabulary-sized, never corpus-quadratic.
    */
  private def q104NgramNovelty(s: SparkSession, d: String): DataFrame = {
    // pin the (doc_id, hs) arrays BEFORE the explode — the inferred
    // pre-Generate filter otherwise inlines the whole shingle-hash
    // chain and re-evaluates it per row (design note 14; 14.6 → ~4 s
    // at sf0.1)
    val hs = CacheScope.pin(hashed(s, d).select(col("doc_id"), col("hs")))
    // feeds both the df aggregate and the join probe — materialize or
    // the two concurrent stage scans recompute the explode
    val ex = hs
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .transform(CacheScope.pin)
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") < 3, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        expr("(1000000 * n_novel) div n_ngrams").as("novelty_e6"))
      .orderBy(col("doc_id"))
  }

  private val q104Sql =
    s"""WITH $hashedCte,
       ex AS (SELECT doc_id, unnest(hs) AS h FROM hsrc),
       dfreq AS (SELECT h, count(*) AS df FROM ex GROUP BY h)
       SELECT e.doc_id, count(*) AS n_ngrams,
         CAST(sum(CASE WHEN dfreq.df < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
         (1000000 * CAST(sum(CASE WHEN dfreq.df < 3 THEN 1 ELSE 0 END)
           AS BIGINT)) // count(*) AS novelty_e6
       FROM ex e JOIN dfreq ON e.h = dfreq.h
       GROUP BY e.doc_id ORDER BY e.doc_id"""

  /** q105: dedup METHOD-AGREEMENT audit — MinHash-verified pairs
    * (Jaccard ≥ 0.8 on LSH candidates, q31) vs SimHash pairs (Hamming
    * ≤ 6 on banded candidates, q30), as one row: pair counts, overlap,
    * and the Jaccard of the two PAIR SETS in exact integer fixed-point.
    * The operational question it answers: before trusting one method's
    * clusters at 100 TB, how differently would the other have deduped?
    * Low agreement ⇒ the threshold/banding configs encode different
    * dup notions — tighten before purging. Full-outer join of two
    * small pair sets; both chains are the deployed candidate-driven
    * pipelines, never all-pairs.
    */
  private def q105MethodAgreement(s: SparkSession, d: String): DataFrame = {
    val sp = simhashPairs(s, d)
      .select(col("d1"), col("d2"), lit(1L).as("in_s"))
    val mp = CurationOps.pairsTable(docs(s, d))
      .select(col("d1"), col("d2"), lit(1L).as("in_m"))
    sp.join(mp, Seq("d1", "d2"), "full_outer")
      .agg(
        sum(when(col("in_s").isNotNull, 1L).otherwise(0L)).as("n_simhash"),
        sum(when(col("in_m").isNotNull, 1L).otherwise(0L)).as("n_minhash"),
        sum(when(col("in_s").isNotNull && col("in_m").isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("n_simhash"), col("n_minhash"), col("n_common"),
        when(col("n_simhash") + col("n_minhash") - col("n_common") > 0,
          expr("(1000000 * n_common) div (n_simhash + n_minhash - n_common)"))
          .as("agreement_e6"))
  }

  private val q105Sql = {
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $verifiedCte, $sbandsCtes,
       spairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM sbands a JOIN sbands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
       f AS (SELECT (sp.d1 IS NOT NULL) AS in_s, (v.d1 IS NOT NULL) AS in_m
             FROM spairs sp FULL JOIN verified v
               ON sp.d1 = v.d1 AND sp.d2 = v.d2),
       agg AS (SELECT
           CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT)
             AS n_simhash,
           CAST(sum(CASE WHEN in_m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_minhash,
           CAST(sum(CASE WHEN in_s AND in_m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common
         FROM f)
       SELECT n_simhash, n_minhash, n_common,
         CASE WHEN n_simhash + n_minhash - n_common > 0
           THEN (1000000 * n_common) // (n_simhash + n_minhash - n_common)
         END AS agreement_e6
       FROM agg"""
  }

  /** q103: exact-substring dedup — maximal cross-document duplicated
    * 8-gram token spans ([[CurationOps.duplicatedSpans]]): the
    * suffix-array-style purge unit that catches boilerplate
    * headers/footers/license blocks pasted into otherwise-unique
    * documents, which whole-document near-dup (q31/q75) never flags.
    */
  private def q103ExactSubstrings(s: SparkSession, d: String): DataFrame =
    CurationOps.duplicatedSpans(docs(s, d))
      .orderBy(col("doc_id"), col("span_id"))

  private val q103Sql = {
    val kgHash =
      TextOps.tokenHashSql("array_to_string(toks[p:p+7], ' ')")
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
              FROM documents),
       posn AS (SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - 6, 1))) AS p FROM t),
       kg AS (SELECT doc_id, p - 1 AS pos, $kgHash AS h FROM posn),
       dup AS (SELECT h FROM kg GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
       hits AS (SELECT doc_id, pos FROM kg JOIN dup USING (h)),
       marked AS (SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
               IS NULL
             OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
             THEN 1 ELSE 0 END AS ns
         FROM hits),
       sp AS (SELECT doc_id, pos,
           CAST(sum(ns) OVER (PARTITION BY doc_id ORDER BY pos)
             AS BIGINT) AS span_id
         FROM marked)
       SELECT doc_id, span_id,
         CAST(min(pos) AS BIGINT) AS start_tok,
         CAST(max(pos) + 7 AS BIGINT) AS end_tok,
         CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_toks
       FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_id"""
  }

  /** q109: exact-substring PURGE — the apply side of q103
    * ([[CurationOps.purgeSpans]]): every document rebuilt with its
    * cross-document duplicated 8-gram runs removed, keeping the
    * smallest-doc_id occurrence corpus-wide. The output text IS the
    * span-deduplicated corpus; n_purged quantifies how much boilerplate
    * the ExactSubstr pass removes beyond whole-document near-dup.
    */
  private def q109SpanPurge(s: SparkSession, d: String): DataFrame =
    CurationOps.purgeSpans(docs(s, d))
      .orderBy(col("doc_id"))

  private val q109Sql = {
    val kgHash =
      TextOps.tokenHashSql("array_to_string(toks[p:p+7], ' ')")
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
              FROM documents),
       posn AS (SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - 6, 1))) AS p FROM t),
       kg AS (SELECT doc_id, p - 1 AS pos, $kgHash AS h FROM posn),
       own AS (SELECT h, min(doc_id) AS owner FROM kg GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
       ft AS (SELECT kg.doc_id, unnest(range(pos, pos + 8)) AS tt
              FROM kg JOIN own USING (h) WHERE kg.doc_id > own.owner),
       ftd AS (SELECT DISTINCT doc_id, tt FROM ft),
       tp AS (SELECT doc_id, unnest(toks) AS tok,
              unnest(range(1, len(toks) + 1)) AS ord FROM t),
       kept AS (SELECT tp.doc_id, tp.ord - 1 AS t, tp.tok FROM tp
                LEFT JOIN ftd ON ftd.doc_id = tp.doc_id
                  AND ftd.tt = tp.ord - 1
                WHERE ftd.doc_id IS NULL),
       reb AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY t) AS text_clean
               FROM kept GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         CAST(len(t.toks) - coalesce(reb.n_kept, 0) AS BIGINT)
           AS n_purged,
         coalesce(reb.text_clean, '') AS text_clean
       FROM t LEFT JOIN reb ON reb.doc_id = t.doc_id
       ORDER BY t.doc_id"""
  }

  /** Exact candidate Jaccard in e6 fixed point — shared by the q106
    * sweep and the q107 signature-error audit. Integer `div` so both
    * engines bucket identically (no FP boundary).
    */
  private def candidateJe6(s: SparkSession, d: String): DataFrame =
    CurationOps.candidateJaccard(docs(s, d))
      .filter(col("jaccard").isNotNull)
      .select(col("d1"), col("d2"),
        expr("(1000000 * n_shared) div (n1 + n2 - n_shared)").as("j_e6"))

  private val je6Cte =
    """j AS (SELECT d1, d2,
         (1000000 * n_shared) // (n1 + n2 - n_shared) AS j_e6
       FROM withsets WHERE n1 + n2 - n_shared > 0)"""

  /** q106: dedup threshold-sensitivity sweep — for each candidate
    * Jaccard threshold, how many pairs and docs would the purge touch?
    * The calibration table read BEFORE committing a threshold to a
    * 100 TB run: a cliff between two rows means the corpus has a
    * near-dup band right there. One unfiltered candidate-Jaccard pass
    * (the deployed [[CurationOps.candidateJaccard]]), exploded against
    * a 9-value threshold literal — no per-threshold re-run.
    */
  private def q106ThresholdSweep(s: SparkSession, d: String): DataFrame = {
    val thresholds = Array(500000L, 600000L, 700000L, 750000L, 800000L,
      850000L, 900000L, 950000L, 1000000L)
    candidateJe6(s, d)
      .select(col("d1"), col("d2"), col("j_e6"),
        explode(lit(thresholds)).as("threshold_e6"))
      .filter(col("j_e6") >= col("threshold_e6"))
      .select(col("threshold_e6"),
        explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy(col("threshold_e6"))
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("doc")).as("n_docs"))
      .orderBy(col("threshold_e6"))
  }

  private val q106Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $je6Cte,
       th AS (SELECT CAST(unnest([500000, 600000, 700000, 750000,
           800000, 850000, 900000, 950000, 1000000]) AS BIGINT)
           AS threshold_e6),
       f AS (SELECT th.threshold_e6, j.d1, j.d2 FROM j
             JOIN th ON j.j_e6 >= th.threshold_e6),
       e AS (SELECT threshold_e6, unnest([d1, d2]) AS doc FROM f)
       SELECT threshold_e6,
         CAST(count(*) // 2 AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
       FROM e GROUP BY threshold_e6 ORDER BY threshold_e6"""

  /** q107: MinHash signature-estimate error audit — on the LSH
    * candidates, the 8-component signature's Jaccard estimate
    * (matching components / 8) vs the exact shingle Jaccard, as one
    * row: candidate count, mean and max absolute error, all in exact
    * e6 fixed point. The number that says whether 8 components are
    * enough before scaling the banding config to 100 TB — a large MAE
    * means band agreement is a noisy proxy for true similarity and
    * the verify step is load-bearing.
    */
  private def q107MinhashEstimateError(s: SparkSession,
      d: String): DataFrame = {
    // signatures feed both pair sides — cache+materialize or the two
    // join scans each recompute the tokenize→shingle→minhash chain
    val sg = CacheScope.pin(sigs(s, d))
    val a = sg.select(col("doc_id").as("d1") +:
      (0 until 8).map(i => col(s"s$i").as(s"a$i")): _*)
    val b = sg.select(col("doc_id").as("d2") +:
      (0 until 8).map(i => col(s"s$i").as(s"b$i")): _*)
    val matches = (0 until 8)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    candidateJe6(s, d)
      .join(a, Seq("d1"))
      .join(b, Seq("d2"))
      .select(col("j_e6"), matches.as("m"))
      .select(col("j_e6"), expr("(1000000 * m) div 8").as("est_e6"))
      .select(abs(col("est_e6") - col("j_e6")).as("err"))
      .agg(count(lit(1)).as("n_candidates"),
        expr("sum(err) div count(1)").as("mae_e6"),
        max(col("err")).as("max_err_e6"))
  }

  private val q107Sql = {
    val caseSum = (0 until 8)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $je6Cte,
       m AS (SELECT j.j_e6, ($caseSum) AS mm FROM j
             JOIN sigs a ON a.doc_id = j.d1
             JOIN sigs b ON b.doc_id = j.d2),
       r AS (SELECT abs(CAST((1000000 * mm) // 8 AS BIGINT) - j_e6)
               AS err FROM m)
       SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(err) AS BIGINT) // count(*) AS mae_e6,
         CAST(max(err) AS BIGINT) AS max_err_e6
       FROM r"""
  }

  /** q108: cross-source near-dup overlap matrix — which sources
    * mirror each other? Verified pairs labeled with both documents'
    * sources, normalized to an unordered (source_a ≤ source_b) cell.
    * Off-diagonal mass identifies mirror sites to drop at ingest
    * (cheaper than deduping them forever); diagonal mass is
    * within-source churn the per-source caps (q97) already bound.
    */
  private def q108SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val src = docs(s, d).select(col("doc_id"), col("source"))
    CurationOps.pairsTable(docs(s, d))
      .select(col("d1"), col("d2"))
      .join(src.select(col("doc_id").as("d1"), col("source").as("src1")),
        Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("src2")),
        Seq("d2"))
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val q108Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $verifiedCte,
       lab AS (SELECT least(x.source, y.source) AS source_a,
           greatest(x.source, y.source) AS source_b
         FROM verified v
         JOIN documents x ON x.doc_id = v.d1
         JOIN documents y ON y.doc_id = v.d2)
       SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       FROM lab GROUP BY source_a, source_b
       ORDER BY source_a, source_b"""

  /** q102: quality-vs-dup calibration — do the quality filter and the
    * near-dup purge agree on which documents are junk? Buckets every
    * document by its DEPLOYED heuristic quality decile (the same
    * [[TextOps.qualityScore]] the q79 curation cut uses — floor is
    * exact on the bit-identical per-row score, so bucketing never
    * drifts between engines) and reports the near-dup purge rate per
    * decile. A content farm shows up as a low-quality decile with an
    * outlier dup_rate — evidence the two filters are redundant there;
    * flat rates mean they remove DIFFERENT junk and both earn their
    * keep. One join of the q75 labels to a per-row bucket, one
    * groupBy — no extra corpus pass.
    */
  private def q102QualityDupCalibration(
      s: SparkSession, d: String): DataFrame = {
    val labels = CurationOps.labelsTable(docs(s, d))
    val toks = TextOps.tokens(col("text"))
    val decile =
      least(floor(TextOps.qualityScore(toks) * 10), lit(9L)).cast("long")
    docs(s, d).select(col("doc_id"), decile.as("decile"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("comp"), 1L).otherwise(0L))
          .as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy(col("decile"))
  }

  private val q102Sql = {
    val q = TextOps.qualityScoreSql(TextOps.tokensSql("d.text"))
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes
       SELECT least(CAST(floor($q * 10) AS BIGINT), 9) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN l.comp <> l.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dups,
         CAST(SUM(CASE WHEN l.comp <> l.doc_id THEN 1 ELSE 0 END)
           AS DOUBLE) / COUNT(*) AS dup_rate
       FROM documents d JOIN labels l ON l.doc_id = d.doc_id
       GROUP BY 1 ORDER BY decile"""
  }

  /** q86: INCREMENTAL dedup — the daily-ingest fast path: admit a new
    * batch of documents (the top 20% of doc_ids, scale-relative cut)
    * only if they near-dup no EARLIER document (corpus or
    * earlier-in-batch). This is an index lookup against the banded
    * signatures — the same uniform (band, key) equi-join, no
    * recomputation of corpus-internal pairs — not the transitive
    * cluster pass (q75/q76 remain the periodic compaction that handles
    * chains). Greedy-by-id admission is deterministic and mirrors
    * exactly.
    */
  private def q86IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    // scale-relative corpus/batch split: cut = (max_id+1)*4 div 5 —
    // Spark's `div` is TRUE integer division like DuckDB's `//`
    // (Column `/` is double division, which rounds across integer
    // boundaries near 2^51+). The one-value collect is the sanctioned
    // broadcast-scalar driver edge (same class as q74's vocabulary).
    val cutV = docs(s, d)
      .agg(expr("((max(doc_id) + 1) * 4) div 5").as("cut"))
      .head().getLong(0)
    // candidate pairs are restricted to the NEW side BEFORE exact
    // verification — corpus-internal pairs never form, so the probe
    // is batch-proportional (see CurationOps.verifiedPairsIncremental)
    val verified = CurationOps
      .verifiedPairsIncremental(docs(s, d), col("doc_id") >= cutV)
      .select(col("d1"), col("d2"))
    docs(s, d).select(col("doc_id"))
      .filter(col("doc_id") >= cutV)
      .join(verified, col("doc_id") === col("d2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("d1")).as("n_dup_matches"))
      .select(col("doc_id"), col("n_dup_matches"),
        (col("n_dup_matches") === 0).as("admitted"))
      .orderBy(col("doc_id"))
  }

  private val q86Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $verifiedCte,
       cutoff AS (SELECT (MAX(doc_id) + 1) * 4 // 5 AS cut
                  FROM documents)
       SELECT d.doc_id,
         CAST(COUNT(v.d1) AS BIGINT) AS n_dup_matches,
         COUNT(v.d1) = 0 AS admitted
       FROM documents d LEFT JOIN verified v ON v.d2 = d.doc_id
       WHERE d.doc_id >= (SELECT cut FROM cutoff)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** q207: q86's incremental admission through the HOT-BUCKET-CAPPED
    * probe ([[CurationOps.verifiedPairsIncrementalCapped]], cap=2 so
    * the star path executes at gate scale) — the daily-ingest form a
    * corpus with viral boilerplate history runs. The oracle mirrors
    * the star semantics exactly (per-bucket stats → small all-vs-new
    * + hot star-to-representative → verify), so hash equality pins
    * the capped candidate generation, not just the admission bits.
    */
  private def q207CappedIncremental(s: SparkSession, d: String): DataFrame = {
    val cutV = docs(s, d)
      .agg(expr("((max(doc_id) + 1) * 4) div 5").as("cut"))
      .head().getLong(0)
    val verified = CurationOps
      .verifiedPairsIncrementalCapped(docs(s, d), col("doc_id") >= cutV,
        bucketCap = 2)
      .select(col("d1"), col("d2"))
    docs(s, d).select(col("doc_id"))
      .filter(col("doc_id") >= cutV)
      .join(verified, col("doc_id") === col("d2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("d1")).as("n_dup_matches"))
      .select(col("doc_id"), col("n_dup_matches"),
        (col("n_dup_matches") === 0).as("admitted"))
      .orderBy(col("doc_id"))
  }

  private val q207Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte,
       cut207 AS (SELECT (MAX(doc_id) + 1) * 4 // 5 AS cut
                  FROM documents),
       stats207 AS (SELECT band, key, COUNT(*) AS n_docs,
                     MIN(doc_id) AS rep
                    FROM bands GROUP BY 1, 2),
       nw207 AS (SELECT doc_id AS dn, band, key FROM bands
                 WHERE doc_id >= (SELECT cut FROM cut207)),
       small207 AS (SELECT LEAST(a.dn, b.doc_id) AS d1,
                     GREATEST(a.dn, b.doc_id) AS d2, a.band
                    FROM nw207 a
                    JOIN stats207 s
                      ON s.band = a.band AND s.key = a.key
                    JOIN bands b
                      ON b.band = a.band AND b.key = a.key
                         AND b.doc_id <> a.dn
                    WHERE s.n_docs <= 2),
       star207 AS (SELECT LEAST(a.dn, s.rep) AS d1,
                    GREATEST(a.dn, s.rep) AS d2, a.band
                   FROM nw207 a
                   JOIN stats207 s ON s.band = a.band AND s.key = a.key
                   WHERE s.n_docs > 2 AND a.dn <> s.rep),
       u207 AS (SELECT DISTINCT d1, d2, band FROM
                 (SELECT * FROM small207 UNION ALL SELECT * FROM star207)),
       cand207 AS (SELECT d1, d2 FROM u207 GROUP BY 1, 2),
       ws207 AS (SELECT c.d1, c.d2,
            CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_shared,
            CAST(len(x.sh) AS BIGINT) AS n1,
            CAST(len(y.sh) AS BIGINT) AS n2
          FROM cand207 c
          JOIN hsrc x ON x.doc_id = c.d1
          JOIN hsrc y ON y.doc_id = c.d2),
       ver207 AS (SELECT d1, d2 FROM ws207
          WHERE n_shared / (n1 + n2 - n_shared) >= 0.8)
       SELECT d.doc_id,
         CAST(COUNT(v.d1) AS BIGINT) AS n_dup_matches,
         COUNT(v.d1) = 0 AS admitted
       FROM documents d LEFT JOIN ver207 v ON v.d2 = d.doc_id
       WHERE d.doc_id >= (SELECT cut FROM cut207)
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** q115: bloom-prefiltered EXACT-dedup admission
    * ([[graft.ops.BloomOps.noveltySplit]]) — the q86 corpus/batch
    * split (cut at 80% of the id space) decided on exact md5 content
    * identity, with the batch never joining the corpus wholesale: a
    * 65536-bit / 3-probe bloom over the corpus's content hashes is
    * broadcast as a literal bitmap and rules most batch rows
    * definitely-new inside the scan's whole-stage codegen; only the
    * bloom's "maybe" rows (true dups + ≈1% collisions) reach the exact
    * left-semi confirm. Blooms have no false negatives, so the result
    * is bit-identical to the plain anti-join the oracle runs — the
    * bloom is a load-bearing accelerator, not an approximation of the
    * answer. At 100 TB this is the admission fast path that touches
    * the corpus index only for the maybe subset.
    */
  private def q115BloomAdmission(s: SparkSession, d: String): DataFrame = {
    import graft.ops.BloomOps
    val cutV = docs(s, d)
      .agg(expr("((max(doc_id) + 1) * 4) div 5").as("cut"))
      .head().getLong(0)
    val keyed = docs(s, d).select(col("doc_id"), md5(col("text")).as("h"))
    val corpus = keyed.filter(col("doc_id") < cutV).select(col("h"))
    val batch = keyed.filter(col("doc_id") >= cutV)
    BloomOps.noveltySplit(corpus, batch, "h")
      .select(col("doc_id"), col("is_new"))
      .orderBy(col("doc_id"))
  }

  private val q115Sql =
    s"""WITH cutoff AS (SELECT (MAX(doc_id) + 1) * 4 // 5 AS cut
                  FROM documents),
       keyed AS (SELECT doc_id, md5(text) AS h FROM documents),
       corpus AS (SELECT h FROM keyed
                  WHERE doc_id < (SELECT cut FROM cutoff)),
       batch AS (SELECT doc_id, h FROM keyed
                 WHERE doc_id >= (SELECT cut FROM cutoff))
       SELECT b.doc_id,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
              THEN 0 ELSE 1 END AS BIGINT) AS is_new
       FROM batch b ORDER BY b.doc_id"""

  /** q120: CROSS-MODAL dedup agreement — the q105 method-agreement
    * audit lifted across modalities: would the TEXT near-dup purge
    * (q75/q76 MinHash clusters, non-survivor ⇒ removed) and the
    * SEMANTIC purge (q112 embedding clusters over the aligned vec_ids)
    * remove the same documents? One row: doc count, per-modality
    * would-remove counts, their intersection, and the removal-set
    * Jaccard in exact integer fixed-point. High agreement ⇒ the
    * cheaper text pass already catches most semantic redundancy; low
    * ⇒ the passes are complementary and both earn their 100 TB run.
    * Both label chains are the deployed candidate-driven pipelines;
    * the join is one pass over the aligned ids.
    */
  private def q120CrossmodalAgreement(
      s: SparkSession, d: String): DataFrame = {
    val textDup = CurationOps.labelsTable(docs(s, d))
      .select(col("doc_id").cast("long").as("doc_id"),
        (col("comp") =!= col("doc_id")).as("is_text_dup"))
    val semDup = graft.ops.SemanticOps
      .labelsTable(Tables(s, d, "embeddings"))
      .select(col("vec_id").as("doc_id"),
        (col("cluster") =!= col("vec_id")).as("is_sem_dup"))
    textDup.join(semDup, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_text_dup"), 1L).otherwise(0L)).as("n_text_dup"),
        sum(when(col("is_sem_dup"), 1L).otherwise(0L)).as("n_sem_dup"),
        sum(when(col("is_text_dup") && col("is_sem_dup"), 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("n_docs"), col("n_text_dup"), col("n_sem_dup"),
        col("n_both"),
        when(col("n_text_dup") + col("n_sem_dup") - col("n_both") > 0,
          expr("(1000000 * n_both) div (n_text_dup + n_sem_dup - n_both)"))
          .as("agreement_e6"))
  }

  private val q120Sql =
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       ${Similarity.vecsCte}, ${Similarity.neardupCtes},
       esym AS (SELECT d1 AS u, d2 AS v FROM epairs
                UNION SELECT d2, d1 FROM epairs),
       ereach(u, v) AS (
         SELECT u, v FROM esym
         UNION
         SELECT r.u, s2.v FROM ereach r JOIN esym s2
           ON r.v = s2.u WHERE s2.v <> r.u),
       ecmp AS (SELECT u AS doc_id, MIN(v) AS mn FROM ereach GROUP BY u),
       elabels AS (SELECT e.vec_id AS doc_id,
           LEAST(CAST(e.vec_id AS BIGINT),
             COALESCE(c.mn, CAST(e.vec_id AS BIGINT))) AS scomp
         FROM embeddings e LEFT JOIN ecmp c ON c.doc_id = e.vec_id),
       j AS (SELECT l.doc_id,
           CASE WHEN l.comp <> l.doc_id THEN 1 ELSE 0 END AS td,
           CASE WHEN el.scomp <> el.doc_id THEN 1 ELSE 0 END AS sd
         FROM labels l JOIN elabels el ON el.doc_id = l.doc_id)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(td) AS BIGINT) AS n_text_dup,
         CAST(SUM(sd) AS BIGINT) AS n_sem_dup,
         CAST(SUM(td * sd) AS BIGINT) AS n_both,
         CASE WHEN SUM(td) + SUM(sd) - SUM(td * sd) > 0 THEN
           (1000000 * CAST(SUM(td * sd) AS BIGINT))
             // CAST(SUM(td) + SUM(sd) - SUM(td * sd) AS BIGINT)
         END AS agreement_e6
       FROM j"""

  /** q89: LSH RECALL audit — the measurement you run before trusting
    * banded MinHash at 100 TB: on a BOUNDED audit subset (doc_id <
    * 250, so the exact all-pairs ground truth is a filtered
    * nested-loop the cartesian lint's bounded-side rule sanctions),
    * compare the true Jaccard-≥0.8 pairs against the LSH candidate
    * set and emit one row: true pairs, caught pairs, recall. The
    * dedup-side twin of q38's ANN recall audit; run it on a sampled
    * subset in production to monitor the banding curve.
    */
  private def q89DedupRecall(s: SparkSession, d: String): DataFrame =
    // delegates to the public audit API — the caller picks the bounded
    // subset (here the first 250 ids; production uses a hash-sampled
    // slice), the audit runs the SAME Jaccard definition + threshold
    // the pipeline deploys (CurationOps defaults)
    CurationOps.recallAudit(docs(s, d).filter(col("doc_id") < 250))

  private val q89Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte,
       hsub AS (SELECT doc_id, sh FROM hsrc WHERE doc_id < 250),
       tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
              FROM hsub a JOIN hsub b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))) >= 0.8),
       sbands AS (SELECT * FROM bands WHERE doc_id < 250),
       cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                FROM sbands a JOIN sbands b
                  ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
         CAST(COALESCE(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 END), 0)
           AS BIGINT) AS n_caught,
         CASE WHEN COUNT(*) > 0 THEN
           CAST(COALESCE(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 END), 0)
             AS DOUBLE) / COUNT(*)
         ELSE 1.0 END AS recall
       FROM tp LEFT JOIN cand c ON c.d1 = tp.d1 AND c.d2 = tp.d2"""

  /** q91: the one-row curation REPORT a production run logs beside its
    * output — corpus size, cluster count, docs purged as near-dups,
    * canonicals cut for quality, and the final corpus size (which the
    * gate implicitly cross-checks against q79's row count, since both
    * derive from the same labels + quality cut).
    */
  private def q91CurationReport(s: SparkSession, d: String): DataFrame = {
    val labels = CurationOps.labelsTable(docs(s, d))
    val quality = docs(s, d).select(col("doc_id"),
      TextOps.qualityScore(TextOps.tokens(col("text"))).as("qv"))
    val isCanon = col("doc_id") === col("comp")
    labels.join(quality, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("comp")).as("n_clusters"),
        sum(when(!isCanon, 1L).otherwise(0L)).as("n_purged_dups"),
        sum(when(isCanon && col("qv") < 0.40, 1L).otherwise(0L))
          .as("n_quality_cut"),
        sum(when(isCanon && col("qv") >= 0.40, 1L).otherwise(0L))
          .as("n_final"))
  }

  private val q91Sql = {
    val qual = TextOps.qualityScoreSql(TextOps.tokensSql("text"))
    s"""WITH RECURSIVE $hashedCte, $sigsCte, $bandsCte, $pairsCte,
       $withsetsCte, $ccCtes,
       qv AS (SELECT doc_id, $qual AS qv FROM documents)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT l.comp) AS BIGINT) AS n_clusters,
         CAST(SUM(CASE WHEN l.doc_id <> l.comp THEN 1 ELSE 0 END)
           AS BIGINT) AS n_purged_dups,
         CAST(SUM(CASE WHEN l.doc_id = l.comp AND q.qv < 0.40
           THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_cut,
         CAST(SUM(CASE WHEN l.doc_id = l.comp AND q.qv >= 0.40
           THEN 1 ELSE 0 END) AS BIGINT) AS n_final
       FROM labels l JOIN qv q ON q.doc_id = l.doc_id"""
  }

  /** q152: containment (quote/excerpt) detection — the asymmetric
    * cousin of q31's Jaccard: c1 = |A∩B|/|A| flags documents largely
    * CONTAINED in another even when symmetric Jaccard is low (a short
    * quote inside a long article never crosses a Jaccard threshold).
    * Same LSH-candidate machinery, so cost stays candidate-driven;
    * `n_shared >= 1` guards the 0-denominator empty-shingle pairs on
    * both engines. NOTE the recall caveat inherited from MinHash LSH:
    * banding is tuned for symmetric similarity, so low-Jaccard/high-
    * containment pairs are found only when band collisions happen
    * anyway — [[graft.ops.CurationOps.duplicatedSpans]] is the exact
    * (k-gram) path when full quote recall is required.
    */
  private def q152Containment(s: SparkSession, d: String): DataFrame =
    CurationOps.candidateJaccard(docs(s, d))
      .where(col("n_shared") >= 1)
      .withColumn("c1", col("n_shared") / col("n1"))
      .withColumn("c2", col("n_shared") / col("n2"))
      .where(greatest(col("c1"), col("c2")) >= 0.9)
      .select(col("d1"), col("d2"), col("n_shared"), col("n1"), col("n2"),
        col("c1"), col("c2"))
      .orderBy(col("d1"), col("d2"))

  private val q152Sql =
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte
       SELECT d1, d2, n_shared, n1, n2,
              n_shared / n1 AS c1, n_shared / n2 AS c2
       FROM withsets
       WHERE n_shared >= 1
         AND greatest(n_shared / n1, n_shared / n2) >= 0.9
       ORDER BY d1, d2"""

  /** q153: EXACT threshold similarity join at scale — now COST-BASED
    * ([[CurationOps.exactSimilarityJoin]]): prefix filtering
    * (AllPairs/PPJoin family, rarest-first order) when prefix buckets
    * are selective, pigeonhole segmentation
    * ([[CurationOps.exactSegmentJoin]], PTJ family) when the token
    * universe has saturated and token df grows with the corpus — the
    * regime where prefix candidates explode as Σ df² (measured 151×
    * on 10× docs on this vocabulary at sf1). The oracle is the
    * brute-force definition: every pair sharing ≥1 distinct shingle,
    * exact distinct-set Jaccard, threshold 0.8 — so the hash-equality
    * check IS the no-false-negative proof of whichever physical
    * strategy the probe picks. Complements q31 (LSH + verify,
    * probabilistic recall) with a deterministic-recall path whose
    * cost is candidate-driven, not all-pairs.
    */
  private def q153PrefixJoin(s: SparkSession, d: String): DataFrame =
    CurationOps.exactSimilarityJoin(docs(s, d))
      .orderBy(col("d1"), col("d2"))

  /** q242: the pigeonhole-segmentation strategy pinned on (the PTJ
    * path q153's cost probe takes only past the saturation point), so
    * the segment machinery itself is oracle-gated at every SF: size
    * groups → per-group-pair K = ⌈(D+1)/2⌉ universe partition → full
    * + 1-deletion signatures → (group-pair, segment, signature)
    * equi-join → exact verify. Same brute-force oracle as q153 —
    * the two strategies must produce the identical exact answer.
    */
  private def q242SegmentJoin(s: SparkSession, d: String): DataFrame =
    CurationOps.exactSegmentJoin(docs(s, d))
      .orderBy(col("d1"), col("d2"))

  private val q153Sql =
    s"""WITH $hashedCte,
       sets AS (SELECT doc_id, list_distinct(hs) AS hset FROM hsrc),
       tok AS (SELECT doc_id, unnest(hset) AS h FROM sets),
       cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                FROM tok a JOIN tok b
                  ON a.h = b.h AND a.doc_id < b.doc_id),
       v AS (SELECT d1, d2,
               CAST(len(list_intersect(x.hset, y.hset)) AS BIGINT)
                 AS n_shared,
               CAST(len(x.hset) AS BIGINT) AS n1,
               CAST(len(y.hset) AS BIGINT) AS n2
             FROM cand
             JOIN sets x ON x.doc_id = d1
             JOIN sets y ON y.doc_id = d2)
       SELECT d1, d2, n_shared, n1, n2,
              n_shared / (n1 + n2 - n_shared) AS jaccard
       FROM v
       WHERE n_shared / (n1 + n2 - n_shared) >= 0.8
       ORDER BY d1, d2"""

  /** q155: 2-core of the RELAXED (threshold 0.5) near-dup graph —
    * the template-family detector. Chains of pairwise-similar docs
    * (A≈B≈C with A̸≈C) are what boilerplate templates look like in a
    * near-dup graph; connected components (q75) merges the whole
    * chain, while the 2-core keeps only docs with two independent
    * similarity witnesses — the actual dense family, endpoints peeled.
    * [[graft.ops.GraphOps.kCore]] runs peeling to a true fixpoint
    * (loud failure otherwise); the oracle unrolls 6 peel rounds —
    * more than this corpus needs, and extra rounds are no-ops once
    * the fixpoint is reached, so the hash equality also certifies
    * that convergence really happened within 6.
    */
  private def q155KCore(s: SparkSession, d: String): DataFrame = {
    val edges = CurationOps.verifiedPairs(docs(s, d), threshold = 0.5)
      .select(col("d1"), col("d2"))
    graft.ops.GraphOps.kCore(edges, "d1", "d2", k = 2)
      .orderBy(col("node"))
  }

  private val q155Sql = {
    val verified05 =
      """v05 AS (SELECT d1, d2 FROM withsets
          WHERE n_shared / (n1 + n2 - n_shared) >= 0.5),
        core0 AS (SELECT u, v FROM
          (SELECT d1 AS u, d2 AS v FROM v05
           UNION SELECT d2, d1 FROM v05)
          WHERE u <> v)"""
    // each round references the previous core exactly ONCE (window
    // degrees over the SYMMETRIC edge list: partitioning on u counts
    // deg(u), and symmetry makes the v-partition count deg(v)) — an
    // IN-subquery formulation re-evaluates the whole upstream CTE
    // chain per reference and goes exponential in the round count
    val rounds = (1 to 6).map { i =>
      s"""core$i AS (SELECT u, v FROM (
            SELECT u, v,
                   COUNT(*) OVER (PARTITION BY u) AS du,
                   COUNT(*) OVER (PARTITION BY v) AS dv
            FROM core${i - 1})
          WHERE du >= 2 AND dv >= 2)"""
    }.mkString(", ")
    s"""WITH $hashedCte, $sigsCte, $bandsCte, $pairsCte, $withsetsCte,
       $verified05, $rounds
       SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
       FROM core6 GROUP BY u ORDER BY node"""
  }

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_containment" -> q152Containment,
    "q153_prefix_join" -> q153PrefixJoin,
    "q242_segment_join" -> q242SegmentJoin,
    "q155_neardup_kcore" -> q155KCore,
    "q27_minhash_signatures" -> q27MinhashSignatures,
    "q28_lsh_band_pairs" -> q28LshBandPairs,
    "q205_lsh_bucket_profile" -> q205BucketProfile,
    "q206_capped_candidates" -> q206CappedCandidates,
    "q29_simhash" -> q29Simhash,
    "q30_simhash_pairs" -> q30SimhashPairs,
    "q31_ngram_jaccard" -> q31NgramJaccard,
    "q75_neardup_clusters" -> q75NeardupClusters,
    "q182_split_leakage" -> q182SplitLeakage,
    "q187_training_manifest" -> q187TrainingManifest,
    "q76_dedup_survivors" -> q76DedupSurvivors,
    "q165_best_of_cluster" -> q165BestOfCluster,
    "q77_contamination" -> q77Contamination,
    "q79_curated_corpus" -> q79CuratedCorpus,
    "q82_source_dup_rates" -> q82SourceDupRates,
    "q102_quality_dup_calibration" -> q102QualityDupCalibration,
    "q103_exact_substrings" -> q103ExactSubstrings,
    "q104_ngram_novelty" -> q104NgramNovelty,
    "q105_method_agreement" -> q105MethodAgreement,
    "q106_threshold_sweep" -> q106ThresholdSweep,
    "q107_minhash_estimate_error" -> q107MinhashEstimateError,
    "q108_source_overlap" -> q108SourceOverlap,
    "q109_span_purge" -> q109SpanPurge,
    "q86_incremental_dedup" -> q86IncrementalDedup,
    "q207_capped_incremental" -> q207CappedIncremental,
    "q115_bloom_admission" -> q115BloomAdmission,
    "q120_crossmodal_agreement" -> q120CrossmodalAgreement,
    "q89_dedup_recall" -> q89DedupRecall,
    "q91_curation_report" -> q91CurationReport)

  override val oracle: Map[String, String] = Map(
    "q27_minhash_signatures" -> q27Sql,
    "q28_lsh_band_pairs" -> q28Sql,
    "q205_lsh_bucket_profile" -> q205Sql,
    "q206_capped_candidates" -> q206Sql,
    "q29_simhash" -> q29Sql,
    "q30_simhash_pairs" -> q30Sql,
    "q31_ngram_jaccard" -> q31Sql,
    "q152_containment" -> q152Sql,
    "q153_prefix_join" -> q153Sql,
    "q242_segment_join" -> q153Sql,
    "q155_neardup_kcore" -> q155Sql,
    "q75_neardup_clusters" -> q75Sql,
    "q182_split_leakage" -> q182Sql,
    "q187_training_manifest" -> q187Sql,
    "q76_dedup_survivors" -> q76Sql,
    "q165_best_of_cluster" -> q165Sql,
    "q77_contamination" -> q77Sql,
    "q79_curated_corpus" -> q79Sql,
    "q82_source_dup_rates" -> q82Sql,
    "q102_quality_dup_calibration" -> q102Sql,
    "q103_exact_substrings" -> q103Sql,
    "q104_ngram_novelty" -> q104Sql,
    "q105_method_agreement" -> q105Sql,
    "q106_threshold_sweep" -> q106Sql,
    "q107_minhash_estimate_error" -> q107Sql,
    "q108_source_overlap" -> q108Sql,
    "q109_span_purge" -> q109Sql,
    "q86_incremental_dedup" -> q86Sql,
    "q207_capped_incremental" -> q207Sql,
    "q115_bloom_admission" -> q115Sql,
    "q120_crossmodal_agreement" -> q120Sql,
    "q89_dedup_recall" -> q89Sql,
    "q91_curation_report" -> q91Sql)
}
