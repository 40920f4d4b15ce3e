package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Dense-vector arithmetic over `array<float>` embedding columns as
  * native higher-order expressions (no UDF, no MLlib Vector boxing —
  * stays inside whole-stage codegen; reference analogue: hw4/hw4.py:102
  * `cosine_similarity` Python UDF).
  *
  * Exactness contract with the oracle: elements are cast float→double
  * (lossless), products are exact double ops, and the sum is a
  * *sequential left fold* on both engines (Spark `aggregate`, DuckDB
  * `list_reduce` over a zero-prepended product list) — same operations
  * in the same order → bit-identical doubles, no rounding tricks needed
  * (queries still round for defense in depth).
  */
object VectorOps {

  /** float[] → double[] (lossless widening). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def toDoubleSql(x: String): String = s"($x)::DOUBLE[]"

  /** Dot product of two double arrays: the codegen'd native expression
    * [[graft.plans.DotProductExpr]] (registered by GraftExtensions as
    * `graft_dot`). Identical strict left-to-right accumulation as the
    * interpreted fold `aggregate(zip_with(a,b,_*_),0d,_+_)` it replaced
    * — that composition allocates an intermediate array per row and
    * can't participate in whole-stage codegen, which dominated the
    * all-pairs similarity scan.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The builtin-composition fallback (no extensions needed); same
    * bit-exact result, interpreted evaluation.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** SQL mirror; `a`/`b` must be simple column/alias names (indexed in
    * the lambda).
    */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(
        list_concat([0.0],
          list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])),
        (acc, x) -> acc + x)"""

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact integer L2² of two e6 vectors held as doubles, from their
    * squared norms: ‖a‖² + ‖b‖² − 2⟨a,b⟩, identical to Σ(a−b)². Each
    * product is ≤ 4·10¹² and a 64-term sum stays far under 2⁵³, so the
    * double dot is an exact integer and the LONG cast is lossless.
    */
  def l2E6(a: Column, an2: Column, b: Column, bn2: Column): Column =
    an2 + bn2 - lit(2L) * dot(a, b).cast("long")

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Deterministic pseudo-random hyperplane component k (0-based) of
    * plane j: ((aj·(k+1) + bj) mod 97 − 48) / 48 ∈ [−1, 1]. Pure integer
    * arithmetic then one exact division — identical on both engines.
    */
  def plane(j: Int, dim: Int): Column = {
    val (aj, bj) = planeCoef(j)
    transform(sequence(lit(0), lit(dim - 1)),
      k => (pmod((k + 1) * aj + bj, lit(97)) - 48).cast("double") / 48.0)
  }

  def planeSql(j: Int, dim: Int): String = {
    val (aj, bj) = planeCoef(j)
    s"""list_transform(range(0, $dim),
        k -> ((((k + 1) * $aj + $bj) % 97) - 48)::DOUBLE / 48.0)"""
  }

  /** [[plane]] evaluated on the driver: the same integer arithmetic,
    * for a router that ranks bit flips before issuing its probe.
    */
  private[graft] def planeArray(j: Int, dim: Int): Array[Double] = {
    val (aj, bj) = planeCoef(j)
    Array.tabulate(dim)(k =>
      (Math.floorMod((k + 1) * aj + bj, 97) - 48).toDouble / 48.0)
  }

  private def planeCoef(j: Int): (Int, Int) = (2 * j + 3, 7 * j + 1)

  /** Sign-bucket of `v` under `nPlanes` hyperplanes → LONG bucket id.
    * The dot is rounded to 6 dp before the sign test so a last-ulp
    * summation difference can never flip a bucket bit.
    */
  def lshBucket(v: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes)
      .map(j => when(round(dot(v, plane(j, dim)), 6) > 0, lit(1L << j))
        .otherwise(lit(0L)))
      .reduce(_ + _)

  def lshBucketSql(v: String, dim: Int, nPlanes: Int): String =
    (0 until nPlanes)
      .map { j =>
        s"""(CASE WHEN round(${dotSql(v, s"__pl$j")}, 6) > 0
             THEN ${1L << j} ELSE 0 END)"""
      }
      .mkString("(", " + ", ")")

  /** LSH banding over `bands`×`rowsPerBand` hyperplanes: an array of
    * (band, bkey) structs, one element per band, where bkey packs the
    * band's `rowsPerBand` sign bits. Two vectors are *candidates* iff
    * they share a bkey in at least one band — the standard banding
    * amplification (recall 1-(1-p^r)^b). Explode the array once and
    * equi-join on (band, bkey): uniform keys, no nested loop, the same
    * single-pass shape the Dedup pack uses for MinHash bands.
    */
  def lshBandKeys(v: Column, dim: Int, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b.toLong).as("band"),
        (0 until rowsPerBand)
          .map(j =>
            when(round(dot(v, plane(b * rowsPerBand + j, dim)), 6) > 0,
              lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("bkey"))
    }: _*)

  /** FULL-RESOLUTION (16-bit) band keys as two stacked 8-bit sign
    * blocks: bit j < 8 of band b comes from plane b·8+j — exactly
    * [[lshBandKeys]](v, dim, bands, 8), so masking the key to r ≤ 8
    * bits reproduces the historical 8-bit band keys bit-for-bit —
    * and bit j ≥ 8 from the APPENDED plane block bands·8 + b·8 +
    * (j−8). This is the resolution-ceiling raise the count-scaled
    * banding rule needs: an 8-bit ceiling re-saturates at n ≈ 2^8·32
    * ≈ 8k vectors (expected bucket size grows linearly past it), while
    * 16 bits holds the ≤ ~32-per-bucket invariant to n ≈ 2^16·32 ≈ 2M
    * per band — two decades past the shipped corpora. Consumers mask
    * to the count-scaled r ∈ [lo, 16] ([[IndexStore.scaledBitsRow]]).
    */
  def lshBandKeys16(v: Column, dim: Int, bands: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b.toLong).as("band"),
        (0 until 16).map { j =>
          val p = if (j < 8) b * 8 + j else bands * 8 + b * 8 + (j - 8)
          when(round(dot(v, plane(p, dim)), 6) > 0, lit(1L << j))
            .otherwise(lit(0L))
        }.reduce(_ + _).as("bkey"))
    }: _*)

  /** SQL mirror of [[lshBandKeys16]]'s band-`b` key (same stacked
    * plane indexing); expects `__pl{j}` columns for j < 16·bands.
    */
  def lshBandKey16Sql(v: String, b: Int, bands: Int): String =
    (0 until 16)
      .map { j =>
        val p = if (j < 8) b * 8 + j else bands * 8 + b * 8 + (j - 8)
        s"""(CASE WHEN round(${dotSql(v, s"__pl$p")}, 6) > 0
             THEN ${1L << j} ELSE 0 END)"""
      }
      .mkString("(", " + ", ")")

  /** e6 integer lift of a float-array column, exploded to one row per
    * (id, dim, x): the ingestion step of the exact-integer vector
    * pipeline (float→double is IEEE-lossless, round-to-e6 is the house
    * fixed-point rule — deterministic on both engines).
    */
  def liftE6(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String): org.apache.spark.sql.DataFrame =
    // Hash-partitioned by the vector id (round 13, guide §2): nearly
    // every consumer of the lifted frame aggregates or joins on the
    // id (codebook training, code assembly, ground-truth arrays), so
    // the keyed exchange here is the SAME shuffle those consumers
    // would each pay — established once, reused downstream — while a
    // small corpus (single-row-group parquet → one scan task) gets
    // its per-row lift arithmetic spread across the cluster instead
    // of one core. Keyed, no constant: the partition count follows
    // spark.sql.shuffle.partitions/AQE at any scale. Query-side
    // consumers that filter to the bounded query ids still prune
    // BEFORE the exchange (deterministic predicates push through a
    // RepartitionByExpression). This is also the ONE canonical lift
    // plan — IndexStore artifact keys hash the analyzed plan, so the
    // repartition must live here, not in per-caller wrappers, or the
    // same codebook would train once per distinct caller plan.
    df.select(col(idCol), posexplode(toDouble(col(vecCol))))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        round(col("col") * lit(1000000L)).cast("long").as("x"))
      .repartition(col(idCol))

  /** DuckDB twin of [[liftE6]] over the `embeddings` table: the CTE
    * `x` (vec_id, dim, x) every exact-integer vector oracle starts
    * from.
    */
  val liftE6Sql: String =
    """x AS (SELECT vec_id, CAST(i AS BIGINT) AS dim,
           CAST(ROUND(CAST(e AS DOUBLE)*1000000) AS BIGINT) AS x
         FROM (SELECT vec_id, unnest(embedding) AS e,
                      unnest(range(0, len(embedding))) AS i
               FROM embeddings))"""

  /** SQ8 scalar quantization over a lifted (id, dim, x) frame: joins
    * the per-dimension [min,max] (a |dims|-row broadcast), derives the
    * uint8 code `⌊(x−min)·256/(range+1)⌋` and its midpoint
    * reconstruction — all integer ops, so the whole quantizer replays
    * exactly in the oracle. Columns out: id, dim, x, mn, mx, rng,
    * code, recon. The float32→uint8 layout is the 4× storage and
    * memory-bandwidth cut a 100 TB vector store takes before ANN
    * (faiss SQ8); q226 audits the reconstruction error, q227 the
    * retrieval cost via ADC.
    */
  def sq8(x: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = x.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    x.join(broadcast(stats), Seq("dim"))
      .withColumn("rng", col("mx") - col("mn"))
      .withColumn("code", expr("((x - mn) * 256) div (rng + 1)"))
      .withColumn("recon",
        col("mn") + expr("((2*code + 1) * (rng + 1)) div 512"))
  }

  /** DuckDB twin of [[sq8]] over the lifted CTE `x`: the per-dim
    * `stats` (dim, mn, mx) and `sq8` (vec_id, dim, x, mn, mx, rng,
    * code, recon).
    */
  val sq8Sql: String =
    """stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY 1),
       sq8 AS (SELECT *, mn + ((2*code + 1) * (rng + 1)) // 512 AS recon
         FROM (SELECT x.vec_id, x.dim, x.x, mn, mx, mx - mn AS rng,
                 ((x.x - mn) * 256) // (mx - mn + 1) AS code
               FROM x JOIN stats USING (dim)))"""

  /** The lifted frame split into `m` PQ subspaces: (vec_id, sub, j, x)
    * with sub = dim div subDim, j = dim mod subDim. Pure projection.
    */
  def pqSubspaces(x: org.apache.spark.sql.DataFrame, subDim: Int)
      : org.apache.spark.sql.DataFrame =
    x.select(col("vec_id"), expr(s"dim div $subDim").as("sub"),
      (col("dim") % subDim).as("j"), col("x"))

  /** DuckDB twin of [[pqSubspaces]]: the CTE `name` over the lifted
    * CTE `src`.
    */
  def pqSubspacesSql(name: String, subDim: Int, src: String = "x"): String =
    s"""$name AS (SELECT vec_id, dim // $subDim AS sub, dim % $subDim AS j,
           x FROM $src)"""

  /** Product-quantization codebook AND code table over the subspace
    * frame, from one build: k centroids per subspace trained with
    * `rounds` integer-exact Lloyd iterations, then the full corpus
    * encoded under the final codebook. The 16-64× compression layer a
    * 10 B-vector store runs (faiss IndexPQ / IVF+PQ): each vector
    * becomes m sub-codes of log2(k) bits, and serving scores against a
    * per-query distance table instead of the raw floats.
    *
    * Everything replays in the oracle:
    *  - seeding is hash-rank deterministic (md5-prefix64 of
    *    "pqseed:"+vec_id, vec_id tie-break) — the first k vectors of
    *    that ordering initialize every subspace's centroids, no RNG;
    *  - training sees only the trainN smallest vectors of the SAME
    *    ordering (the faiss recipe: quantizers train on a bounded
    *    sample, the full corpus is only assigned), so seeds ⊂ sample
    *    and the sample's DuckDB twin is one `rn <= trainN` predicate
    *    over the seedrank CTE; trainN ≥ n trains on the full corpus;
    *  - assignment is the exact integer Σ(x−v)² argmin in
    *    `Math.*Exact` long arithmetic (an overflow throws, as the ANSI
    *    expression it replaced did), strict `<` so the lowest c wins;
    *  - the centroid update is floor-division in BOTH engines: Spark
    *    `div` truncates toward zero while DuckDB `//` floors, so the
    *    mean is computed on a +2·10⁶-per-element SHIFTED numerator
    *    (e6 unit-vector components and their residuals are ≥ −2·10⁶,
    *    so the shifted sum is non-negative and truncation ≡ floor),
    *    then unshifted;
    *  - a centroid whose cluster empties keeps its previous value.
    *
    * Plan shape: the frame is gathered ONCE into j-ordered array rows
    * (vec_id, sub, xa), cached for the call; one collect ranks its
    * vec_ids. The codebook (k·m·subDim longs) stays on the driver, and
    * a round is ONE job: a `mapPartitions` over the cached rows, the
    * codebook in its closure, returns per-(sub, c) counts and per-j
    * sums that the driver merges into the new means — no exchange, so
    * no AQE stage job. `use` gets the codebook, one LocalRelation
    * (sub, c, j, v) of LONGs, and the codes (vec_id, sub, c) of every
    * vector from the same kernel and cached rows; consume the codes
    * inside `use`, the cache is released when it returns.
    */
  def pqQuantize[A](xs: DataFrame, k: Int, rounds: Int,
      trainN: Long = Long.MaxValue)(use: (DataFrame, DataFrame) => A): A = {
    require(trainN >= k, s"trainN=$trainN must cover the $k seeds")
    val g = gather(xs).cache()
    try {
      val ranked = g.select(col("vec_id")).distinct()
        .orderBy(TextOps.tokenHashReference(
          concat(lit("pqseed:"), col("vec_id").cast("string"))),
          col("vec_id"))
        .select(col("vec_id"))
      // a top-N pre-allocates N slots per partition: only a bounded
      // sample is cut in Spark
      val ids = (if (trainN <= TOP_N_MAX) ranked.limit(trainN.toInt)
        else ranked).collect().map(_.getLong(0))
      // sorted sample ids, or None when the whole corpus trains
      val sample = Option.when(ids.length >= trainN)(
        ids.take(trainN.toInt).sorted)
      val seedC = ids.take(k).zipWithIndex.toMap
      val rows = g.rdd
      var book = rows.filter(r => seedC.contains(r._1)).collect()
        .map { case (id, sub, xa) => (sub, seedC(id).toLong) -> xa }.toMap
      if (rounds > 0 && book.nonEmpty) {
        val widths = book.values.map(_.length).toSet
        require(widths.size == 1,
          s"subspaces must share one width, got ${widths.mkString(",")}")
        for (_ <- 1 to rounds) {
          val cs = bySub(book)
          // assigned clusters get their new mean, empty ones keep theirs
          book ++= rows.mapPartitions(lloydPartials(_, cs, sample))
            .collect()
            .groupMapReduce(p => (p._1, p._2))(_._3)((a, b) =>
              Array.tabulate(a.length)(i => Math.addExact(a(i), b(i))))
            .map { case (key, a) =>
              key -> Array.tabulate(a.length - 1)(i =>
                shiftedMean(a(i + 1), a(0)))
            }
        }
      }
      use(bookFrame(xs.sparkSession, book), encode(g, book))
    } finally g.unpersist()
  }

  /** DuckDB twin of [[pqQuantize]]'s seed ordering over the lifted CTE
    * `x`: `seedrank` (vec_id, rn), rn ranking the md5-prefix64 of
    * "pqseed:"+vec_id with a vec_id tie-break. One per oracle: every
    * [[pqQuantizeSql]] chain in it cuts its seeds and sample here.
    */
  val seedRankSql: String =
    """seedrank AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
           CAST(('0x' || substr(md5('pqseed:' || vec_id), 1, 15))
             AS BIGINT), vec_id) AS rn
         FROM (SELECT DISTINCT vec_id FROM x))"""

  /** DuckDB twin of [[pqQuantize]] over the subspace CTE `xs`, every
    * name prefixed `p`: the first `k` rows of `seedrank` seed `${p}c0`,
    * the first `trainN` rows are the training sample `${p}xst`, the
    * `rounds` Lloyd rounds unroll into `${p}c1` … `${p}c<rounds>` (the
    * trained (sub, c, j, v) codebook), and `${p}codes` (vec_id, sub, c)
    * encodes every row of `xs` under it.
    */
  def pqQuantizeSql(xs: String, k: String, trainN: String, rounds: Int,
      p: String = ""): String = {
    val xst = s"${p}xst"
    // one round: assignment against `cp`, then the shift-floor mean
    // update; a centroid whose cluster empties keeps its value
    val chain = (1 to rounds).map { i =>
      val (cp, a, u) = (s"${p}c${i - 1}", s"${p}a$i", s"${p}u$i")
      s"""${argminSql(a, xst, cp)},
       $u AS (SELECT a.sub, a.c, t.j,
           (SUM(t.x) + COUNT(*) * $SHIFT) // COUNT(*) - $SHIFT AS nv
         FROM $a a JOIN $xst t ON t.vec_id = a.vec_id AND t.sub = a.sub
         GROUP BY 1, 2, 3),
       ${p}c$i AS (SELECT b.sub, b.c, b.j, COALESCE(u.nv, b.v) AS v
         FROM $cp b LEFT JOIN $u u
           ON u.sub = b.sub AND u.c = b.c AND u.j = b.j)"""
    }
    (Seq(
      s"""${p}seeds AS (SELECT vec_id, rn - 1 AS c FROM seedrank
         WHERE rn <= ($k))""",
      s"${p}tsam AS (SELECT vec_id FROM seedrank WHERE rn <= ($trainN))",
      s"""$xst AS (SELECT t.vec_id, t.sub, t.j, t.x
         FROM $xs t JOIN ${p}tsam s ON s.vec_id = t.vec_id)""",
      s"""${p}c0 AS (SELECT t.sub, s.c, t.j, t.x AS v
         FROM ${p}seeds s JOIN $xs t ON t.vec_id = s.vec_id)""") ++ chain :+
      argminSql(s"${p}codes", xs, s"${p}c$rounds")).mkString(",\n       ")
  }

  /** The nearest centroid (vec_id, sub, c) of every row of subspace CTE
    * `xs` under codebook `book`: [[nearest]]'s least Σ(x−v)², lowest c
    * on a tie.
    */
  private def argminSql(name: String, xs: String, book: String): String =
    s"""$name AS (SELECT vec_id, sub, c FROM (
         SELECT vec_id, sub, c, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
           ORDER BY dd, c) AS rn
         FROM (${subDistSql(xs, book)})) WHERE rn = 1)"""

  /** Σ(x−v)² per (vec_id, sub, c) of the rows of subspace CTE `xs`
    * (alias q, filtered by `where`) against every centroid of the
    * (sub, c, j, v) codebook `book`.
    */
  def subDistSql(xs: String, book: String, where: String = ""): String =
    s"""SELECT q.vec_id, q.sub, c.c, SUM((q.x - c.v)*(q.x - c.v)) AS dd
           FROM $xs q JOIN $book c ON c.sub = q.sub AND c.j = q.j $where
           GROUP BY 1, 2, 3"""

  /** A (sub, c, j, v) codebook frame collected to the driver as
    * (sub, c) → j-ordered centroid.
    */
  private[graft] def collectBook(cent: DataFrame)
      : Map[(Long, Long), Array[Long]] =
    cent.select(Seq("sub", "c", "j", "v").map(col(_).cast("long")): _*)
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getLong(2)).map(_.getLong(3))
      }

  private val SHIFT = 2000000L
  private val TOP_N_MAX = 1L << 20

  /** `(Σx + n·SHIFT) div n − SHIFT` — the oracle's centroid update;
    * Scala `/` truncates exactly as Spark `div` does, and the exact
    * ops throw where an ANSI Spark expression would.
    */
  private def shiftedMean(s: Long, n: Long): Long =
    Math.subtractExact(
      Math.addExact(s, Math.multiplyExact(n, SHIFT)) / n, SHIFT)

  /** A driver-held codebook as one local (sub, c, j, v) leaf. */
  private def bookFrame(spark: SparkSession,
      book: Map[(Long, Long), Array[Long]]): DataFrame = {
    val rows = for {
      ((sub, c), v) <- book.toSeq
      (x, j) <- v.zipWithIndex
    } yield Row(sub, c, j.toLong, x)
    spark.createDataFrame(rows.asJava, StructType(
      Seq("sub", "c", "j", "v").map(StructField(_, LongType, false))))
  }

  /** The kernels' codebook view: per sub, c-ascending (c, centroid). */
  private[graft] def bySub(book: Map[(Long, Long), Array[Long]])
      : Map[Long, Array[(Long, Array[Long])]] =
    book.toSeq.groupMap(_._1._1) { case ((_, c), v) => (c, v) }
      .map { case (sub, cs) => sub -> cs.toArray.sortBy(_._1) }

  /** Each (vector, subspace) of a (vec_id, sub, j, x) frame as ONE
    * j-ordered array row (vec_id, sub, xa), typed for the kernels.
    */
  private def gather(xs: DataFrame): Dataset[(Long, Long, Array[Long])] =
    xs.groupBy(col("vec_id").cast("long").as("vec_id"),
        col("sub").cast("long").as("sub"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("x")))),
        t => t.getField("x")).as("xa"))
      .as(Encoders.product[(Long, Long, Array[Long])])

  /** The nearest centroid of `xa` in `cs` (c-ascending): exact integer
    * Σ(x−v)², strict `<` so the FIRST (= lowest c) minimum wins; a
    * centroid of another width never matches.
    */
  private def nearest(xa: Array[Long], cs: Array[(Long, Array[Long])])
      : Long = {
    var best = Long.MaxValue
    var bestC = -1L
    for ((c, v) <- cs if v.length == xa.length) {
      var dd = 0L
      for (i <- xa.indices) {
        val d = Math.subtractExact(xa(i), v(i))
        dd = Math.addExact(dd, Math.multiplyExact(d, d))
      }
      if (dd < best) { best = dd; bestC = c }
    }
    bestC
  }

  /** One partition's share of a Lloyd round: per (sub, c), the count
    * of sample rows nearest to c (slot 0) and their per-j sums.
    */
  private def lloydPartials(it: Iterator[(Long, Long, Array[Long])],
      cs: Map[Long, Array[(Long, Array[Long])]],
      sample: Option[Array[Long]]): Iterator[(Long, Long, Array[Long])] = {
    val acc = collection.mutable.HashMap.empty[(Long, Long), Array[Long]]
    for ((id, sub, xa) <- it
         if sample.forall(java.util.Arrays.binarySearch(_, id) >= 0);
         cents <- cs.get(sub)) {
      val a = acc.getOrElseUpdate((sub, nearest(xa, cents)),
        new Array[Long](xa.length + 1))
      a(0) += 1
      for (i <- xa.indices) a(i + 1) = Math.addExact(a(i + 1), xa(i))
    }
    acc.iterator.map { case ((sub, c), a) => (sub, c, a) }
  }

  /** Codes (vec_id, sub, c); a subspace without centroids gets none. */
  private def encode(rows: Dataset[(Long, Long, Array[Long])],
      book: Map[(Long, Long), Array[Long]]): DataFrame = {
    val cs = bySub(book)
    rows.flatMap { case (id, sub, xa) =>
      cs.get(sub).map(cents => (id, sub, nearest(xa, cents)))
    }(Encoders.product[(Long, Long, Long)]).toDF("vec_id", "sub", "c")
  }
}
