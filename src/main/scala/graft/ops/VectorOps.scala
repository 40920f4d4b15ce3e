package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField,
  StructType}

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

  /** SQL mirror of one band's key (band `b`); expects the hyperplanes
    * exposed as `__pl{j}` columns (CROSS JOIN of a planes CTE), as with
    * [[lshBucketSql]].
    */
  def lshBandKeySql(v: String, b: Int, rowsPerBand: Int): String =
    (0 until rowsPerBand)
      .map { j =>
        s"""(CASE WHEN round(${dotSql(v, s"__pl${b * rowsPerBand + j}")}, 6) > 0
             THEN ${1L << j} ELSE 0 END)"""
      }
      .mkString("(", " + ", ")")

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

  /** The lifted frame split into `m` PQ subspaces: (vec_id, sub, j, x)
    * with sub = dim div subDim, j = dim mod subDim. Pure projection.
    */
  def pqSubspaces(x: org.apache.spark.sql.DataFrame, subDim: Int)
      : org.apache.spark.sql.DataFrame =
    x.select(col("vec_id"), expr(s"dim div $subDim").as("sub"),
      (col("dim") % subDim).as("j"), col("x"))

  /** Product-quantization codebook over the subspace frame: k
    * centroids per subspace, trained with `rounds` integer-exact
    * Lloyd iterations. The 16-64× compression layer a 10 B-vector
    * store runs (faiss IndexPQ / IVF+PQ): each vector becomes m
    * sub-codes of log2(k) bits, and serving scores against a
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
    *    over the seedrank CTE; trainN = MaxValue (or ≥ n) trains on
    *    the full corpus;
    *  - assignment is [[pqAssign]]'s exact integer Σ(x−v)² argmin
    *    with its centroid-id tie-break;
    *  - the centroid update is floor-division in BOTH engines: Spark
    *    `div` truncates toward zero while DuckDB `//` floors, so the
    *    mean is computed on a +2·10⁶-per-element SHIFTED numerator
    *    (e6 unit-vector components and their residuals are ≥ −2·10⁶,
    *    so the shifted sum is non-negative and truncation ≡ floor),
    *    then unshifted;
    *  - a centroid whose cluster empties keeps its previous value.
    *
    * Plan shape: the training sample is gathered ONCE into j-ordered
    * array rows and cached for the call; the codebook (k·m·subDim
    * longs) stays on the driver. A round is one small aggregate:
    * broadcast the codebook as a local leaf, fold every row to its
    * nearest centroid, `groupBy(sub, c)` for the count and the per-j
    * sums, collect the ≤ k·m rows, and form the new means on the
    * driver with exact (overflow-checked) long arithmetic. No plan
    * grows with `rounds`: the result is one LocalRelation
    * (sub, c, j, v), all LONG, where j is the position in the
    * subvector — j itself for a [[pqSubspaces]] frame.
    */
  def pqCodebook(xs: DataFrame, k: Int, rounds: Int,
      trainN: Long = Long.MaxValue): DataFrame = {
    require(trainN >= k,
      s"trainN=$trainN must cover the $k seeds")
    val spark = xs.sparkSession
    val ranked = xs.select(col("vec_id")).distinct()
      .withColumn("h", TextOps.tokenHashReference(
        concat(lit("pqseed:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id"))
    val seeds = ranked.limit(k).select(col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    var book = collectBook(xs.filter(col("vec_id").isin(seeds: _*))
      .withColumn("c",
        array_position(typedLit(seeds), col("vec_id").cast("long")) - 1)
      .withColumnRenamed("x", "v"))
    if (rounds > 0 && book.nonEmpty) {
      val widths = book.values.map(_.length).toSet
      require(widths.size == 1,
        s"subspaces must share one width, got ${widths.mkString(",")}")
      val sums = (0 until widths.head).map(i => sum(col("xa").getItem(i)))
      // the Lloyd frame: sample rows only, so training cost is bounded
      // by trainN whatever the corpus size
      val xsT =
        if (trainN < Int.MaxValue.toLong)
          xs.join(broadcast(ranked.limit(trainN.toInt)
            .select(col("vec_id"))), Seq("vec_id"))
        else xs
      val g = gather(xsT).cache()
      try {
        for (_ <- 1 to rounds)
          // assigned clusters get their new mean, empty ones keep theirs
          book ++= nearest(g, codebookLeaf(spark, book))
            .groupBy(col("sub"), col("c"))
            .agg(count(lit(1)), sums: _*)
            .collect()
            .map { r =>
              (r.getLong(0), r.getLong(1)) -> Array.tabulate(sums.size)(i =>
                shiftedMean(r.getLong(3 + i), r.getLong(2)))
            }
      } finally g.unpersist()
    }
    val rows = for {
      ((sub, c), v) <- book.toSeq
      (x, j) <- v.zipWithIndex
    } yield Row(sub, c, j.toLong, x)
    spark.createDataFrame(rows.asJava, StructType(
      Seq("sub", "c", "j", "v").map(StructField(_, LongType, false))))
  }

  private val SHIFT = 2000000L

  /** `(Σx + n·SHIFT) div n − SHIFT` — the oracle's centroid update;
    * Scala `/` truncates exactly as Spark `div` does, and the exact
    * ops throw where an ANSI Spark expression would.
    */
  private def shiftedMean(s: Long, n: Long): Long =
    Math.subtractExact(
      Math.addExact(s, Math.multiplyExact(n, SHIFT)) / n, SHIFT)

  /** A long-form (sub, c, j, v) codebook frame collected into the
    * driver-held form: (sub, c) → j-ordered centroid.
    */
  private def collectBook(cent: DataFrame): Map[(Long, Long), Array[Long]] =
    cent.select(Seq("sub", "c", "j", "v").map(col(_).cast("long")): _*)
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (key, rs) =>
        key -> rs.sortBy(_.getLong(2)).map(_.getLong(3))
      }

  /** A driver-held codebook as one local (sub, cbs) leaf: per
    * subspace the c-ascending array of (c, j-ordered centroid)
    * structs.
    */
  private def codebookLeaf(spark: SparkSession,
      book: Map[(Long, Long), Array[Long]]): DataFrame = {
    val centroid = StructType(Seq(StructField("c", LongType, false),
      StructField("cv", ArrayType(LongType, false), false)))
    spark.createDataFrame(
      book.groupBy(_._1._1).toSeq.map { case (sub, cs) =>
        Row(sub, cs.toSeq.sortBy(_._1._2)
          .map { case ((_, c), v) => Row(c, v.toSeq) })
      }.asJava,
      StructType(Seq(StructField("sub", LongType, false),
        StructField("cbs", ArrayType(centroid, false), false))))
  }

  /** Each (vector, subspace) of a (vec_id, sub, j, x) frame as ONE
    * j-ordered array row (vec_id, sub, xa).
    */
  private def gather(xs: DataFrame): DataFrame =
    xs.groupBy(col("vec_id"), col("sub"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("x")))),
        t => t.getField("x")).as("xa"))

  /** Gathered rows joined to their subspace's (sub, cbs) codebook row
    * with the nearest centroid `c` resolved INSIDE one row-local fold:
    * exact integer Σ(x−v)² per centroid, strict `<` so the FIRST (=
    * lowest c, since `cbs` is c-sorted) minimum wins.
    */
  private def nearest(g: DataFrame, cbs: DataFrame): DataFrame = {
    val best = aggregate(col("cbs"),
      struct(lit(Long.MaxValue).as("dd"), lit(-1L).as("c")),
      (acc, ce) => {
        val dd = aggregate(
          zip_with(col("xa"), ce.getField("cv"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (s, t) => s + t)
        when(dd < acc.getField("dd"),
          struct(dd.as("dd"), ce.getField("c").as("c")))
          .otherwise(acc)
      })
    g.join(broadcast(cbs), Seq("sub"))
      .withColumn("c", best.getField("c"))
  }

  /** Nearest-centroid assignment per (vec, subspace): exact integer
    * squared-L2 argmin with centroid-id tie-break → (vec_id, sub, c).
    * After training this IS the PQ encoder (m codes per vector).
    *
    * Plan shape: the codebook (≤ k·m·subDim longs, 16 K at the
    * largest shipped budget) is collected to the driver and broadcast
    * as ONE local leaf of one row per subspace, holding its k
    * j-ordered centroid arrays (c ascending); each (vector, subspace)
    * is gathered into ONE j-ordered array row, and the argmin
    * resolves inside a single row-local fold — the same kernel every
    * [[pqCodebook]] round runs. It shuffles only the n·m gathered
    * subvector rows and burns the k·subDim arithmetic as row-local
    * expression work — O(n·m) rows end to end, no per-centroid row
    * explosion anywhere.
    */
  def pqAssign(xs: DataFrame, cent: DataFrame): DataFrame =
    nearest(gather(xs), codebookLeaf(xs.sparkSession, collectBook(cent)))
      .select(col("vec_id"), col("sub"), col("c"))
}
