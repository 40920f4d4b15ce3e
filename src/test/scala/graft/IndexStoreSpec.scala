package graft.ops

import graft.core.{GraftSession, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The fit-once/serve-many contract of the persisted ANN-index layer:
  * every [[IndexStore]] artifact (a) equals the direct inline
  * derivation value-for-value, and (b) serves any LATER consumer —
  * even one holding a freshly-constructed input frame — as a bare
  * parquet scan (a `LogicalRelation` leaf with no Aggregate/Join/
  * Window above it), which is the difference between "computes an
  * index" and "ships one".
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("graft-test", cores = 4)
  private val dir = "/root/testdata/sf0.001"

  private def emb = Tables(spark, dir, "embeddings")

  private def lifted: DataFrame =
    VectorOps.liftE6(emb, "vec_id", "embedding")

  private def idVecs: DataFrame = emb
    .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    .select(col("vec_id"), col("v"), VectorOps.norm(col("v")).as("nrm"))

  private def isBareScan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case _: LogicalRelation => true
      case other =>
        // column pruning may leave a Project over the relation
        other.collectLeaves().forall(_.isInstanceOf[LogicalRelation]) &&
          other.children.size == 1 &&
          other.getClass.getSimpleName == "Project"
    }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Spark jobs launched while `body` runs, counted by a listener. A
    * marker job afterwards flushes the listener queue: its events
    * arrive after every earlier job's.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobsOf-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Iterator.continually(
        seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { d =>
          assert(d != null, "listener queue did not drain")
          d != "jobsOf-marker"
        }.size
    } finally sc.removeSparkListener(listener)
  }

  /** The legacy assignment plan (round ≤ 12): join every lifted row
    * against all k centroids, window-rank the n·m·k distance rows —
    * kept as the executable spec of the assignment SEMANTICS the
    * row-local fold must reproduce exactly (same exact integer
    * Σ(x−v)², same (dd asc, c asc) tie-break).
    */
  private def legacyAssign(xs: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = xs.join(broadcast(cent), Seq("sub", "j"))
      .groupBy(col("vec_id"), col("sub"), col("c"))
      .agg(sum((col("x") - col("v")) * (col("x") - col("v"))).as("dd"))
    dist.withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"), col("sub"))
          .orderBy(col("dd"), col("c"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("c"))
  }

  /** The legacy Lloyd trainer: every round unrolled into one lazy plan
    * (assign + join + aggregate + left join per round), seeds cut by a
    * global row_number over the hash-rank sample — kept as the
    * executable spec of the training SEMANTICS the driver-held
    * trainer must reproduce bit for bit.
    */
  private def legacyCodebook(xs: DataFrame, k: Int, rounds: Int,
      trainN: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = xs.select(col("vec_id")).distinct()
      .withColumn("h", TextOps.tokenHashReference(
        concat(lit("pqseed:"), col("vec_id").cast("string"))))
    val sampling = trainN < Int.MaxValue.toLong
    val sample = ranked.orderBy(col("h"), col("vec_id"))
      .limit(if (sampling) trainN.toInt else k)
    val seeds = sample
      .withColumn("c",
        row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1)
      .filter(col("c") < k)
      .select(col("vec_id"), col("c").cast("long").as("c"))
    val xsT =
      if (sampling)
        xs.join(broadcast(sample.select(col("vec_id"))), Seq("vec_id"))
      else xs
    var cent = xs.join(broadcast(seeds), Seq("vec_id"))
      .select(col("sub"), col("c"), col("j"), col("x").as("v"))
    for (_ <- 1 to rounds) {
      val assigned = legacyAssign(xsT, cent)
      val updated = assigned.join(xsT, Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("c"), col("j"))
        .agg(expr("(sum(x) + count(1) * 2000000) div count(1) - 2000000")
          .as("nv"))
      cent = cent.join(updated, Seq("sub", "c", "j"), "left")
        .select(col("sub"), col("c"), col("j"),
          coalesce(col("nv"), col("v")).as("v"))
    }
    cent
  }

  /** The trained codebook alone ([[VectorOps.pqQuantize]]'s first
    * output: a driver-side local frame, valid after the call).
    */
  private def codebook(xs: DataFrame, k: Int, rounds: Int,
      trainN: Long = Long.MaxValue): DataFrame =
    VectorOps.pqQuantize(xs, k, rounds, trainN)((book, _) => book)

  test("trained codebook artifact equals the direct Lloyd derivation") {
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    val direct = sortedRows(codebook(xs, k = 16, rounds = 2))
    val stored = sortedRows(IndexStore.codebook(xs, k = 16, rounds = 2))
    assert(stored === direct)
    assert(stored.nonEmpty)
  }

  test("second codebook call (fresh frame) plans a bare file scan") {
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    IndexStore.codebook(xs, k = 16, rounds = 2).count()
    val again = IndexStore.codebook(
      VectorOps.pqSubspaces(lifted, subDim = 8), k = 16, rounds = 2)
    assert(isBareScan(again),
      s"expected a parquet read-back, got:\n${again.queryExecution.optimizedPlan}")
  }

  test("codes artifact equals direct assignment and reads back as a scan") {
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    val direct = VectorOps.pqQuantize(xs, k = 16, rounds = 2)(
      (_, codes) => sortedRows(codes))
    assert(sortedRows(IndexStore.codes(xs, k = 16, rounds = 2)) === direct)
    assert(isBareScan(IndexStore.codes(xs, k = 16, rounds = 2)))
  }

  test("round-13 gather-argmin assignment equals the historical " +
      "exploded-join + window rank, bit for bit") {
    // both the PQ frame (m=8) and the IMI half frame (m=2) — the two
    // subspace geometries every trained quantizer in the engine uses
    for (subDim <- Seq(8, 32)) {
      val xs = VectorOps.pqSubspaces(lifted, subDim = subDim)
      VectorOps.pqQuantize(xs, k = 16, rounds = 2)((cent, codes) =>
        assert(sortedRows(codes) === sortedRows(legacyAssign(xs, cent)),
          s"assignment drift at subDim=$subDim"))
    }
  }

  test("driver-held Lloyd rounds equal the unrolled legacy plan, " +
      "bit for bit") {
    // the fused build's codebook AND its full-corpus codes
    def same(xs: DataFrame, rounds: Int, trainN: Long, what: String) = {
      val (book, codes) = VectorOps.pqQuantize(xs, 16, rounds, trainN)(
        (b, c) => (sortedRows(b), sortedRows(c)))
      assert(book.nonEmpty, what)
      val legacy = legacyCodebook(xs, 16, rounds, trainN)
      assert(book === sortedRows(legacy), s"codebook drift at $what")
      assert(codes === sortedRows(legacyAssign(xs, legacy)),
        s"codes drift at $what")
      assert(codes.size === xs.select(col("vec_id"), col("sub"))
        .distinct().count(), s"codes miss a (vector, subspace) at $what")
    }
    // the full-space IVF (m=1), IMI half (m=2) and PQ (m=8) geometries
    for (subDim <- Seq(8, 32, 64); rounds <- Seq(0, 1, 2, 4))
      same(VectorOps.pqSubspaces(lifted, subDim), rounds, Long.MaxValue,
        s"subDim=$subDim rounds=$rounds")
    // a biting hash-rank training sample (125 of 500 vectors): the
    // sample filter is taken, the codes still cover the full corpus
    for (rounds <- Seq(1, 4))
      same(VectorOps.pqSubspaces(lifted, 8), rounds, 125L,
        s"trainN=125 rounds=$rounds")
    // the IMI residual frame: components go negative, so the shifted
    // numerator and the truncating division both get exercised
    val rxs = graft.queries.Similarity.imiResidualSubspaces(spark, dir, 4)
    assert(rxs.agg(min(col("x"))).head().getLong(0) < 0L)
    same(rxs, 2, Long.MaxValue, "residual subDim=8 rounds=2")
  }

  test("a fused quantizer build runs each Lloyd round as one job") {
    // k = 12 keys no other test builds, so both calls train
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    val jobs = Seq(2, 4).map(r =>
      jobsOf(IndexStore.codebook(xs, k = 12, rounds = r)))
    assert(jobs(1) - jobs(0) === 2, s"jobs at rounds 2 and 4: $jobs")
  }

  test("every IndexStore artifact reads back with its inferred schema " +
      "and no job") {
    // input frames built up front: reading a source table infers its
    // schema with a job of its own
    val x = lifted
    val iv = idVecs
    val xsc = VectorOps.pqSubspaces(x, subDim = 64)
    val cells = IndexStore.codes(xsc, k = 16, rounds = 2)
      .select(col("vec_id"), col("c").as("cell"))
    val rxs = graft.queries.Similarity.imiResidualSubspaces(spark, dir, 4)
    val lv = emb.select(col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val kinds: Seq[(String, () => DataFrame)] = Seq(
      "codebook" -> (() => IndexStore.codebook(xsc, k = 16, rounds = 2)),
      "codes" -> (() => IndexStore.codes(xsc, k = 16, rounds = 2)),
      "sq8" -> (() => IndexStore.sq8Table(x)),
      "labcent" -> (() => IndexStore.labelCentroids(lv, 64)),
      "lshbkt" -> (() => IndexStore.lshBuckets(iv, 64, 8)),
      "ivfmembers" -> (() =>
        IndexStore.ivfMembers(x, k = 16, rounds = 2, dim = 64)),
      "imimembers" -> (() =>
        IndexStore.imiMembers(x, k1 = 4, rounds = 2, dim = 64)),
      "pqlists" -> (() =>
        IndexStore.pqLists(rxs, cells, k = 16, rounds = 2, m = 8)),
      "knngraph" -> (() => IndexStore.knnGraph(iv, 64, 8)))
    for ((kind, artifact) <- kinds) {
      val built = artifact()
      val path = built.queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation => lr.relation
      }.collect { case r: HadoopFsRelation =>
        r.location.rootPaths.head.toString
      }.get
      assert(path.contains(s"/$kind-"), path)
      assert(built.schema === spark.read.parquet(path).schema, kind)
      var again: DataFrame = null
      assert(jobsOf { again = artifact(); again.schema } === 0, kind)
      assert(again.schema === built.schema, kind)
    }
  }

  test("a trained codebook is one local leaf whatever the round count") {
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    for (rounds <- Seq(1, 4)) {
      val plan = codebook(xs, 16, rounds).queryExecution.analyzed
      assert(plan.isInstanceOf[LocalRelation],
        s"rounds=$rounds planned:\n$plan")
      assert(plan.output.map(a => a.name -> a.dataType) ===
        Seq("sub", "c", "j", "v").map(_ -> LongType))
    }
  }

  test("pqQuantize releases its gathered frame on return and on failure") {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    codebook(xs, 16, 2)
    assert(cacheManager.isEmpty, "a returning call left its frame cached")
    // e12-scale components overflow Σ(x−v)² in the round's long
    // arithmetic, which ANSI mode turns into an error mid-round
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val huge = xs.withColumn("x", col("x") * 1000000L)
    val err = intercept[Exception](codebook(huge, 16, 2))
    assert(String.valueOf(err.getMessage).toLowerCase.contains("overflow"),
      err.toString)
    assert(cacheManager.isEmpty, "a failing call left its frame cached")
  }

  test("sampled training: covering sample is bit-identical to full " +
      "training; biting sample trains exactly on the hash-rank prefix") {
    val xs = VectorOps.pqSubspaces(lifted, subDim = 8)
    val full = sortedRows(codebook(xs, k = 16, rounds = 2))
    // a sample that covers the whole corpus (n=500 < 600) must change
    // NOTHING — the no-op guarantee the 100k production floor relies
    // on at every committed SF
    assert(sortedRows(codebook(xs, k = 16, rounds = 2, trainN = 600L))
      === full)
    // a biting sample must equal FULL training run over the sample
    // frame alone: the sample is a prefix of the "pqseed:" hash-rank
    // ordering, so seeds (its first k rows) are identical too —
    // independent derivation of the trainN=125 sample membership
    val sampleIds = xs.select(col("vec_id")).distinct()
      .withColumn("h", TextOps.tokenHashReference(
        concat(lit("pqseed:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(125)
      .select(col("vec_id"))
    val xsSample = xs.join(sampleIds, Seq("vec_id"))
    val sampled = sortedRows(
      codebook(xs, k = 16, rounds = 2, trainN = 125L))
    assert(sampled === sortedRows(codebook(xsSample, k = 16, rounds = 2)))
    assert(sampled !== full) // 125 of 500: the cut genuinely bites
    // assignment stays FULL-corpus under a sampled codebook: every
    // (vector, subspace) of the corpus gets a code
    val n = lifted.select(col("vec_id")).distinct().count()
    assert(VectorOps.pqQuantize(xs, k = 16, rounds = 2, trainN = 125L)(
      (_, codes) => codes.count()) === n * 8)
  }

  test("sq8 artifact equals the direct quantization") {
    val direct = sortedRows(VectorOps.sq8(lifted))
    assert(sortedRows(IndexStore.sq8Table(lifted)) === direct)
    assert(isBareScan(IndexStore.sq8Table(lifted)))
  }

  test("label-centroid artifact is shared across consumers by plan key") {
    val lv = emb.select(col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val first = IndexStore.labelCentroids(lv, 64)
    assert(first.count() > 0)
    // a DIFFERENT DataFrame object built through the same projection
    // must hit the same artifact — this is what lets routing, health
    // and filtered serving share one standing quantizer
    val again = IndexStore.labelCentroids(
      emb.select(col("label"),
        VectorOps.toDouble(col("embedding")).as("v")), 64)
    assert(isBareScan(again))
    assert(sortedRows(again) === sortedRows(first))
  }

  test("knn graph artifact equals the q247 shape and serves as a scan") {
    val g = IndexStore.knnGraph(idVecs, 64, 8)
    val rows = g.collect()
    assert(rows.nonEmpty)
    // top-3 contract with rank ties only from equal (cos, cid) — rnk ≤ 3
    assert(rows.forall(_.getAs[Long]("rnk") <= 3L))
    assert(isBareScan(IndexStore.knnGraph(idVecs, 64, 8)))
  }

  test("lsh bucket artifact reads back as a scan with stable buckets") {
    val b = IndexStore.lshBuckets(idVecs, 64, 8)
    val direct = idVecs.select(col("vec_id"),
      VectorOps.lshBucket(col("v"), 64, 8).as("bkt"))
    assert(sortedRows(b.select(col("vec_id"), col("bkt"))) ===
      sortedRows(direct))
    assert(isBareScan(IndexStore.lshBuckets(idVecs, 64, 8)))
  }

  test("ivfMembers is cell-partitioned and a probe is partition-pruned") {
    val members = IndexStore.ivfMembers(lifted, k = 16, rounds = 2,
      dim = 64)
    // the partition column comes back type-inferred and total
    assert(members.schema("c").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val total = members.count()
    assert(total === emb.count())
    // membership equals the codes artifact cell-for-cell
    val direct = sortedRows(IndexStore.codes(
      VectorOps.pqSubspaces(lifted, 64), k = 16, rounds = 2)
      .select(col("vec_id"), col("c")))
    assert(sortedRows(members.select(col("vec_id"),
      col("c").cast("long").as("c"))) === direct)
    // the serving probe's plan prunes to the probed directories: the
    // scan's partition filters carry the IN list, and no other rows
    // are read
    val probe = members.filter(col("c").isin(0, 1))
    val scan = probe.queryExecution.executedPlan.collectLeaves().head
      .toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("IN (0,1)") || scan.contains("in(c"), scan)
    val probed = probe.count()
    assert(probed < total)
  }

  test("imiMembers composite-cell layout equals the half-code product " +
      "and prunes") {
    val k1 = 4 // the count rule's floor regime at this corpus size
    val members = IndexStore.imiMembers(lifted, k1 = k1, rounds = 2,
      dim = 64)
    assert(members.schema("cell").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(members.count() === emb.count())
    // membership equals the composite of the two trained half codes
    val direct = sortedRows(IndexStore.codes(
      VectorOps.pqSubspaces(lifted, 32), k = k1, rounds = 2)
      .groupBy(col("vec_id"))
      .agg((max(when(col("sub") === 0, col("c"))) * k1 +
        max(when(col("sub") === 1, col("c")))).as("cell")))
    assert(sortedRows(members.select(col("vec_id"),
      col("cell").cast("long").as("cell"))) === direct)
    // a probe is a partition-pruned scan of the probed directories
    val probe = members.filter(col("cell").isin(0, 1))
    val scan = probe.queryExecution.executedPlan.collectLeaves().head
      .toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(probe.count() < members.count())
  }

  test("pqLists inverted list: packed codes per cell, served as a scan") {
    val xsc = VectorOps.pqSubspaces(lifted, subDim = 64)
    val cells = IndexStore.codes(xsc, k = 16, rounds = 2)
      .select(col("vec_id"), col("c").as("cell"))
    val coarseByDim = IndexStore.codebook(xsc, k = 16, rounds = 2)
      .select(col("c").as("cell"), col("j").as("dim"), col("v").as("cv"))
    val rxs = VectorOps.pqSubspaces(
      lifted.join(cells, Seq("vec_id"))
        .join(broadcast(coarseByDim), Seq("cell", "dim"))
        .select(col("vec_id"), col("dim"), (col("x") - col("cv")).as("x")),
      subDim = 8)
    val lists = IndexStore.pqLists(rxs, cells, k = 16, rounds = 2, m = 8)
    // one row per vector, m packed sub-codes matching the long-form
    // codes artifact
    assert(lists.count() === emb.count())
    val wideDirect = sortedRows(IndexStore.codes(rxs, k = 16, rounds = 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("sub") === 0, col("c"))).as("c0"),
        (1 until 8).map(i =>
          max(when(col("sub") === i, col("c"))).as(s"c$i")): _*))
    assert(sortedRows(lists.select(col("vec_id"), col("c0"), col("c1"),
      col("c2"), col("c3"), col("c4"), col("c5"), col("c6"),
      col("c7"))) === wideDirect)
    assert(isBareScan(IndexStore.pqLists(rxs, cells, k = 16, rounds = 2,
      m = 8)))
  }
}
