package graft.ml

import graft.core.{CacheScope, Tables}
import graft.queries.QueryPack
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** spark.ml operator pack (SURVEY §2.10 M1-M14 parity, Spark-native).
  *
  * Covers the reference's MLlib surface re-expressed in Scala:
  * Tokenizer/CountVectorizer/MinHashLSH (hw3/hw3.py:80-137),
  * VectorAssembler/MinMaxScaler (hw4/hw4.py:93-133), ALS + evaluator
  * (hw4/hw4.py:169-194), KMeans/PCA (FinalProject/BDM_Final.py:533-563,
  * BDM_Final_new.py:565-607 — sklearn single-node there, distributed
  * here), and a LogisticRegression stand-in for the torch classifiers
  * (SURVEY M14: parity surface is "3-class-ish classifier + accuracy").
  *
  * All models fix seeds; results are deterministic per Spark version but
  * not SQL-expressible → rows-only driver checks (no oracle entries).
  */
object MlPacks extends QueryPack {

  private def emb(s: SparkSession, d: String) =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        array_to_vector(col("embedding")).as("features"))

  /** M14 API edge (SURVEY §2.10): exports `(features, label)` rows for
    * an external deep-learning trainer — the ONLY sanctioned
    * driver-materialization point (`toLocalIterator` streams one
    * partition at a time instead of a full collect), mirroring the
    * reference's collect()-into-torch step without its OOM cliff.
    */
  def collectFeatures(s: SparkSession, d: String):
      Iterator[(Array[Float], Int)] = {
    import s.implicits._
    emb(s, d)
      .select(vector_to_array(col("features"), "float32").as("f"),
        col("label"))
      .as[(Array[Float], Int)]
      .toLocalIterator()
      .asScala
  }

  /** q50: KMeans k=10 (seed 42) on embeddings → cluster sizes +
    * within-cluster stats. Distributed replacement for the sklearn
    * KMeans stage (M12).
    */
  private def q50Kmeans(s: SparkSession, d: String): DataFrame = {
    val data = CacheScope.cache(emb(s, d))
    val n = data.count()
    val model = new KMeans().setK(10).setSeed(42L).setMaxIter(20)
      .setFeaturesCol("features").setPredictionCol("cluster")
    val fitted = model.fit(data)
    fitted.transform(data)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col("label")).as("n_labels"))
      // self-verdict: a PARTITION contract even rows-only checks can
      // assert — every cluster non-empty and the sizes sum back to the
      // input count (no point dropped or double-assigned)
      .withColumn("verdict",
        (col("n_points") > 0 && col("n_labels") >= 1 &&
          sum(col("n_points")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy()) === n).cast("long"))
      .orderBy(col("cluster"))
  }

  /** q51: PCA to 2 components (M13; sklearn IncrementalPCA → one
    * distributed PCA, no driver batching).
    */
  private def q51Pca(s: SparkSession, d: String): DataFrame = {
    val data = emb(s, d)
    val model = new PCA().setK(2).setInputCol("features")
      .setOutputCol("pc").fit(data)
    model.transform(data)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"),
        round(element_at(vector_to_array(col("pc")), 1), 4).as("pc1_4dp"),
        round(element_at(vector_to_array(col("pc")), 2), 4).as("pc2_4dp"))
      // self-verdict: projections of unit vectors onto orthonormal
      // principal directions are bounded by the vector norm (=1 for
      // the normalized embeddings) — a geometry contract on the model
      .withColumn("verdict",
        (abs(col("pc1_4dp")) <= 1.0001 && abs(col("pc2_4dp")) <= 1.0001)
          .cast("long"))
      .orderBy(col("vec_id"))
  }

  /** q52: multiclass LogisticRegression on embeddings (M14 parity
    * surface) with MinMaxScaler (M4) + fixed-seed split (M9) + accuracy
    * evaluator (M11-analogue for classification).
    */
  private def q52Logreg(s: SparkSession, d: String): DataFrame = {
    val data = emb(s, d)
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42L)
    val pipe = new Pipeline().setStages(Array(
      new MinMaxScaler().setInputCol("features").setOutputCol("scaled"),
      new LogisticRegression().setLabelCol("label").setFeaturesCol("scaled")
        .setMaxIter(25)))
    val model = pipe.fit(train)
    val pred = model.transform(test)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(pred)
    val spark = s
    import spark.implicits._
    val (nTrain, nTest) = (train.count(), test.count())
    val total = data.count()
    Seq((nTrain, nTest, math.round(acc * 1000) / 1000.0,
      // self-verdict: the split partitions the input at ~80/20 and the
      // accuracy is a valid probability strictly above the degenerate
      // all-wrong classifier (labels are 10-way, so 0 accuracy means a
      // broken pipeline, not a hard dataset)
      (if (nTrain + nTest == total &&
          nTrain.toDouble / total > 0.7 && nTrain.toDouble / total < 0.9 &&
          acc > 0.0 && acc <= 1.0) 1L else 0L)))
      .toDF("n_train", "n_test", "accuracy_3dp", "verdict")
  }

  /** q53: ALS recommender (M10/M11): implicit-ish ratings derived from
    * events (user × item-from-props, rating = interaction count), fixed
    * seed, cold-start drop, RMSE + top-5 recs for a 3-user subset
    * folded into one result relation.
    */
  private def q53Als(s: SparkSession, d: String): DataFrame = {
    val ratings = Tables(s, d, "events")
      .select(col("user_id").cast("int").as("user"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("int").as("item"))
      .groupBy(col("user"), col("item"))
      .agg(count(lit(1)).cast("float").as("rating"))
      .transform(CacheScope.cache)
    val Array(train, test) = ratings.randomSplit(Array(0.8, 0.2), seed = 42L)
    val als = new ALS().setMaxIter(5).setRegParam(0.01).setSeed(42L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("drop")
    val model = als.fit(train)
    val rmse = new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(model.transform(test))
    val users = ratings.select(col("user")).distinct().orderBy(col("user")).limit(3)
    // self-verdict: with enough data to learn (≥5k ratings) the model
    // must beat the trivial predict-the-mean baseline on held-out data
    // (RMSE ≤ rating stddev + slack) — the band an RMSE readout exists
    // to assert; below that, rank-10 ALS on a few hundred counts
    // legitimately overfits, so the contract degrades to
    // non-divergence (finite RMSE within the observed rating spread)
    val stats = ratings.agg(stddev_pop(col("rating")),
      count(lit(1)), max(col("rating")) - min(col("rating"))).head
    val (sd, nRatings, range) =
      (stats.getDouble(0), stats.getLong(1), stats.getFloat(2).toDouble)
    val band = if (nRatings >= 5000) sd + 0.5 else range
    val verdict = if (rmse >= 0.0 && rmse <= band) 1L else 0L
    model.recommendForUserSubset(users, 5)
      .select(col("user"), explode(col("recommendations")).as("rec"))
      .select(col("user"), col("rec.item").as("item"),
        lit(math.round(rmse * 100) / 100.0).as("rmse_2dp"),
        lit(verdict).as("verdict"))
      .orderBy(col("user"), col("item"))
  }

  /** q54: hw3 MinHash-LSH through spark.ml (M1/M2/M5/M6): RegexTokenizer
    * → NGram(3) → binary CountVectorizer → MinHashLSH →
    * approxSimilarityJoin — the idiomatic production pair-finder the
    * reference approximated with explode/repartition/sample
    * (hw3/hw3.py:159-169).
    *
    * The NGram stage is load-bearing at scale: with a tiny unigram
    * vocabulary every document's token *set* is nearly identical, so
    * unigram MinHash signatures collide en masse and the LSH join
    * degenerates to all-pairs (measured: 455 s at sf0.1). Trigram
    * shingles make the sets discriminative, which is both hw3's actual
    * semantics (shingling) and what keeps bucket fan-out bounded.
    */
  private def q54MlLshPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
    val pipe = new Pipeline().setStages(Array(
      new RegexTokenizer().setInputCol("text").setOutputCol("words")
        .setPattern("[^a-z]+").setToLowercase(true),
      new NGram().setN(3).setInputCol("words").setOutputCol("shingles"),
      new CountVectorizer().setInputCol("shingles").setOutputCol("features")
        .setBinary(true),
      new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(8).setSeed(42L)))
    val model = pipe.fit(docs)
    // Spread the TRANSFORM input, not the fit input (round 13, guide
    // §2): the documents scan is one task (single-row-group parquet),
    // so tokenize→shingle→vectorize→minhash and the LSH self-join all
    // ran on one core (stage profile: every q54 stage was 1 task; the
    // transform+count and join stages alone were ~2.7 s single-task).
    // The fit keeps the ORIGINAL partitioning because
    // CountVectorizer's vocabulary is ordered by count with ties
    // broken by encounter order — repartitioning the fit input could
    // permute tied vocabulary indices and change which candidate
    // pairs the MinHash buckets emit. model.transform is per-row and
    // partitioning-invariant, so spreading it is result-identical.
    // (round 14: trigger reads analyzed-plan leaf stats, see
    // [[graft.ops.SpreadOps]] — no second physical-planning pass)
    val spreadDocs = graft.ops.SpreadOps.spread(docs, col("doc_id"))
    // cache: approxSimilarityJoin scans both sides, which would re-run
    // tokenize→shingle→vectorize→minhash twice without it
    val tx = model.transform(spreadDocs)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("features"), col("hashes"))
      // materialize BEFORE the self-join: its two concurrent scans would
      // otherwise race the cache population and both recompute the
      // tokenize→shingle→vectorize→minhash pipeline
      .transform(CacheScope.pin)
    model.stages.last.asInstanceOf[org.apache.spark.ml.feature.MinHashLSHModel]
      .approxSimilarityJoin(tx, tx, 0.3, "jaccard_dist")
      .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
      .select(col("datasetA.doc_id").as("d1"),
        col("datasetB.doc_id").as("d2"),
        round(col("jaccard_dist"), 4).as("jaccard_dist_4dp"))
      // self-verdict: the approxSimilarityJoin threshold contract —
      // every emitted pair is within the 0.3 distance bound and
      // normalized (d1 < d2)
      .withColumn("verdict",
        (col("jaccard_dist_4dp") <= 0.3 && col("d1") < col("d2"))
          .cast("long"))
      .orderBy(col("d1"), col("d2"))
  }

  /** q56: ALS full fan-out (M10 completion; reference hw4/hw4.py:185-188
    * `recommendForAllUsers(10)` / `recommendForAllItems(10)`): top-10
    * recommendations for EVERY user and EVERY item — the
    * scale-interesting form (blocked top-k over the full user×item
    * factor cross product, computed distributed by spark.ml, never
    * materialized as raw pairs). Projection (side, id, rank, rec_id)
    * excludes the float scores to reduce environment sensitivity in
    * the rows-only check — the ranks themselves are still model-
    * derived, so near-tie orderings can differ across BLAS variants
    * (which is why this is a rows-only query, not an oracle one).
    */
  private def q56AlsAllRecommend(s: SparkSession, d: String): DataFrame = {
    val ratings = Tables(s, d, "events")
      .select(col("user_id").cast("int").as("user"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("int").as("item"))
      .groupBy(col("user"), col("item"))
      .agg(count(lit(1)).cast("float").as("rating"))
    val als = new ALS().setMaxIter(5).setRegParam(0.01).setSeed(42L)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("drop")
    val model = als.fit(ratings)
    val byUser = model.recommendForAllUsers(10)
      .select(lit("user").as("side"), col("user").cast("long").as("id"),
        posexplode(col("recommendations")).as(Seq("rank0", "rec")))
      .select(col("side"), col("id"), (col("rank0") + 1).cast("long").as("rank"),
        col("rec.item").cast("long").as("rec_id"))
    val byItem = model.recommendForAllItems(10)
      .select(lit("item").as("side"), col("item").cast("long").as("id"),
        posexplode(col("recommendations")).as(Seq("rank0", "rec")))
      .select(col("side"), col("id"), (col("rank0") + 1).cast("long").as("rank"),
        col("rec.user").cast("long").as("rec_id"))
    byUser.unionByName(byItem)
      // self-verdict: a complete top-k fan-out — ranks are a dense
      // 1..10 per (side, id) with exactly 10 recommendations each
      .withColumn("verdict",
        (col("rank") >= 1 && col("rank") <= 10 &&
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("side"), col("id"))) === 10).cast("long"))
      .orderBy(col("side"), col("id"), col("rank"))
  }

  /** q55: KMeans elbow sweep (M12's inertia-over-k loop, distributed):
    * training cost for k ∈ [2,6], fixed seed.
    */
  private def q55KmeansElbow(s: SparkSession, d: String): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // materialize once before the concurrent fits share it
    val data = CacheScope.pin(emb(s, d))
    // the five fits are independent seeded models over the same cached
    // input — submit them concurrently so the cluster pipelines their
    // stages instead of idling between driver-side iterations
    val rows = Await.result(
      Future.sequence((2 to 6).map { k =>
        Future {
          val m = new KMeans().setK(k).setSeed(42L).setMaxIter(20)
            .setFeaturesCol("features").fit(data)
          (k.toLong, math.round(m.summary.trainingCost * 100) / 100.0)
        }
      }), Duration.Inf)
    val spark = s
    import spark.implicits._
    // self-verdict: the elbow contract — inertia is (near-)monotone
    // non-increasing in k (5% slack for local optima of the seeded
    // Lloyd's runs); the very claim an elbow sweep exists to make
    val sorted = rows.sortBy(_._1)
    val monotone = sorted.zip(sorted.drop(1)).forall {
      case ((_, a), (_, b)) => b <= a * 1.05
    }
    sorted.map { case (k, inertia) =>
      (k, inertia, if (monotone) 1L else 0L)
    }.toDF("k", "inertia_2dp", "verdict")
  }

  /** q95: LEARNED quality filter — closes the heuristic→classifier
    * curation loop at zero new infrastructure: weak labels come from
    * the DEPLOYED heuristic cut ([[graft.ops.TextOps.qualityScore]] ≥
    * 0.40, the same threshold [[graft.ops.CurationOps.curate]]
    * defaults to), a LogisticRegression learns them from raw per-doc
    * signals (token count uncapped, diversity/stopword ratios, mean
    * token length), and the output is the held-out confusion matrix
    * of classifier vs heuristic — the agreement evidence you want
    * before swapping a learned filter into the pipeline. Feature
    * extraction is per-row expressions; the fit is the bounded
    * iterative solve; rows-only (model internals).
    */
  private def q95QualityClassifier(s: SparkSession, d: String): DataFrame = {
    import graft.ops.TextOps
    val toks = TextOps.tokens(col("text"))
    val data = Tables(s, d, "documents")
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("double").as("n_tokens"),
        when(size(col("t")) > 0, size(array_distinct(col("t")))
          .cast("double") / size(col("t"))).otherwise(0.0).as("uniq_ratio"),
        when(size(col("t")) > 0,
          TextOps.lexiconHits(col("t"), TextOps.stopwords).cast("double")
            / size(col("t"))).otherwise(0.0).as("stop_ratio"),
        when(size(col("t")) > 0, length(concat_ws("", col("t")))
          .cast("double") / size(col("t"))).otherwise(0.0).as("mean_len"),
        (TextOps.qualityScore(col("t")) >= 0.40).cast("double").as("label"))
    val assembled = new VectorAssembler()
      .setInputCols(Array("n_tokens", "uniq_ratio", "stop_ratio", "mean_len"))
      .setOutputCol("features")
      .transform(data)
    val Array(train, test) = assembled.randomSplit(Array(0.7, 0.3), 42L)
    val model = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features").setMaxIter(25)
      .fit(train)
    model.transform(test)
      .groupBy(col("label").cast("long").as("heuristic_label"),
        col("prediction").cast("long").as("learned_label"))
      .agg(count(lit(1)).as("n_docs"))
      // self-verdict: the classifier must actually have learned the
      // heuristic — held-out agreement (diagonal share of the
      // confusion matrix) above 1/2, the minimum bar before swapping
      // a learned filter in for the deployed rule
      .withColumn("verdict", {
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        (sum(when(col("heuristic_label") === col("learned_label"),
          col("n_docs")).otherwise(lit(0L))).over(w) * 2 >
          sum(col("n_docs")).over(w)).cast("long")
      })
      .orderBy(col("heuristic_label"), col("learned_label"))
  }

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_quality_classifier" -> q95QualityClassifier,
    "q50_kmeans_clusters" -> q50Kmeans,
    "q55_kmeans_elbow" -> q55KmeansElbow,
    "q51_pca_projection" -> q51Pca,
    "q52_logreg_accuracy" -> q52Logreg,
    "q53_als_recommend" -> q53Als,
    "q54_ml_lsh_pairs" -> q54MlLshPairs,
    "q56_als_all_recommend" -> q56AlsAllRecommend)

  /** Model internals aren't SQL-expressible → rows-only checks. */
  override val oracle: Map[String, String] = Map.empty
}
