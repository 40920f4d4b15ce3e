package graft.queries

import graft.core.{CacheScope, Tables}
import graft.ops.MultimodalOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pack: binary payloads + typed metadata flowing
  * through the engine (see [[graft.ops.MultimodalOps]] — real JDK
  * codecs: `javax.imageio` PNG/JPEG and RIFF/PCM WAV).
  */
object Multimodal extends QueryPack {

  private def assets(s: SparkSession, d: String) =
    MultimodalOps.assetsFromDocuments(Tables(s, d, "documents"))

  /** q60: binary metadata scan — byte length + content digest computed
    * on the binary column (oracle mirrors over the utf8 source text).
    */
  private def q60MediaStats(s: SparkSession, d: String): DataFrame =
    assets(s, d).toDF()
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        length(col("content")).cast("long").as("byte_len"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))

  private val q60Sql =
    """SELECT doc_id,
         (['png','jpeg','wav'])[(doc_id % 3) + 1] AS format,
         CAST((doc_id % 7) * 64 + 64 AS INTEGER) AS width,
         CAST((doc_id % 5) * 64 + 64 AS INTEGER) AS height,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         md5(text) AS content_md5
       FROM documents ORDER BY doc_id"""

  /** q61: real media decode — synthesize actual PNG/JPEG/WAV payloads
    * per partition, decode them back (`ImageIO` / RIFF parse), and
    * aggregate per-format feature stats including the decoded
    * dimensions (rows-only check: codec byte streams aren't
    * SQL-expressible).
    */
  private def q61MediaFeatures(s: SparkSession, d: String): DataFrame = {
    val synth = MultimodalOps.synthesizeMedia(assets(s, d))
    MultimodalOps.extractFeatures(synth).toDF()
      // self-verdict needs the DECLARED dims beside the decoded ones:
      // a round-trip contract (encode → decode recovers the asset's
      // own geometry) is what "the codec works" means
      .join(synth.toDF().select(col("doc_id"), col("width"),
        col("height")), Seq("doc_id"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("byte_len")).cast("long").as("sum_bytes"),
        sum(col("dec_width").cast("long") * col("dec_height"))
          .as("sum_dec_pixels"),
        min(col("checksum")).as("min_checksum"),
        max(col("checksum")).as("max_checksum"),
        // images must decode to exactly their declared dimensions;
        // audio decodes to (frames, channels) — assert positive
        min(when(col("format") === "wav",
          col("dec_width") > 0 && col("dec_height") > 0)
          .otherwise(col("dec_width") === col("width") &&
            col("dec_height") === col("height"))).cast("long")
          .as("verdict"))
      .orderBy(col("format"))
  }

  /** q63: the full media-normalization pipeline — synthesize real
    * payloads, resize images to ≤128 px (bilinear, aspect-preserving),
    * decimate audio to every 4th frame, decode, and aggregate the
    * decoded dims per format. The resize/frame-sample stages are what
    * a training-data pipeline runs corpus-wide before feature
    * extraction (rows-only: codec byte streams aren't SQL-expressible).
    */
  private def q63MediaPipeline(s: SparkSession, d: String): DataFrame = {
    val normalized = MultimodalOps.sampleFrames(
      MultimodalOps.resizeImages(
        MultimodalOps.synthesizeMedia(assets(s, d)), 128), 4)
    MultimodalOps.extractFeatures(normalized).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_assets"),
        max(col("dec_width")).cast("long").as("max_dec_width"),
        max(col("dec_height")).cast("long").as("max_dec_height"),
        sum(col("byte_len")).cast("long").as("sum_bytes"))
      // self-verdict: the normalization contract, decode-verified —
      // every image decodes to ≤128 px on both axes after the resize;
      // audio still decodes to a positive frame count after 4×
      // decimation
      .withColumn("verdict",
        when(col("format") === "wav",
          col("max_dec_width") > 0 && col("max_dec_height") > 0)
          .otherwise(col("max_dec_width") <= 128 &&
            col("max_dec_height") <= 128).cast("long"))
      .orderBy(col("format"))
  }

  /** q65: the real `binaryFile` ingest path — synthesize actual
    * PNG/JPEG/WAV payloads, land them as FILES on disk
    * ([[MultimodalOps.writeMediaFiles]], executor-side), ingest the
    * directory back through `spark.read.format("binaryFile")` with
    * metadata recovered from the file names, and feature-extract the
    * ingested corpus. This is how a production media pipeline actually
    * starts — a drop-zone of files, not an in-flight synthesized
    * column (rows-only: codec byte streams aren't SQL-expressible).
    */
  private def q65BinaryfileIngest(s: SparkSession, d: String): DataFrame = {
    val sq = s
    import sq.implicits._
    val media = MultimodalOps.synthesizeMedia(
      assets(s, d).filter($"doc_id" < 30))
    // deterministic per-SF scratch dir, CLEARED before the write: a
    // per-file overwrite alone would leave stale differently-named
    // files from a prior fixture behind, and the ingest would silently
    // count them. The scratch ROOT must be a filesystem every executor
    // AND the driver-side listing can see — local /tmp only works in
    // local mode; a cluster sets spark.graft.scratchDir to a shared
    // path (HDFS/S3/NFS), which the Hadoop FS API here handles as-is.
    val root = s.conf.get("spark.graft.scratchDir",
      System.getProperty("java.io.tmpdir"))
    val dir = root + s"/graft_media_${Integer.toHexString(d.hashCode)}"
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(dirPath, true)
    MultimodalOps.writeMediaFiles(media, dir)
    val ingested = MultimodalOps.readMediaAssets(s, dir)
    def perFormat(feats: DataFrame) = feats
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("byte_len")).cast("long").as("sum_bytes"),
        sum(col("dec_width").cast("long") * col("dec_height"))
          .as("sum_dec_pixels"),
        min(col("checksum")).as("min_checksum"),
        max(col("checksum")).as("max_checksum"))
    val viaFiles = perFormat(MultimodalOps.extractFeatures(ingested).toDF())
    // self-verdict: the file round-trip is lossless — the ingested
    // corpus's per-format feature summary must EQUAL the same summary
    // computed on the in-flight payloads that were written (any byte
    // corruption, missed file, or stale leftover flips it)
    val inFlight = perFormat(MultimodalOps.extractFeatures(media).toDF())
      .select(col("format"), col("n_assets").as("e_n"),
        col("sum_bytes").as("e_bytes"), col("sum_dec_pixels").as("e_px"),
        col("min_checksum").as("e_min"), col("max_checksum").as("e_max"))
    viaFiles.join(broadcast(inFlight), Seq("format"), "left")
      .withColumn("verdict",
        (col("n_assets") === col("e_n") &&
          col("sum_bytes") === col("e_bytes") &&
          col("sum_dec_pixels") === col("e_px") &&
          col("min_checksum") === col("e_min") &&
          col("max_checksum") === col("e_max")).cast("long"))
      .drop("e_n", "e_bytes", "e_px", "e_min", "e_max")
      .orderBy(col("format"))
  }

  /** q157: cross-codec perceptual media dedup — every synthesized PNG
    * gets a lossy JPEG twin (identical pixels, entirely different
    * bytes, so q60's md5 can never pair them), then 64-bit aHashes
    * ([[MultimodalOps.perceptualHashes]]) are deduplicated at CLASS
    * granularity: identical hashes collapse to one representative
    * BEFORE any pairing, the 4×16-bit band join + Hamming ≤ 6 verify
    * runs over DISTINCT hashes only, and class edges + member→rep
    * stars feed [[graft.ops.GraphOps.connectedComponents]]. The class
    * layer is the scale fix: perceptual hashes concentrate (a corpus
    * rendered from bounded templates collapses to ≲9k distinct hashes
    * no matter how many documents carry them — exactly what
    * boilerplate images do at 100 TB), so doc-level banding pairs
    * every hash class quadratically (measured 44.8× runtime on a 10×
    * corpus) while class-level work is bounded by #distinct hashes
    * and the per-doc output stays linear.
    *
    * Output: one row per asset with its hash class, class size and
    * near-dup component. Self-verdict: 100% twin recall — every
    * PNG and its JPEG twin must land in the SAME component (hamming
    * ≤ 6 holds per twin, so class banding must link them; the
    * fixture-pinned contract, asserted on the real corpus too).
    * Rows-only (codec bytes aren't SQL-expressible). WAV assets flow
    * through the same hash (energy-envelope bits), exercising the
    * audio path.
    */
  private def q157PhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val twinOffset = 10000000L
    // pinned: base feeds BOTH the corpus union and the twin transcode —
    // uncached, every PNG was codec-encoded twice (once per consumer of
    // the synthesized lineage); the cache bounds encodeOne to exactly
    // one run per asset (round 13; codec work is the query's measured
    // floor). Storage level: Dataset.cache() is already
    // MEMORY_AND_DISK — disk-spillable, never evict-and-recompute.
    // The round-14 MEMORY_AND_DISK_SER experiment (verdict item 5) was
    // REVERTED on measurement: with zero spill at the bench point it
    // paid serialize+deserialize over the full media bytes on every
    // consumer pass, a measured +18% on the query (6.23 → 7.36 s
    // same-host full pack) against the item's own "same time ±noise"
    // done-criterion. At a scale where the blob cache is actually
    // memory-pressured the store spills serialized anyway — the SER
    // level only moves the serialization earlier, it does not change
    // the spill path.
    val base = MultimodalOps.synthesizeMedia(assets(s, d))
      .transform(CacheScope.pin)
    val twins = MultimodalOps
      .transcode(base.filter(_.format == "png"), "jpeg")
      .map(a => a.copy(doc_id = a.doc_id + twinOffset))
    // The union doubles the cached partition count (base 32 + twins
    // 32) and every consumer groups or joins on phash — re-key the
    // tiny hash table once so the class aggregate, the star join and
    // the per-doc join all reuse ONE hash(phash) partitioning instead
    // of 64-task stages per consumer (round 13, guide §2.4; keyed, no
    // constant)
    val hashes = MultimodalOps.perceptualHashes(base.union(twins))
      // materialize before reuse (design rule 8)
      .toDF().repartition(col("phash")).transform(CacheScope.pin)
    val classes = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("class_size"))
      // feeds the band join, the stars and the output
      .transform(CacheScope.pin)
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(phash, ${16 * b}) & 65535").as("key"))
    }: _*)
    val banded = classes
      .select(col("phash"), col("rep"), explode(bandStructs).as("bk"))
      .select(col("phash"), col("rep"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val classEdges = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.phash") < col("b.phash"))
      .select(col("a.rep").as("d1"), col("b.rep").as("d2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .select(col("d1"), col("d2"))
    // CC over the REP graph only (round 13, guide §1.2 — shrink the
    // iterated set): the member→rep "stars" are a star forest BY
    // CONSTRUCTION (rep = min doc_id of its hash class), so feeding
    // them through the alternating-star loop only inflated every
    // round's edge set by the member count. Contract the class edges
    // alone — a graph bounded by #distinct hashes with a Hamming
    // neighbor — and attach members afterwards with ONE join.
    // Identical labels: a component's minimum is always one of its
    // reps (each rep is ≤ every member of its class), so
    // comp(member) = comp(rep), and a rep absent from the rep graph
    // keeps itself — exactly what the star edges used to propagate.
    val comp = graft.ops.GraphOps.connectedComponents(
      classEdges, "d1", "d2")
    // pinned: perDoc feeds the output AND both sides of the twin
    // check (3 references — unpinned, the join tree and the component
    // labels re-derive per reference)
    val perDoc = hashes.join(classes, "phash")
      .join(comp, col("rep") === col("id"), "left")
      .select(col("doc_id"), col("format"), col("phash"),
        col("class_size"), coalesce(col("comp"), col("rep")).as("comp"))
      .transform(CacheScope.pin)
    // twin recall: every (png, jpeg-twin) pair shares a component
    val twinCheck = perDoc.filter(col("doc_id") >= twinOffset)
      .select((col("doc_id") - twinOffset).as("orig_id"),
        col("comp").as("twin_comp"))
      .join(perDoc.select(col("doc_id").as("orig_id"),
        col("comp").as("orig_comp")), "orig_id")
      .agg(count(lit(1)).as("n_twins"),
        sum(when(col("twin_comp") === col("orig_comp"), lit(1L))
          .otherwise(lit(0L))).as("n_twins_joined"))
      .select((col("n_twins") === col("n_twins_joined")).cast("long")
        .as("verdict"))
    perDoc.crossJoin(broadcast(twinCheck))
      .orderBy(col("doc_id"))
  }

  override val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_phash_dedup" -> q157PhashDedup,
    "q60_media_stats" -> q60MediaStats,
    "q61_media_features" -> q61MediaFeatures,
    "q63_media_pipeline" -> q63MediaPipeline,
    "q65_binaryfile_ingest" -> q65BinaryfileIngest)

  override val oracle: Map[String, String] = Map(
    "q60_media_stats" -> q60Sql)
}
