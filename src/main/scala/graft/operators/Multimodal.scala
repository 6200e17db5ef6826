package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `BINARY` columns + typed metadata, processed
  * per-partition in batches (the Scala analog of mapInPandas: one
  * decoder instance per partition, amortized over its rows — NOT one
  * per row). The actual codec is behind [[Decoder]]; this container has
  * no media libraries, so [[FakeDecoder]] provides a deterministic
  * stand-in and the Spark-side plumbing (schema, partitioning, batch
  * shape, column contracts) is real and tested.
  */
object Multimodal {

  /** Canonical multimodal record schema: content-addressed id, modality
    * tag, raw bytes, and open metadata map. Partition media tables by
    * modality (and date at scale) so modality-specific stages prune.
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Decoded-feature schema appended by [[extractFeatures]]. */
  val featureSchema: StructType = StructType(mediaSchema.fields ++ Seq(
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /** Per-partition decoder contract: construct once per partition,
    * called per record. Implementations wrap a real codec (JNI/ffmpeg/
    * javax.imageio) at deploy time.
    */
  trait Decoder extends Serializable {
    def decode(modality: String, bytes: Array[Byte],
        meta: Map[String, String]): Decoded
  }

  final case class Decoded(
      width: Option[Int], height: Option[Int], nFrames: Option[Int],
      feature: Array[Float])

  /** Deterministic stand-in: dimensions from a stable byte hash, feature
    * = `dim`-bucket byte histogram (so tests get reproducible vectors
    * with real batch mechanics). Replace with a codec-backed Decoder in
    * production — the plumbing is identical.
    */
  final class FakeDecoder(dim: Int = 8) extends Decoder {
    def decode(modality: String, bytes: Array[Byte],
        meta: Map[String, String]): Decoded = {
      val h = bytes.foldLeft(7L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
      val hist = new Array[Float](dim)
      bytes.foreach(b => hist((b & 0xff) % dim) += 1f)
      val frames = modality match {
        case "video" => Some(1 + (h % 32).toInt)
        case _ => None
      }
      Decoded(
        width = Some(16 + (h % 1024).toInt),
        height = Some(16 + ((h / 1024) % 1024).toInt),
        nFrames = frames,
        feature = hist)
    }
  }

  /** Batch feature extraction: one [[Decoder]] per partition, rows
    * streamed through it (constant memory, no driver collect). The
    * output keeps the input columns and appends typed features — the
    * exact mapInPandas contract, in JVM form.
    */
  def extractFeatures(
      media: DataFrame,
      decoder: Decoder = new FakeDecoder()): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.mapPartitions { rows =>
      // decoder is deserialized once per partition here
      rows.map { r =>
        val d = decoder.decode(
          r.getAs[String]("modality"),
          r.getAs[Array[Byte]]("bytes"),
          Option(r.getAs[Map[String, String]]("meta")).getOrElse(Map.empty))
        Row.fromSeq(r.toSeq ++ Seq(
          d.width.orNull, d.height.orNull, d.nFrames.orNull, d.feature.toSeq))
      }
    }(enc)
  }

  /** Deterministic frame sampling for video byte streams: byte-range
    * slices at `n` evenly spaced offsets (stand-in for keyframe seeks —
    * the partition/batch mechanics are what carry to the real codec).
    */
  def sampleFrames(media: DataFrame, n: Int, frameBytes: Int = 256): DataFrame =
    media
      .filter(col("modality") === "video")
      // posexplode with `bytes` carried through the Generate — a pure
      // narrow pipeline (the round-2 version self-joined media on
      // media_id, shuffling the byte column both ways)
      .select(col("media_id"), col("bytes"),
        posexplode(sequence(lit(0), lit(n - 1)))
          .as(Seq("frame_idx", "i")))
      .select(
        col("media_id"), col("frame_idx"),
        expr(s"substring(bytes, CAST(frame_idx AS INT) * $frameBytes + 1, $frameBytes)")
          .as("frame_bytes"))

  import org.apache.spark.sql.Column

  /** CONTENT-TYPE SNIFFING by magic bytes — the trust-nothing intake
    * check every media pipeline runs before routing to a decoder (file
    * extensions and upstream content-type headers lie; a mislabeled
    * blob crashes or poisons the decode stage): classify by the
    * format's SIGNATURE prefix — JPEG FF D8 FF, PNG's 8-byte
    * signature, GIF8, RIFF····WAVE, MP4's `ftyp` at offset 5, %PDF —
    * else `unknown`. Pure column expression over the binary prefix
    * (substring on BINARY is zero-copy slicing): narrow, codegen'd,
    * pushdown-transparent — at 100 TB this is a scan-stage projection
    * that costs a few byte compares per blob.
    */
  def sniffType(bytes: Column): Column = {
    def sig(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    when(substring(bytes, 1, 3) ===
        lit(Array(0xFF, 0xD8, 0xFF).map(_.toByte)), "jpeg")
      .when(substring(bytes, 1, 8) ===
        lit(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
          .map(_.toByte)), "png")
      .when(substring(bytes, 1, 4) === lit(sig("GIF8")), "gif")
      .when(substring(bytes, 1, 4) === lit(sig("RIFF")) &&
        substring(bytes, 9, 4) === lit(sig("WAVE")), "wav")
      .when(substring(bytes, 5, 4) === lit(sig("ftyp")), "mp4")
      .when(substring(bytes, 1, 4) === lit(sig("%PDF")), "pdf")
      .otherwise("unknown")
  }

  /** Build a media table from any keyed source of raw bytes. */
  def asMediaTable(
      rows: Dataset[(String, String, Array[Byte])]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.toDF("media_id", "modality", "bytes")
      .withColumn("meta", map(lit("src"), lit("synthetic")))
      .repartition(col("modality"))
  }

  /** Media NEAR-duplicate candidate pairs — the multimodal member of
    * the dedup family: decode each item's feature vector per partition
    * ([[extractFeatures]]; a perceptual hash or embedding behind the
    * real codec), LSH-bucket the vectors on fixed random hyperplanes
    * (Similarity.lshBucket — sign bits, reproducible), and compare ONLY
    * within (modality, bucket) — an equi-join, never an all-pairs scan,
    * exactly the shape the text near-dup operators use. Survivors are
    * exact-cosine checked inside the bucket. Near-identical media land
    * in the same bucket with high probability (more planes → fewer
    * false candidates, more missed borderline pairs — tune with a
    * recall gate like q44 if ship/no-ship matters).
    */
  def mediaNearDupPairs(
      media: DataFrame,
      planes: Seq[Seq[Double]],
      minCosine: Double = 0.995,
      decoder: Decoder = new FakeDecoder()): DataFrame = {
    require(planes.nonEmpty, "mediaNearDupPairs needs at least one hyperplane")
    val dim = planes.head.length
    require(planes.forall(_.length == dim), "planes must share one dimension")
    val feats = extractFeatures(media, decoder)
      .select(col("media_id"), col("modality"),
        col("feature").cast("array<double>").as("fv"))
      // a feature whose length disagrees with the planes would dot to
      // null → every row lands in bucket 0 → silent per-modality
      // all-pairs comparison; fail loudly instead
      .withColumn("bucket",
        when(size(col("fv")) === dim,
          graft.operators.Similarity.lshBucket(col("fv"), planes))
          .otherwise(raise_error(concat(
            lit(s"mediaNearDupPairs: feature dim != plane dim $dim for media_id="),
            col("media_id")))))
    val a = feats.alias("a")
    val b = feats.alias("b")
    a.join(b,
        col("a.modality") === col("b.modality") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.media_id") < col("b.media_id"))
      .withColumn("cosine",
        graft.operators.Similarity.cosine(col("a.fv"), col("b.fv")))
      // zero-norm features (empty/degenerate media) cosine to NaN, and
      // Spark ranks NaN above every double — without the isnan guard an
      // empty item passes `>= minCosine` against anything in its bucket
      .filter(!isnan(col("cosine")) && col("cosine") >= minCosine)
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        col("a.modality").as("modality"), col("cosine"))
  }

  /** BYTE-level shifted-duplicate stats over raw media payloads —
    * [[Dedup.cdcDupStats]]'s binary twin (the CdcChunkHashesExpr kernel
    * accepts binary directly, unsigned bytes as polynomial symbols):
    * the SAME video/image stream wrapped in a different container or
    * with prepended metadata shifts every byte, so whole-payload
    * hashing misses it while the perceptual path
    * ([[mediaNearDupPairs]]) needs a working decoder; content-defined
    * chunks catch it from bytes alone. Per item: chunk count, chunks
    * shared with ≥1 other item, micro-floored fraction. Same shape and
    * cost class as the text path: chunk-hash groupBy + no-fan-out join
    * + per-item agg, ~|bytes|/modulus rows per item.
    */
  def mediaCdcDupStats(
      media: DataFrame, window: Int = 16, modulus: Int = 64,
      idCol: String = "media_id", bytesCol: String = "bytes"): DataFrame =
    Dedup.cdcDupStatsFromChunks(
      media.select(col(idCol).as("id"),
        explode(graft.expressions.StringExprs.cdcChunkHashes(
          col(bytesCol), window, modulus)).as("ch")))

  /** Decoded per-item feature vectors as (media_id, fv: array<double>)
    * — the embedding column the ANN family consumes. One decoder per
    * partition ([[extractFeatures]]); narrow, no shuffle.
    */
  def mediaFeatures(
      media: DataFrame, decoder: Decoder = new FakeDecoder()): DataFrame =
    extractFeatures(media, decoder)
      .select(col("media_id"),
        col("feature").cast("array<double>").as("fv"))

  /** Media embedding ANN INDEX — the corpus-scale rung above
    * [[mediaNearDupPairs]]' single LSH tier, completing the multimodal
    * dedup family's symmetry with text (exact → banded LSH → persisted
    * index): decode features per partition, then build the TRAINED
    * residual IVF+PQ index over them ([[Similarity.ivfPqBuild]] — coarse
    * quantizer trained to convergence, residual codebooks Lloyd-trained,
    * corpus encoded to M codes; nlist ≥ 1024 runs on the broadcast
    * fallback automatically). Seeds are the lexicographically-first
    * items' features — deterministic, driver-small. Returns
    * (centroids, residual books, encoded corpus); search goes through
    * [[mediaAnnTopK]].
    */
  def mediaAnnIndex(
      media: DataFrame, nlist: Int, m: Int, bookK: Int,
      kmeansIters: Int = 3, pqIters: Int = 2,
      decoder: Decoder = new FakeDecoder())
      : (DataFrame, Seq[Seq[Seq[Double]]], DataFrame) = {
    require(nlist > 0 && bookK > 0)
    val spark = media.sparkSession
    import spark.implicits._
    val feats = mediaFeatures(media, decoder)
    // deterministic driver-small seed draw: first items by media_id
    // (content-addressed ids ≈ an arbitrary-but-stable sample)
    val head = feats.orderBy("media_id").limit(math.max(nlist, bookK))
      .collect().map(_.getSeq[Double](1))
    require(head.length >= math.max(nlist, bookK),
      s"mediaAnnIndex needs ≥ max(nlist=$nlist, bookK=$bookK) media items, got ${head.length}")
    val seeds = head.take(nlist).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("cid", "cv")
    val bookSeeds = head.take(bookK).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("media_id", "fv")
    Similarity.ivfPqBuild(feats, seeds, bookSeeds, m,
      kmeansIters, pqIters, idCol = "media_id", vecCol = "fv")
  }

  /** Search a [[mediaAnnIndex]]: decode the probe media, fan each probe
    * to its `nprobe` nearest cells, and run cell-restricted residual ADC
    * ([[Similarity.pqAdcTopKResidual]]) — the encoded corpus never
    * re-shuffles, probes broadcast. Returns
    * (probe_id, cand_id, rnk, adc).
    */
  def mediaAnnTopK(
      codes: DataFrame, centroids: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      probeMedia: DataFrame, k: Int, nprobe: Int = 2,
      decoder: Decoder = new FakeDecoder()): DataFrame = {
    val probes = Similarity.ivfAssignTopN(
      mediaFeatures(probeMedia, decoder), centroids, nprobe,
      idCol = "media_id", vecCol = "fv")
    Similarity.pqAdcTopKResidual(codes, probes, centroids, books, k,
      idCol = "media_id", vecCol = "fv")
  }
}
