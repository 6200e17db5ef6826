package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, designed around
  * one principle: never compare all pairs. Every strategy reduces the
  * O(n²) problem to an equi-join on a derived key (content hash, shared
  * shingle, LSH band), which Spark executes as one shuffle each side —
  * linear in data size, and AQE handles the skewed-key tail.
  */
object Dedup {

  /** Stable content hash for exact dedup (md5 of the canonical text). */
  def contentHash(text: Column): Column = md5(text)

  /** Exact dedup: one row kept per distinct content hash (min of idCol
    * for determinism). Hash-shuffle on the digest — uniformly
    * distributed, no skew, scales linearly.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__h", contentHash(col(textCol)))
      .groupBy("__h")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("__h")

  /** (id, shingle-hash) long table: the join substrate for jaccard,
    * shared spans and capped minhash. Long form on purpose — the
    * equi-joins key on the scalar hash — built by exploding the
    * compiled [[ngramHashesOf]] kernel, one codegen'd pass per doc that
    * never materializes the n-gram strings. Distinct per doc.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(ngramHashesOf(col(textCol), n)).as("sh"))
      // explicit (vacuously true) not-null: downstream equi-joins on sh
      // infer this filter on THEIR branches, and a consumer without it
      // (the set-size aggregation) would fail sameResult against them —
      // breaking the ReusedExchange sharing of the distinct's shuffle
      .filter(col("sh").isNotNull)
      .distinct()

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): per document, the DISTINCT set of per-window
    * minimum n-gram hashes over every window of `w` consecutive
    * shingles. The guarantee that makes it the plagiarism-detection
    * standard: any shared TOKEN run of length ≥ w + n − 1 forces a
    * shared fingerprint (the run contains a full window, and both
    * docs pick the same minimum inside it) — while storing only
    * ~2/(w+1) of the shingles, the sub-linear sketch neither minhash
    * (fixed-size, whole-doc) nor shared-spans (stores every span)
    * gives. The min-select variant (window min, not the robust
    * rightmost-tie rule) keeps the selection a pure window aggregate —
    * deterministic, position-free, engine-replayable.
    *
    * Shape: shingles keep their positions (posexplode — no distinct),
    * the per-window min is ONE range-frame window over (id, pos) and
    * the tail guard one frameless max over the SAME partition key —
    * one exchange total; the distinct that follows is the only other
    * shuffle. Returns (id, fp).
    */
  def winnowingFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(w >= 2, s"w must be >= 2 (w = 1 keeps every shingle), got $w")
    val byPos = Window.partitionBy("id").orderBy("pos")
    df.select(col(idCol).as("id"),
        posexplode(ngramHashesOf(col(textCol), n)).as(Seq("pos", "h")))
      .withColumn("fp", min(col("h")).over(byPos.rangeBetween(0, w - 1)))
      .withColumn("__maxp", max(col("pos")).over(Window.partitionBy("id")))
      // truncated tail windows (< w shingles) select nothing — the
      // guarantee is stated over full windows only
      .filter(col("pos") <= col("__maxp") - (w - 1))
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** Winnowing near-dup PAIRS: docs sharing ≥ `minShared` fingerprints,
    * by equi-join on the fingerprint — the [[sharedSpanPairs]] join
    * shape over the sub-linear sketch. `maxDocFreq` caps viral
    * fingerprints exactly like the shingle path.
    */
  def winnowingPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int, minShared: Int,
      maxDocFreq: Option[Int] = None): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fps0 = winnowingFingerprints(df, idCol, textCol, n, w)
      .withColumnRenamed("fp", "sh")
    val fps = maxDocFreq.fold(fps0)(capDocFreq(fps0, _))
    fps.as("a")
      .join(fps.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Drop shingles appearing in more than `cap` docs — boilerplate
    * n-grams ("all rights reserved") that otherwise create a quadratic
    * join bucket: one shingle shared by a million docs is 10^12 pair
    * rows. The window count rides the shingle-hash shuffle the join
    * needs anyway; semantically this is stopword removal at the shingle
    * level, applied BEFORE set sizes so jaccard stays consistent
    * (|∩| and |∪| over the same filtered sets).
    */
  private def capDocFreq(sh: DataFrame, cap: Int): DataFrame =
    sh.withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__df") <= cap)
      .drop("__df")

  /** n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).
    * Pairs are generated ONLY for docs sharing ≥1 shingle (equi-join on
    * the shingle hash), then |∩| counted and |∪| derived from per-doc
    * set sizes — no quadratic blowup; `maxDocFreq` caps hot-shingle
    * skew (the viral-boilerplate bucket), AQE handles the residual tail.
    *
    * The shingle table is NOT cached by default: its distinct() shuffle
    * is the sharing point — Spark's ReusedExchange feeds both self-join
    * sides and the set-size aggregation from that one shuffle output, so
    * the scan/explode/hash subtree runs once regardless (PlanSpec pins
    * this). Caching a table strictly larger than the corpus is a
    * multi-corpus memory/disk footprint at 100 TB — opt in via
    * `shingleStorage` only when iterating over thresholds on a corpus
    * that fits.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDocFreq: Option[Int] = None,
      shingleStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.NONE): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, maxDocFreq, shingleStorage)
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** CONTAINMENT near-dup pairs (Broder's asymmetric measure):
    * |A∩B| / min(|A|, |B|) ≥ threshold — the detector for a SHORT doc
    * quoted wholesale inside a LONG one, where jaccard ≈
    * |short|/|long| sits under any usable threshold ([[sharedSpanPairs]]
    * counts absolute shared spans; this is the normalized companion,
    * length-scale-free). Identical
    * equi-join-on-shingle reduction and skew caps as
    * [[ngramJaccardPairs]] — only the final ratio differs.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDocFreq: Option[Int] = None): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, maxDocFreq,
        org.apache.spark.storage.StorageLevel.NONE)
      .withColumn("containment",
        col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Shared pair-evidence core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: (id_a, id_b, c = |∩|, na, nb) for every doc
    * pair sharing ≥1 (capped) shingle — the one distinct() shuffle
    * feeds both self-join sides and the set-size aggregation via
    * ReusedExchange (PlanSpec pins it on the jaccard path).
    */
  private def shinglePairCounts(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Option[Int],
      shingleStorage: org.apache.spark.storage.StorageLevel): DataFrame = {
    val raw = shingleTable(df, idCol, textCol, n)
    val capped = maxDocFreq.fold(raw)(capDocFreq(raw, _))
    val sh =
      if (shingleStorage == org.apache.spark.storage.StorageLevel.NONE) capped
      else capped.persist(shingleStorage)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
  }

  /** Pairs of documents sharing at least `minShared` DISTINCT spans of
    * `span` consecutive tokens — the verbatim-overlap detector (long
    * quotes, boilerplate blocks, near-verbatim mirrors) that jaccard
    * similarity under-reports on long documents: a 40-token verbatim
    * quote inside two 10k-token docs is jaccard ≈ 0.004, invisible to
    * [[ngramJaccardPairs]]' threshold, but 36 shared 5-token spans
    * here. Same equi-join-on-span-hash reduction as the shingle
    * pipeline (never all-pairs); `maxDocFreq` caps boilerplate spans
    * exactly as [[capDocFreq]] does for shingles.
    */
  def sharedSpanPairs(
      df: DataFrame, idCol: String, textCol: String,
      span: Int, minShared: Int,
      maxDocFreq: Option[Int] = None): DataFrame = {
    require(span >= 2, s"span must be at least 2 tokens, got $span")
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    val sh = shingleTable(df, idCol, textCol, span)
    val capped = maxDocFreq.fold(sh)(capDocFreq(sh, _))
    capped.as("a")
      .join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** (id, band, key) MinHash LSH band rows — the unit record of a
    * persistable near-dup index (land it bucketed by (band, key) for
    * shuffle-free probing; see [[incrementalMinhashCandidates]]) and
    * the self-join input of [[minhashLshPairs]].
    *
    * One signature per INPUT ROW: uncapped, it is one narrow projection
    * of the [[minhashSignature]] kernel over the row's shingle hashes
    * (no exchange), so rows sharing an id are NOT pooled into one
    * signature — pass one row per id (the [[simhashTable]] contract).
    * With `maxDocFreq`, the capped shingle table is regrouped by id and
    * fed to the same kernel. Band keys are [[sigBandKeys]], the
    * definition every minhash consumer shares; docs without a shingle
    * (blank, NULL, or fewer than n tokens) emit no rows.
    */
  def minhashBands(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val keys = sigBandKeys(col("sig"), bands)
    val sig = maxDocFreq match {
      case None =>
        df.select(col(idCol).as("id"),
          minhashSignature(shingleHashes(col(textCol), n)).as("sig"))
      case Some(cap) =>
        capDocFreq(shingleTable(df, idCol, textCol, n), cap)
          .groupBy("id")
          .agg(minhashSignature(collect_list(col("sh"))).as("sig"))
    }
    sig.filter(col("sig").isNotNull)
      .select(col("id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
  }

  /** MinHash + LSH candidate pairs: signature of 16 permutation-mins,
    * split into `bands` bands of 16/bands rows; docs sharing any band key
    * are candidates. One shuffle to group by (band index, band key) —
    * the classic sub-quadratic near-dup path at corpus scale.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val banded = minhashBands(df, idCol, textCol, n, bands, maxDocFreq)
    // r18 (guide §3.1/§2.4): self-join via SHUFFLE_HASH on the band key,
    // not the planner's broadcast pick. (a) The two sides are the SAME
    // plan, so their (band, key) hash exchanges are canonically
    // identical and the signature pipeline (the per-doc signature
    // projection — the candidates' whole upstream cost) runs ONCE behind a
    // ReusedExchange; the broadcast shape re-ran it per side because
    // the probe side had no exchange to reuse. (b) Broadcasting the
    // banded CORPUS grows with the corpus — a driver/executor OOM at
    // scale — while the (band, key) shuffle is the classic
    // sub-quadratic LSH layout, and the build side of each partition
    // is bounded by that partition's band rows.
    banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Cross-batch incremental NEAR-dup candidates — the minhash twin of
    * [[incrementalExactBloom]]: an arriving batch's band rows probe a
    * PERSISTED band index (`indexBands`: (id, band, key), e.g. a table
    * previously landed from [[minhashBands]]), yielding
    * (index_id, batch_id) candidate pairs. The index never recomputes
    * signatures and never moves: broadcast the (small) batch bands, or
    * — when the batch outgrows broadcast — land the index `bucketBy
    * (n, band, key)` so only the batch side shuffles into the index's
    * layout (one-sided exchange, spec-proven). Upsert = append the
    * batch's own [[minhashBands]] rows after flagging.
    *
    * No `maxDocFreq` here on purpose: a doc-frequency cap computed over
    * the (small) batch disagrees with one computed over the corpus the
    * index saw, and signatures built from DIFFERENT surviving shingle
    * sets produce different band keys — true near-dups silently stop
    * matching. If boilerplate capping is needed, filter the shingles
    * consistently (same corpus-level shingle blocklist) on BOTH the
    * indexed and probing sides before signature computation.
    */
  def incrementalMinhashCandidates(
      indexBands: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int, bands: Int): DataFrame = {
    val probe = minhashBands(batch, idCol, textCol, n, bands)
    indexBands.as("ix")
      .join(probe.as("pb"),
        col("ix.band") === col("pb.band") && col("ix.key") === col("pb.key"))
      .select(col("ix.id").as("index_id"), col("pb.id").as("batch_id"))
      .distinct()
  }

  /** 64-bit SimHash per doc (token-level). Near-dup = hamming ≤ k over
    * candidate pairs; candidates at scale come from banding the simhash
    * into 16-bit quarters (same LSH-join shape as minhash).
    *
    * Bit sources: the 30-bit polynomial rolling hash supplies bits 0-29;
    * bits 30-59 and 60-63 come from two affine rehashes mod a second
    * prime (x*48271+11 mod 999999937 — pseudo-random mixing; not
    * injective across the mod-1e9+7 input domain, which is fine: the
    * bits only need to look uniform). All intermediates < 2^46: no overflow under ANSI
    * Spark or DuckDB BIGINT. Bit 63 is set via Long.MinValue, keeping
    * the full 64-bit space (oracle converts two's-complement in HUGEINT).
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r17 (guide §2.1/§4): previously an explode + distinct + 64
    // conditional-sum aggregation — TWO exchanges, and the 64-buffer
    // HashAggregate blew the codegen field budget so every vote ran
    // interpreted (q35's 223-of-230 exec-core-s stage). [[simhashOf]]
    // is the spec-pinned bit-identical per-row kernel (same bit
    // sources, same strict-majority rule — DedupSimilaritySpec keeps
    // the aggregation form verbatim as the parity reference), so the
    // table is now ONE zero-exchange narrow projection. Token-less
    // docs map to NULL and are filtered, mirroring the aggregation's
    // absent group. CONTRACT NARROWED (r17, deliberate): one row per
    // INPUT ROW — a duplicate id now yields duplicate (id, simhash)
    // rows where the aggregation form pooled both rows' tokens into
    // one majority vote; ids are unique per the corpus contract
    // (doc_id-keyed frames throughout), and a pooled-vote simhash of
    // two different texts was never a meaningful signature anyway.
    df.select(col(idCol).as("id"), simhashOf(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: band the 64-bit hash into 4×16-bit keys —
    * two docs within hamming ≤ 4-ish must share at least one band
    * (pigeonhole) — equi-join on (band, key), then exact hamming
    * filter. Same sub-quadratic join shape as minhash-LSH. 65,536 keys
    * per band keeps buckets ~N/262k, and `maxBucket` drops degenerate
    * buckets (boilerplate-heavy corpora collapse onto few simhashes)
    * before they go quadratic — candidate recall loss is documented,
    * pairs inside a dropped bucket are usually found via another band.
    */
  /** The ONE definition of simhash → 4×16-bit LSH band rows
    * (id, simhash, band, key), shared by [[simhashNearDupPairs]] and
    * the persisted cross-batch index ([[incrementalSimhashCandidates]])
    * so band keys cannot drift between the in-corpus pair join and the
    * incremental probe. Rows carry the full 64-bit simhash: a probe
    * hamming-verifies candidates with a bit_count in the join
    * projection, never revisiting corpus text.
    */
  def simhashBands(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashTable(df, idCol, textCol).select(
      col("id"), col("simhash"),
      posexplode(simhashBandKeys(col("simhash"))).as(Seq("band", "key")))

  /** THE 4×16-bit banding of a 64-bit simhash (element b = band b's
    * key), shared by [[simhashBands]] and the streaming index probe so
    * the key space cannot drift between index and probe.
    */
  private[graft] def simhashBandKeys(sim: Column): Column =
    array((0 until 4).map(b =>
      shiftrightunsigned(sim, b * 16).bitwiseAND(0xffff)): _*)

  /** Per-ROW 64-bit simhash column — the codegen'd twin of
    * [[simhashTable]]'s explode + 64-vote aggregation (Simhash64Expr:
    * same MCG bit sources, same strict-majority rule, bit-identical —
    * spec-gated), for callers that cannot aggregate: a streaming stage
    * is stateless with this where the aggregation would need a state
    * store. NULL for token-less docs, mirroring the aggregation's
    * absent row.
    */
  def simhashOf(textCol: Column): Column = {
    import graft.functions.TextFunctions._
    simhash64(array_distinct(tokenHashes(wsTokens(lower(cleanAscii(textCol))))))
  }

  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    val banded = simhashBands(df, idCol, textCol)
    val capped = maxBucket.fold(banded) { cap =>
      // window count per (band,key) rides the same hash-shuffle the
      // self-join needs; buckets over the cap are dropped entirely
      banded.withColumn("__bn",
          count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
        .filter(col("__bn") <= cap)
        .drop("__bn")
    }
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-batch incremental SIMHASH near-dup —
    * [[incrementalMinhashCandidates]]' hamming-VERIFIED twin: an
    * arriving batch's band rows probe the corpus's persisted
    * (id, simhash, band, key) index ([[simhashBands]]); matching
    * (band, key) buckets yield (index_id, batch_id) candidates verified
    * EXACTLY in the join projection (`bit_count(xor) ≤ maxHamming` —
    * both sides carry their hash, so verification is free; minhash can
    * only estimate). The index never recomputes hashes and never moves:
    * land it `bucketBy(n, band, key)` and only the batch side shuffles
    * into its layout (q74's one-sided-exchange shape). The 4×16-bit
    * banding is pigeonhole-complete to hamming 3; wider thresholds
    * trade recall, same as [[simhashNearDupPairs]]. Upsert = append the
    * batch's own [[simhashBands]] rows after flagging.
    */
  def incrementalSimhashCandidates(
      indexBands: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val probe = simhashBands(batch, idCol, textCol)
    indexBands.as("ix")
      .join(probe.as("pb"),
        col("ix.band") === col("pb.band") && col("ix.key") === col("pb.key"))
      .select(col("ix.id").as("index_id"), col("pb.id").as("batch_id"),
        bit_count(col("ix.simhash").bitwiseXOR(col("pb.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** 16-byte binary digest for the incremental-dedup state (md5 bytes,
    * not the 32-char hex [[contentHash]] renders).
    */
  private def binaryHash(text: Column): Column = unhex(contentHash(text))

  /** Incremental exact dedup: keep ONE row per content digest of a NEW
    * batch — the first by id — whose digest is not in the
    * already-ingested index. The delta-ingestion shape: yesterday's
    * corpus is never re-read, the index carries 16-byte binary digests
    * only. One scan of the batch, one shuffle on the digest (the
    * row_number window; the anti-join reuses its partitioning), exactly
    * like exact()'s budget. Emit `digests(kept)` unioned into the index
    * as the next batch's state.
    */
  def incrementalExact(
      newDocs: DataFrame, seenDigests: DataFrame,
      idCol: String, textCol: String): DataFrame =
    newDocs.withColumn("__h", binaryHash(col(textCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seenDigests.select(col("digest").as("__h")), Seq("__h"), "left_anti")
      .drop("__h")

  /** Binary digest index of a corpus (16 B/doc) — the state
    * [[incrementalExact]] joins against; union with the previous index
    * after each batch.
    */
  def digests(docs: DataFrame, textCol: String): DataFrame =
    docs.select(binaryHash(col(textCol)).as("digest")).distinct()

  /** Serialized Bloom filter over a digest index (`xxhash64` of each
    * digest, inserted as longs) — the broadcastable front for
    * [[incrementalExactBloom]]. ~1.2 B per item at fpp 1%; build once
    * when the index is (re)compacted and carry it batch to batch
    * (`org.apache.spark.util.sketch.BloomFilter.mergeInPlace` unions
    * two fronts), rather than rebuilding per batch.
    */
  def digestBloom(digestIndex: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val bf = digestIndex.select(xxhash64(col("digest")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** [[incrementalExact]] with a Bloom front: the common no-hit case
    * never touches the digest index AT ALL — a bloom-negative row is
    * definitely new (no false negatives) and bypasses straight to the
    * output, narrow. Only the bloom-POSITIVE sliver (true dups + fpp
    * false positives) is checked exactly, and even that check never
    * shuffles the index: the sliver's digests broadcast-semi-join the
    * index down to the actual hits (a narrow index scan), and the
    * sliver anti-joins the broadcast hit set. Shuffle budget at 100 TB:
    * ONE batch shuffle (the in-batch first-of-digest window, inherent)
    * + zero index shuffles, vs [[incrementalExact]]'s index-wide
    * anti-join exchange.
    *
    * Degenerate case: a batch that is MOSTLY duplicates makes the
    * sliver ≈ the batch and the hit set large — fall back to
    * [[incrementalExact]] there (broadcasts would balloon).
    */
  def incrementalExactBloom(
      newDocs: DataFrame, seenDigests: DataFrame,
      idCol: String, textCol: String, bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val first = newDocs.withColumn("__h", binaryHash(col(textCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
    val might = Bridge.column(BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      Bridge.expression(xxhash64(col("__h")))))
    val flagged = first.withColumn("__maybe", might)
    val sliver = flagged.filter(col("__maybe"))
    val hits = seenDigests.select(col("digest").as("__h"))
      .join(broadcast(sliver.select(col("__h")).distinct()), Seq("__h"), "left_semi")
    val keepCols = newDocs.columns.map(col(_))
    flagged.filter(!col("__maybe")).select(keepCols: _*)
      .unionAll(sliver.join(broadcast(hits), Seq("__h"), "left_anti")
        .select(keepCols: _*))
  }

  /** Connected components over an undirected near-dup pair list of
    * integral ids: (id_a, id_b) → (id, comp), comp = min node id of the
    * component (a self-pair (9, 9) makes 9 its own component). The step
    * between "pairs found" and "corpus deduplicated": transitive closure
    * groups a↔b↔c into one cluster so exactly one representative survives.
    *
    * Contract locally, merge only where needed. The pairs hash on their
    * least end (one shuffle, AQE-coalesced when small) and each partition
    * runs a union-find, emitting (node, local min). When one partition
    * held every pair, those local mins are the answer and the job that
    * materializes them is the only one. Otherwise the star edges run
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) to one star per
    * component: O(log² n) rounds whatever the diameter, and stars that
    * no node straddles come back from the first round unchanged. Every
    * check is an `Observation` on the job that materializes its table,
    * never a separate count.
    *
    * Tables are node-sized and cut eagerly by [[Lineage.cut]], since
    * each cut's `Observation` is read right after it (blocks of
    * superseded rounds are released by the ContextCleaner).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ends = pairs.select(least(col("id_a"), col("id_b")).as("a"),
      greatest(col("id_a"), col("id_b")).as("b"))
    val idType = ends.schema("a").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connectedComponents needs integral ids, got $idType")
    val contracted = Observation()
    val stars = Lineage.cut(ends.filter(col("a").isNotNull)
      .select(col("a").cast("long"), col("b").cast("long"))
      .repartition(col("a")).as[(Long, Long)]
      .mapPartitions(localStars).toDF("id", "root", "part")
      .observe(contracted, count(lit(1)).as("rows"),
        min("part").as("first"), max("part").as("last")), eager = true)
    val seen = contracted.get
    // one partition held every pair: its local mins are the global ones
    val labels = if (seen("first") == seen("last")) {
      stars.select(col("id"), col("root").as("comp"))
    } else {
      // star rows bound the node count from above
      val rows = seen("rows").asInstanceOf[Long]
      val bound = math.pow(65 - java.lang.Long.numberOfLeadingZeros(rows), 2).toInt
      var edges = stars.filter(col("id") =!= col("root"))
        .select(col("id").as("hi"), col("root").as("lo"))
      var round = 0
      var settled = false
      while (!settled) {
        round += 1
        require(round <= bound, s"connectedComponents: merge round $round " +
          s"exceeds the O(log² n) bound of $bound rounds for $rows star rows")
        val signal = Observation()
        edges = Lineage.cut(largeStar(edges, signal), eager = true)
        settled = signal.get("unsettled") == 0L
        if (!settled) edges = smallStar(edges)
      }
      // a leaf takes its star's center; centers and singletons keep themselves
      stars.select("id").distinct().join(edges, col("id") === col("hi"), "left")
        .select(col("id"), coalesce(col("lo"), col("id")).as("comp"))
    }
    labels.select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("comp"))
  }

  /** One partition's union-find (union by min, path halving): (node,
    * local min, partition) for every node its edges touch, boxed so the
    * label columns stay nullable like the corpus ids they label.
    */
  private def localStars(edges: Iterator[(Long, Long)])
      : Iterator[(java.lang.Long, java.lang.Long, Int)] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var n = x
      while (parent(n) != n) { parent(n) = parent(parent(n)); n = parent(n) }
      n
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(parent.getOrElseUpdate(a, a)), find(parent.getOrElseUpdate(b, b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val part = org.apache.spark.TaskContext.getPartitionId()
    parent.keys.toArray.iterator.map(n => (Long.box(n), Long.box(find(n)), part))
  }

  /** Large-star over (hi > lo) edges: each node's larger neighbors hang
    * off the least of its closed neighborhood. `unsettled` counts nodes
    * that are neither a center (all neighbors larger) nor a leaf (one,
    * smaller) — zero iff the input was already a star forest, returned
    * unchanged.
    */
  private def largeStar(edges: DataFrame, signal: Observation): DataFrame =
    edges.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
      .groupBy("u").agg(collect_set("v").as("ns"))
      .select(col("u"), col("ns"), array_min(col("ns")).as("mn"))
      .observe(signal,
        count(when(col("mn") < col("u") && size(col("ns")) > 1, 1)).as("unsettled"))
      .select(explode(col("ns")).as("hi"), least(col("u"), col("mn")).as("lo"), col("u"))
      .filter(col("hi") > col("u"))
      .select("hi", "lo")

  /** Small-star over (hi > lo) edges: each node and its smaller neighbors
    * hang off the least of them.
    */
  private def smallStar(edges: DataFrame): DataFrame =
    edges.groupBy("hi").agg(collect_set("lo").as("ns"))
      .select(explode(array_union(col("ns"), array(col("hi")))).as("hi"),
        array_min(col("ns")).as("lo"))
      .filter(col("hi") =!= col("lo"))

  /** INCREMENTAL component maintenance — fold a new batch of near-dup
    * pairs into a STANDING label table without recomputing from the
    * full pair history: the closing step of the incremental dedup loop
    * (q74/q76 keep the minhash/simhash INDEX current and emit each
    * batch's new pairs; this keeps the CLUSTERS current). The standing
    * (id, comp) state is folded in as STAR edges (id ↔ comp) — a
    * lossless summary of all prior connectivity that is NODES-sized,
    * not pairs-sized (a viral cluster of 10⁶ members contributed up to
    * 10⁶·banding pairs over its history but exactly 10⁶ star edges
    * here), and a star edge's least end is its center, so a standing
    * star hashes whole into one partition and the local union-find
    * contracts it however deep the ORIGINAL pair chains were. Labels
    * stay canonical (comp = min node id of the merged component)
    * because old labels are themselves member ids: the merged min is
    * the min over the full history (batch ≡ incremental, spec-pinned
    * including cross-batch bridges that merge two standing components).
    *
    * Self-labeled singletons pass through as self-edges and keep
    * themselves. At 100 TB this is the difference between re-running
    * CC over the accumulated pair log per ingest and one nodes-sized
    * contraction per batch.
    */
  def mergeComponents(state: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = state.select(col("id").as("id_a"), col("comp").as("id_b"))
    connectedComponents(starEdges.unionAll(newPairs.select(col("id_a"), col("id_b"))))
  }

  /** One representative per near-dup cluster: docs joined to their
    * component (docs not in any pair keep themselves), representative =
    * min id within the cluster AMONG DOCS PRESENT — docs may be a
    * filtered view of the corpus the pairs were computed on, and a
    * cluster whose label-doc was filtered out must still elect a
    * survivor. The election is a window over the label table semi-joined
    * to the docs (bounded by paired docs, tiny next to the corpus, one id
    * per row however often docs repeats one); the corpus-side cost is
    * that semi-join plus one left join, both strategies left to AQE —
    * the labels are usually broadcast-small, but a heavily-duplicated
    * corpus can make them arbitrarily large, and forcing broadcast would
    * OOM exactly when dedup matters most. Never a corpus-wide
    * window/sort.
    */
  def representatives(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val lab = connectedComponents(pairs)
      .select(col("id").as(idCol), col("comp"))
      .join(docs.select(col(idCol)), Seq(idCol), "left_semi")
      .withColumn("__rep", min(col(idCol)).over(Window.partitionBy("comp")))
    docs.join(lab, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol))).drop("comp")
      .withColumn("is_rep", col(idCol) === coalesce(col("__rep"), col(idCol)))
      .drop("__rep")
  }

  /** QUALITY-AWARE representative per near-dup cluster — the retention
    * policy upgrade over [[representatives]]' min-id election: within a
    * cluster keep the member with the BEST score (max `scoreCol`, ties
    * to the lowest id); singleton docs represent themselves. "Keep the
    * best copy, not the first seen" is the policy production corpus
    * dedup actually wants — the min-id rep discards a clean original
    * whenever a truncated mirror happens to carry a smaller id.
    *
    * Shape: one left join of the scored docs against the label table
    * (bounded by paired docs; strategy left to AQE — see
    * [[representatives]]' broadcast caveat), then ONE window keyed by
    * cluster — both the rank and the member count ride the same
    * exchange (same partitioning). Never a corpus-wide sort: the window
    * orders within clusters only. Label collisions are impossible:
    * a component label is the min id of a PAIRED doc, and singletons
    * are by definition unpaired.
    */
  def bestPerCluster(
      docs: DataFrame, clusters: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val lab = docs
      .join(clusters.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol)))
      .drop("comp")
    val byCluster = Window.partitionBy(col("cluster"))
    val rank = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    lab
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** LEAKAGE-FREE train/test SPLIT — assign whole NEAR-DUP CLUSTERS to
    * a side, never individual docs: a random doc-level split leaks
    * when a near-copy of a test doc lands in train (the cross-split
    * contamination q25 then has to detect after the fact; this
    * operator prevents it by construction). Each doc carries its
    * cluster label ([[connectedComponents]] min-id, singletons
    * themselves — bestPerCluster's labeling), and the SPLIT decision
    * hashes the CLUSTER label (two deterministic MCG mixing rounds —
    * the second uses [[graft.operators.Sampling.SplitMult]] so the
    * draw decorrelates from the [[graft.operators.Sampling
    * .stratified]] sampling gate and from shardShuffle's shard
    * assignment, which share the first round), so same cluster ⇒ same
    * side, tautologically, and the draw is reproducible across
    * engines/retries/partitioning. `testPermille` of the cluster-hash
    * space goes to 'test'.
    *
    * Scale shape: the near-dup pair list and CC labeling are the q38
    * machinery (banded equi-joins, node-sized label contraction); this
    * adds one broadcast-sized join of labels onto docs and a NARROW
    * hash projection — no new exchange class. Note the split is
    * cluster-COUNT-balanced, not token-balanced: a giant cluster tips
    * mass wherever it lands (cap clusters upstream, or budget with
    * [[graft.operators.Sampling.temperatureMixTokens]] downstream).
    */
  def leakFreeSplit(docs: DataFrame, clusters: DataFrame, idCol: String,
      testPermille: Int): DataFrame = {
    require(testPermille > 0 && testPermille < 1000,
      s"testPermille must be in (0, 1000), got $testPermille")
    val P = Sampling.HashPrime
    val m1 = pmod(pmod(col("cluster"), lit(P)) * lit(Sampling.HashMult), lit(P))
    val m2 = pmod(m1 * lit(Sampling.SplitMult), lit(P))
    docs
      .join(clusters.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("split",
        when(m2 % 1000 < testPermille, "test").otherwise("train"))
  }

  /** Train/eval decontamination: flag training docs sharing ≥ `minShared`
    * distinct n-gram shingles with any eval doc (the benchmark-leakage
    * check every training corpus needs before a run).
    *
    * Scale shape: the eval set is small (thousands of docs) next to a
    * 100 TB training corpus, so its shingle table is BROADCAST — the
    * train side never shuffles for the probe; the only exchange is the
    * per-train-doc aggregation of matched rows, which is bounded by
    * matches (rare), not corpus size. Boilerplate shingles ("all rights
    * reserved") are capped by doc-frequency measured on the EVAL side —
    * computable on the small side, so the cap costs nothing at scale and
    * removes the false-contamination n-grams before the join.
    */
  def contaminationReport(
      train: DataFrame, eval_ : DataFrame, idCol: String, textCol: String,
      n: Int, minShared: Int = 1,
      maxEvalDocFreq: Option[Int] = None): DataFrame = {
    val tr = shingleTable(train, idCol, textCol, n)
    val evRaw = shingleTable(eval_, idCol, textCol, n)
      .withColumnRenamed("id", "eval_id")
    val ev = maxEvalDocFreq.fold(evRaw) { cap =>
      evRaw.withColumn("__df", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__df") <= cap).drop("__df")
    }
    tr.join(broadcast(ev), "sh")
      .groupBy(col("id").as("train_id"))
      .agg(
        countDistinct(col("sh")).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_shared_shingles") >= minShared)
  }

  /** EVAL-SIDE DIRTINESS report (Brown et al. 2020, GPT-3 Appendix C —
    * the complementary direction of [[contaminationReport]]): per EVAL
    * doc, the fraction of its distinct n-gram shingles that appear
    * ANYWHERE in the training corpus, with a clean/dirty verdict at
    * `dirtyMinMicro` — the audit that decides which benchmark numbers
    * to trust when decontamination could not run before training
    * (the paper reports both clean-only and full-set scores for
    * exactly this reason). Zero-shingle eval docs report 0 / clean.
    * The fraction is ONE micro-floored double division of exact
    * counts.
    *
    * Scale shape: the 100 TB side collapses to its DISTINCT shingle
    * set — one partial-aggregated distinct on the uniform hash key,
    * the ONLY corpus-sized exchange; the eval shingle table is
    * benchmark-bounded and BROADCASTS into the probe join, whose
    * output is bounded by eval shingles; totals and hits meet in one
    * eval-keyed join. The train corpus is never joined row-to-row.
    */
  def evalDirtiness(
      train: DataFrame, eval_ : DataFrame, idCol: String, textCol: String,
      n: Int, dirtyMinMicro: Long = 50000L): DataFrame = {
    require(dirtyMinMicro >= 0L && dirtyMinMicro <= 1000000L,
      s"dirtyMinMicro must be a micro-fraction in [0, 1e6], got $dirtyMinMicro")
    val tr = shingleTable(train, idCol, textCol, n).select(col("sh")).distinct()
    val ev = shingleTable(eval_, idCol, textCol, n)
      .withColumnRenamed("id", "eval_id")
    val hits = tr.join(broadcast(ev), "sh")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit"))
    val dirty = ev.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("eval_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("dirty_micro",
        when(col("n_shingles") === 0L, 0L).otherwise(
          floor(col("n_hit").cast("double") /
            col("n_shingles").cast("double") * lit(1000000.0))
            .cast("long")))
      .withColumn("verdict",
        when(col("dirty_micro") >= dirtyMinMicro, "dirty")
          .otherwise("clean"))
    // zero-shingle eval docs (blank/short) still get a verdict row
    eval_.select(col(idCol).as("eval_id")).distinct()
      .join(dirty, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("dirty_micro"), lit(0L)).as("dirty_micro"),
        coalesce(col("verdict"), lit("clean")).as("verdict"))
  }

  /** Serialized Bloom filter over a doc set's distinct shingle hashes
    * (inserted as raw longs) — the broadcastable probe for STREAMING
    * decontamination (graft.streaming.DocStreams.decontaminateStream).
    * No false negatives: a shingle actually in the eval set always
    * hits, so dropping flagged docs can never LEAK contamination;
    * false positives only over-drop at the fpp rate.
    */
  def shingleBloom(
      docs: DataFrame, textCol: String, n: Int,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = docs
      .select(explode(graft.functions.TextFunctions
        .shingleHashes(col(textCol), n)).as("h"))
      .distinct()
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Serialized Bloom filter over a band index's (band, key) rows
    * (hashed to longs) — the broadcastable probe for STREAMING
    * corpus-near-dup flagging (DocStreams.corpusNearDupStream), the
    * minhash twin of [[shingleBloom]]. No false negatives: a doc truly
    * sharing a band with the indexed corpus ALWAYS flags; false
    * positives over-flag at the fpp rate (the exact candidate check
    * stays in the batch layer, [[incrementalMinhashCandidates]]).
    */
  def bandKeyBloom(
      indexBands: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = indexBands
      .select(xxhash64(col("band"), col("key")).as("h"))
      .distinct()
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Embedding-cosine near-dup pairs within a blocking key (e.g. label,
    * LSH bucket): join on the block, cosine in-line, threshold filter.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"), col(blockCol).as("blk"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col(blockCol).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SEMANTIC dedup (SemDeDup-shape): drop a document when a LOWER-id
    * document in its k-means cell sits at cosine ≥ `tau` — paraphrases
    * and re-encodings that share no n-gram, the duplicates every
    * surface-form detector (exact/minhash/simhash/spans) is blind to.
    * Returns the kept rows with their `cell`.
    *
    * The cell assignment IS the scale trick (the published recipe):
    * pairs are only formed within a cell, so the quadratic term is
    * bounded by the largest cell, not the corpus — pick nlist so cells
    * fit (the [[Similarity.ivfAssign]] assignment is one narrow
    * zero-shuffle kernel projection at any nlist — the corpus never
    * shuffles to be assigned). The in-cell self-join is one equi-join
    * on `cell`; the dropped-id set is pair-bounded and drives a final
    * anti-join (broadcastable when drops are sparse — AQE decides).
    *
    * Drop rule: "ANY lower-id τ-neighbor in the cell drops you" — a
    * single join predicate, order-free and partitioning-free, unlike
    * the paper's sequential greedy sweep (whose keep-set depends on
    * visit order; over a chain a∼b∼c with a̸∼c the sweep keeps {a, c}
    * while this rule keeps {a} — both are defensible dedup policies,
    * ours is the deterministic one). Cross-cell near-dups are
    * deliberately invisible (the SemDeDup recall trade); raise nlist
    * recall by lowering nlist or probing neighbor cells upstream.
    */
  def semanticDedup(
      vecs: DataFrame, centroids: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val asg = Similarity.ivfAssign(vecs, centroids, idCol, vecCol)
    val a = asg.select(col("cell"), col(idCol).as("__id_a"), col(vecCol).as("__va"))
    val b = asg.select(col("cell"), col(idCol).as("__id_b"), col(vecCol).as("__vb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= tau)
      .select(col("__id_b").as(idCol))
      .distinct()
    asg.join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus snapshot DIFF — the incremental-versioning primitive: one
    * row per id across two snapshots with
    * status ∈ added | removed | changed | unchanged, decided by
    * content FINGERPRINT equality ([[TextAnalysis.fingerprint]] —
    * rolling hash of the ASCII-canonicalized text, the q23 contract),
    * so the wide text column never crosses the join. Presence is
    * tracked by explicit marker columns, not fingerprint nullness — a
    * present row whose text is NULL must not read as absent (its null
    * fingerprint compares null-safely instead).
    *
    * Scale shape: ONE full-outer sort-merge join on id, each side
    * reduced to (id, 8-byte hash) at its scan. Land both snapshots
    * bucketed by id and the join plans with ZERO exchange (spec-pinned
    * — the q74 index contract applied to versioning); ids are assumed
    * unique per snapshot (it is a snapshot key).
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("__fo"), lit(true).as("__po"))
    val nw = newDf.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("__fn"), lit(true).as("__pn"))
    o.join(nw, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("__fo") <=> col("__fn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Duplicate-aware DOWNWEIGHTING — the keep-but-reweight dedup
    * policy (train on everything, weight each doc by the inverse of
    * its exact-dup cluster size, so a 1000-way boilerplate page
    * contributes one page's worth of gradient): every row is kept and
    * gains its content-hash cluster size and the exact integer weight
    * ⌊10⁶ / size⌋. Complements [[exact]] (which keeps one
    * representative): same [[contentHash]] clusters, opposite policy.
    *
    * Returns the narrow (id, cluster_size, weight_micro) SIDECAR, not
    * the annotated corpus: only (id, 16-byte digest) rows ever move,
    * never the text; join the sidecar back by id where the weights are
    * consumed (zero-exchange on an id-bucketed landing, the
    * [[corpusDiff]] contract).
    *
    * Cluster sizes come from a groupBy-then-join, NOT a digest window:
    * this operator's reason to exist is massively duplicated pages, so
    * hot digests are guaranteed BY ITS USE CASE (md5 is uniform across
    * distinct texts, not across copies of one text) — a window would
    * funnel every copy of a viral page into a single task, while the
    * groupBy's partial aggregation crushes the hot digest map-side and
    * AQE's skew-join splitting handles the probe side (the
    * [[dupFraction]] `skewRobust` shape, made the only path here —
    * spec-pinned window-free with a planted million-copy cluster).
    */
  def dupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("id"), contentHash(col(textCol)).as("__h"))
    val sizes = h.groupBy(col("__h")).agg(count(lit(1)).as("cluster_size"))
    h.join(sizes, Seq("__h"))
      .select(col("id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_micro"))
  }

  /** Per-document DUPLICATED-TEXT FRACTION (the suffix-array dedup
    * family's doc-level metric, shingle-approximated): the share of a
    * doc's distinct `n`-gram shingles that appear in at least one
    * OTHER doc — 0 for fully original text, → 1 for a doc assembled
    * from boilerplate. Complements the pair queries: no pair blowup,
    * no threshold — a per-doc score usable as a quality filter column.
    *
    * Shape: the [[shingleTable]] substrate, then the doc-frequency
    * window on the shingle hash (capDocFreq's exact pattern) and one
    * aggregation back to the doc — three bounded exchanges of the
    * (id, hash) table, never the text. A viral boilerplate shingle
    * makes one window partition large but only linearly so (rows, not
    * pairs — the q31 quadratic cannot happen here); if a corpus's hot
    * shingle still dominates a task, `skewRobust = true` switches the
    * doc-frequency to a groupBy-then-join (partial aggregation crushes
    * the hot key map-side, AQE splits the skewed join) at the cost of
    * a fourth exchange — result-identical, spec-pinned.
    * `dup_micro` is the exact integer ⌊10⁶·shared/total⌋ — no float
    * crosses an engine. Docs with fewer than `n` tokens have no
    * shingles and emit no row.
    */
  def dupFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int, skewRobust: Boolean = false): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, n)
    val withDf =
      if (skewRobust) {
        val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        sh.join(dfreq, Seq("sh"))
      } else {
        sh.withColumn("__df",
          count(lit(1)).over(Window.partitionBy(col("sh"))))
      }
    withDf
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_micro", expr("n_shared * 1000000 div n_shingles"))
  }

  /** LINE-LEVEL BOILERPLATE removal — the CCNet/RefinedWeb/MassiveText
    * sub-document dedup step the whole-doc strategies can't express:
    * a line occurring in MORE THAN `maxDocs` distinct documents
    * (nav bars, cookie banners, subscribe footers) is deleted from
    * every document; document-unique prose is untouched. Returns
    * (idCol, textCol) with each document reassembled from its
    * surviving lines IN ORIGINAL ORDER (a doc whose every line is
    * boilerplate comes back as the empty string, not dropped — the
    * caller decides its fate, usually via the q120 word-count rule).
    *
    * Scale shape: lines explode once; the line doc-frequency table is
    * built on a 64-bit line hash (rows stay narrow — never the line
    * text; 2⁻⁶⁴ collision odds documented) via distinct (id, hash)
    * pairs then ONE partial-aggregated count — the skewRobust
    * groupBy-then-join shape from [[dupFraction]], mandatory here
    * because boilerplate lines are hot BY DEFINITION (the q98
    * lesson); reassembly is one groupBy with an array_sort over
    * (position, line) structs — deterministic regardless of
    * partitioning.
    */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocs: Long, sep: String = "\n"): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val lines = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__idx", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
    val dfreq = lines.select(col("__id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val kept = lines.join(dfreq, Seq("__h")).filter(col("__df") <= maxDocs)
    kept
      .groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__idx"), col("__line")))),
          s => s.getField("__line")),
        sep).as(textCol))
      .withColumnRenamed("__id", idCol)
      .unionByName(
        // all-boilerplate docs: reassembled group is absent — restore
        // them empty via an anti-join on the surviving ids
        df.select(col(idCol)).distinct()
          .join(kept.select(col("__id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .withColumn(textCol, lit("")))
  }

  /** (id, chunk-hash) long table via CONTENT-DEFINED CHUNKING
    * ([[graft.expressions.StringExprs.cdcChunkHashes]], Rabin/FastCDC
    * family): boundaries where the rolling hash of the last `window`
    * chars ≡ 0 (mod `modulus`) — so an edit or insertion anywhere
    * shifts every downstream byte yet the chunking RE-SYNCS within ~one
    * window. This is the dedup granularity between exact (whole-text
    * hash — broken by one byte) and shingles (every n-gram — |text| rows
    * per doc): ~|text|/modulus rows per doc, robust to shifts.
    * Instances kept (not distinct): a chunk repeated inside one doc is
    * still one doc's evidence only ([[cdcDupStats]] counts distinct
    * docs per chunk).
    */
  def cdcChunkTable(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, modulus: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.expressions.StringExprs.cdcChunkHashes(
        lower(cleanAscii(col(textCol))), window, modulus)).as("ch"))

  /** Per-document SHIFTED-DUPLICATE stats over the CDC chunk table: for
    * each doc, how many of its chunk instances also occur in ≥1 OTHER
    * doc (`n_dup_chunks`), and the micro-floored fraction. Catches the
    * copy-with-a-new-header / prepended-boilerplate duplicates that
    * exact dedup misses structurally (any edit flips the whole-text
    * hash) — at chunk rather than n-gram granularity, ~modulus× fewer
    * rows than the shingle substrate.
    *
    * Shape: one chunk-hash groupBy (countDistinct doc — two-phase
    * partial agg, hot boilerplate chunks crushed map-side) + one join
    * back on the hash (each instance matches exactly ONE count row — no
    * fan-out) + one per-doc agg. Three exchanges of (id, 8-byte hash)
    * rows, never the text; the q30/q98 exact-dedup cost class at chunk
    * granularity.
    */
  def cdcDupStats(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, modulus: Int = 32): DataFrame =
    cdcDupStatsFromChunks(cdcChunkTable(df, idCol, textCol, window, modulus))

  /** Per-doc dup stats off any (id, ch) chunk-instance table — shared
    * by the text path above and the binary media path
    * ([[Multimodal.mediaCdcDupStats]]).
    */
  private[operators] def cdcDupStatsFromChunks(ch: DataFrame): DataFrame = {
    val docFreq = ch.groupBy(col("ch"))
      .agg(countDistinct(col("id")).as("__nd"))
    ch.join(docFreq, Seq("ch"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_micro", expr("n_dup_chunks * 1000000 div n_chunks"))
  }

  /** Edit-distance-1 pairs over a VOCABULARY by DELETION hashing — the
    * SymSpell decomposition (Garbe's symmetric-delete algorithm; same
    * family as Norvig's spelling corrector, inverted): every item
    * emits itself plus its |t| single-deletion variants as bucket
    * keys, and any two items within ONE edit (insert, delete,
    * substitute) provably share a key — a deletion of one IS the
    * other (insert/delete), or both delete position i to the same
    * string (substitute). The all-pairs O(V²) scan becomes a bucket
    * equi-join; survivors are verified with EXACT levenshtein
    * in-bucket, which kills the false candidates key-sharing admits
    * (e.g. "ab"/"ba" share both deletions but sit at distance 2 —
    * counterexample spec-planted). The typo-clustering primitive of
    * vocabulary normalization: fold rare misspellings into their
    * frequent neighbor before token statistics.
    *
    * Returns (item_a, item_b, n_a, n_b) with a < b and occurrence
    * counts so the caller folds toward the frequent form. Items
    * longer than `maxLen` are EXCLUDED (each item fans out to
    * ≤ maxLen + 1 keys — the bound that keys the join input to
    * O(V·maxLen), not O(corpus)); distance-1 neighbors of an excluded
    * item are not reported, the documented trade.
    *
    * Shape: one vocab groupBy (partial-agg crushes the token stream
    * map-side), one explode bounded by maxLen + 1 keys/item, one
    * bucket equi-join on the deletion key + distinct — deletion
    * buckets are tiny (items within 1 edit of one string), never a
    * skew risk like shingle buckets; levenshtein runs only on
    * deduped candidates.
    */
  /** The ONE definition of an item's deletion-key array (itself + each
    * single-deletion variant), shared by the batch pair join and the
    * streaming probe so the key spelling cannot drift. `c` must be a
    * column named resolvably in scope (the expression references it by
    * name inside array lambdas).
    */
  private[graft] def deletionKeyArray(itemName: String): org.apache.spark.sql.Column =
    expr(s"array_distinct(concat(array($itemName), " +
      s"transform(sequence(1, length($itemName)), i -> " +
      s"concat(substr($itemName, 1, i - 1), substr($itemName, i + 1)))))")

  def deletionNeighborPairs(
      df: DataFrame, itemCol: String, maxLen: Int = 32): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val items = df.select(col(itemCol).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .filter(length(col("item")) >= 1 && length(col("item")) <= maxLen)
    val keyed = items.select(col("item"), col("n"),
      explode(deletionKeyArray("item")).as("k"))
    keyed.select(col("k"), col("item").as("item_a"), col("n").as("n_a"))
      .join(keyed.select(col("k"), col("item").as("item_b"),
        col("n").as("n_b")), Seq("k"))
      .filter(col("item_a") < col("item_b"))
      .select("item_a", "item_b", "n_a", "n_b").distinct()
      .filter(levenshtein(col("item_a"), col("item_b")) === 1)
  }

  /** The batch half of the SymSpell INDEX contract: the vocabulary's
    * deletion-key table (k, item, n) — land it bucketed by `k` and the
    * streaming probe ([[graft.streaming.DocStreams.typoProbeStream]])
    * joins one-sided against it, the q74/q76 persisted-index pattern
    * for edit distance.
    */
  def deletionKeyIndex(
      df: DataFrame, itemCol: String, maxLen: Int = 32): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    df.select(col(itemCol).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .filter(length(col("item")) >= 1 && length(col("item")) <= maxLen)
      .select(explode(deletionKeyArray("item")).as("k"),
        col("item"), col("n"))
  }

  /** DEDUP YIELD REPORT — the read every dedup run ends with before
    * anyone signs off on deleting data: per CLUSTER SIZE, how many
    * clusters, how many documents, how much weight (tokens/bytes —
    * the caller's `weightCol`), and what the one-survivor-per-cluster
    * policy would REMOVE (docs and weight, keeping the
    * min-`idCol` representative — [[connectedComponents]]' label
    * convention, so the report matches what [[representatives]] keeps
    * exactly). Documents absent from `clusters` are singletons (their
    * own cluster, nothing removable) — the report always accounts for
    * the WHOLE corpus, not just the paired part (a report that skips
    * singletons overstates dedup yield).
    *
    * Shape: one id-keyed left join (clusters is the pair-derived
    * label table) + TWO partial-aggregated groupBys (cluster, then
    * size) — the second input is |clusters| rows. No corpus-side
    * state beyond the label join.
    */
  def dedupYieldReport(
      docs: DataFrame, clusters: DataFrame,
      idCol: String = "id", weightCol: String = "n_tok",
      clusterCol: String = "cluster"): DataFrame = {
    val d = docs.select(col(idCol), col(weightCol).cast("long").as("__w"))
    val c = clusters.select(col(idCol), col(clusterCol).as("__cl"))
    val per = d.join(c, Seq(idCol), "left")
      .withColumn("__c", coalesce(col("__cl"), col(idCol)))
      .groupBy("__c")
      .agg(
        count(lit(1)).as("sz"),
        sum(col("__w")).as("w"),
        min_by(col("__w"), col(idCol)).as("__kw"))
    per.groupBy(col("sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("w")).as("weight_total"),
        (sum(col("sz")) - count(lit(1))).as("n_removable_docs"),
        sum(col("w") - col("__kw")).as("weight_removable"))
  }
}
