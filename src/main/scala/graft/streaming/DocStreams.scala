package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokenCount, wsTokens}
import graft.operators.{Dedup, Sketches, TextAnalysis}

/** Streaming ingestion cleaning for a document corpus: the
  * arrival-time twin of the batch q36 funnel. Stateless stages (quality
  * gate, PII redaction) stream trivially; exact dedup is the stateful
  * one — dropDuplicatesWithinWatermark keys state by content digest,
  * so state is partitioned across executors by digest and BOUNDED by
  * the watermark horizon (a digest seen again after the horizon is
  * admitted — at 100 TB/day retention-unbounded exact dedup belongs in
  * the batch layer; the stream layer de-dups the near-in-time copies
  * that dominate crawl traffic).
  */
object DocStreams {

  final case class Doc(ts: Timestamp, doc_id: Long, text: String)

  /** Content-hash exact dedup on a stream: first arrival of a digest
    * within the watermark passes, later copies drop.
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Full ingestion pipeline: dedup → quality gate → PII redaction.
    * Order matters at scale: dedup first so the quality/redact work runs
    * once per distinct doc, not once per copy.
    */
  def ingestClean(
      docs: DataFrame,
      minTokens: Int = 5,
      watermark: String = "1 hour"): DataFrame =
    dedupStream(docs, watermark)
      .filter(tokenCount(col("text")) >= minTokens)
      .withColumn("text", TextAnalysis.redactPii(col("text")))

  /** Drain a bounded memory stream through [[ingestClean]] — spec
    * harness proving the streaming path agrees with its batch twin.
    */
  def runBoundedClean(
      spark: SparkSession, docs: Seq[Doc], minTokens: Int = 5): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = ingestClean(mem.toDF(), minTokens)
      .writeStream.format("memory").queryName("graft_clean_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_clean_test")
  }

  /** Per-doc 32-bit simhash + its 4×8-bit LSH bands — the stateless
    * front half of streaming near-dup detection.
    */
  private def withSimBands(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    docs
      // DISTINCT token hashes — the same set-of-tokens vote
      // Dedup.simhashTable uses, so stream and batch agree on repeated-
      // token boilerplate; tokenHashes + simhash32 are one-pass codegen
      // kernels (the transform(…, rollingHash) HOF this replaces was the
      // per-doc stream path's last interpreted CodegenFallback)
      .withColumn("sim", simhash32(array_distinct(
        tokenHashes(wsTokens(lower(cleanAscii(col("text"))))))))
      .select(col("*"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sim"), b * 8).bitwiseAND(0xff)
            .cast("int").as("key"))): _*))
        .as("bk"))
      .select(col("ts"), col("doc_id"), col("sim"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Per-bucket running state: recent (doc_id, simhash) pairs, newest
    * last, capped. Public for the encoder's generated accessors.
    */
  final case class BandState(entries: List[(Long, Long)])

  /** One near-dup flag: `doc_id` matched `matched_id` in bucket
    * (band, key) at hamming ≤ k. Carries the flagged doc's event time
    * so downstream monitoring (e.g. a windowed dup-rate over a file
    * sink — the storage-decoupled pattern, since this operator cannot
    * chain under a stateful agg directly) can window on it.
    */
  final case class NearDupFlag(
      ts: Timestamp, doc_id: Long, matched_id: Long, band: Int, hamming: Int)

  /** Streaming near-dup detection: simhash each arriving doc, route it
    * to its 4 LSH buckets, and compare only against the recent hashes
    * HELD IN THAT BUCKET's state — the streaming twin of
    * Dedup.simhashNearDupPairs' band join. Two docs within hamming ≤ 3
    * of a 32-bit hash share at least one 8-bit band (pigeonhole), so
    * bucket-local comparison finds them without any all-pairs work.
    *
    * State is per (band, key) — 1024 buckets spread across executors —
    * CAPPED at `maxPerBand` recent entries (oldest evicted), and
    * EXPIRED `horizonSeconds` of event time after a bucket's last
    * arrival (EventTimeTimeout keyed off the watermark): the stream
    * layer flags near-in-time duplicates; corpus-wide dedup stays in
    * the batch layer. A doc appears in 4 buckets, so downstream
    * consumers OR the flags per doc_id (one tiny batch aggregate, see
    * the spec).
    */
  def nearDupFlags(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxPerBand: Int = 64,
      horizonSeconds: Long = 3600L): Dataset[NearDupFlag] = {
    // 4 bands × 8 bits guarantee a shared band only up to hamming 3
    // (pigeonhole); a larger maxHamming would silently lose the recall
    // guarantee this docstring promises, so refuse it.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x8-bit banding is pigeonhole-complete only for hamming <= 3; got $maxHamming")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    withSimBands(docs)
      .withWatermark("ts", s"$horizonSeconds seconds")
      .as[(Timestamp, Long, Long, Int, Int)]
      .groupByKey { case (_, _, _, band, key) => (band, key) }
      .flatMapGroupsWithState[BandState, NearDupFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucket: (Int, Int), rows: Iterator[(Timestamp, Long, Long, Int, Int)],
         state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            // horizon passed with no arrivals: the bucket's history is
            // stale by definition — drop it entirely
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy { case (ts, id, _, _, _) => (ts.getTime, id) }
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            val flags = Seq.newBuilder[NearDupFlag]
            sorted.foreach { case (ts, id, sim, band, _) =>
              entries.reverseIterator
                .map { case (mid, msim) =>
                  (mid, java.lang.Long.bitCount(sim ^ msim)) }
                .find(_._2 <= maxHamming)
                .foreach { case (mid, h) => flags += NearDupFlag(ts, id, mid, band, h) }
              entries = (entries :+ (id, sim)).takeRight(maxPerBand)
            }
            state.update(BandState(entries))
            val lastTs = sorted.map(_._1.getTime).max
            state.setTimeoutTimestamp(lastTs + horizonSeconds * 1000)
            flags.result().iterator
          }
      }
  }

  /** Per-bucket minhash state: the most recent doc id. One id suffices
    * — every doc in a (band, key) bucket shares the band key by
    * construction, so ANY retained entry is a valid match and the
    * newest is kept. (The simhash path's multi-entry state exists
    * because ITS bucket members still need a hamming check; a minhash
    * band hit needs none.)
    */
  final case class MinhashState(last: Long)

  /** One minhash candidate flag: `doc_id` shares LSH band `band` with
    * the earlier `matched_id`.
    */
  final case class MinhashFlag(doc_id: Long, matched_id: Long, band: Int)

  /** Streaming MINHASH near-dup candidates — the streaming twin of
    * Dedup.minhashLshPairs, closing the streaming dedup family next to
    * the simhash path ([[nearDupFlags]]): each arriving doc's 16-min
    * signature (native one-pass kernel) is split into `bands` band
    * keys — the EXACT keys the batch operator joins on, so stream
    * candidates agree with the batch pair list — and flagged against
    * the most recent doc id held in that band bucket's state (8 bytes
    * per live bucket).
    *
    * State EXPIRES `horizonSeconds` after a bucket's last arrival
    * (EventTimeTimeout): the stream flags near-in-time duplicates,
    * corpus-wide dedup stays in the batch layer. A doc can flag in
    * several bands — consumers dedup (doc_id, matched_id) downstream.
    */
  def minhashDupFlags(
      docs: DataFrame,
      bands: Int = 4,
      horizonSeconds: Long = 3600L): Dataset[MinhashFlag] = {
    import graft.functions.TextFunctions._
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val banded = docs
      .withColumn("__sig", minhashSignature(shingleHashes(col("text"), 3)))
      .filter(col("__sig").isNotNull) // shingle-less docs have no signature
      .select(col("ts"), col("doc_id"),
        posexplode(array(sigBandKeys(col("__sig"), bands): _*))
          .as(Seq("band", "key")))
    banded.withWatermark("ts", s"$horizonSeconds seconds")
      .as[(Timestamp, Long, Int, String)]
      .groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[MinhashState, MinhashFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucket: (Int, String), rowsIt: Iterator[(Timestamp, Long, Int, String)],
         state: GroupState[MinhashState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rowsIt.toSeq.sortBy { case (ts, id, _, _) => (ts.getTime, id) }
            var last = state.getOption.map(_.last)
            val flags = Seq.newBuilder[MinhashFlag]
            sorted.foreach { case (_, id, band, _) =>
              last.foreach(mid => flags += MinhashFlag(id, mid, band))
              last = Some(id)
            }
            last.foreach(id => state.update(MinhashState(id)))
            val lastTs = sorted.map(_._1.getTime).max
            state.setTimeoutTimestamp(lastTs + horizonSeconds * 1000)
            flags.result().iterator
          }
      }
  }

  /** The near-dup evidence join shared by [[nearDupRateMetrics]] and its
    * batch twin: doc `l` is a near-dup iff some doc `r` with
    * `r.ts ∈ [l.ts − horizon, l.ts]` and `(r.ts, r.doc_id) <
    * (l.ts, l.doc_id)` shares an 8-bit simhash band AND
    * `bit_count(l.sim ^ r.sim) ≤ maxHamming` (band equality alone is the
    * candidate filter; the hamming check inside the join condition keeps
    * false candidates from ever leaving the join). The (ts, id)
    * ordering matches [[nearDupFlags]]: same-timestamp near-dups flag
    * the higher doc id — a strict ts bound would silently skip bursty
    * same-second copies whose digests differ.
    */
  private def nearDupEvidence(
      bands: DataFrame, maxHamming: Int, horizon: String): DataFrame = {
    val l = bands.alias("l")
    val r = bands.alias("r")
    // the time interval stays in clean conjuncts (r.ts BETWEEN l.ts −
    // horizon AND l.ts) so the stream-stream join can derive its state
    // eviction bounds from them; the (ts, id) tie-break is a separate
    // non-time conjunct
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("r.ts") <= col("l.ts") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $horizon") &&
          (col("r.ts") < col("l.ts") || col("r.doc_id") < col("l.doc_id")) &&
          bit_count(col("l.sim").bitwiseXOR(col("r.sim"))) <= maxHamming)
      .select(col("l.ts").as("ts"), col("l.doc_id").as("doc_id"))
  }

  /** The windowed rollup shared by stream and batch — one definition,
    * so the "stream ≡ batch" spec can never pass against diverged
    * arithmetic: per tumbling window, arrivals, distinct near-dup docs,
    * and their ratio.
    */
  private def rateRollup(
      arrivals: DataFrame, dupDocs: DataFrame, windowDur: String): DataFrame =
    arrivals.unionByName(dupDocs)
      .groupBy(window(col("ts"), windowDur))
      .agg(sum(when(col("__dup") === 0L, 1L).otherwise(0L)).as("n_docs"),
        sum(col("__dup")).as("n_dup"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("n_docs"), col("n_dup"),
        (col("n_dup") / col("n_docs")).as("dup_rate"))

  /** Windowed near-dup RATE metrics — the monitoring signal a 100 TB
    * ingest watches: per event-time tumbling window, docs arrived vs
    * docs that near-duplicate something seen within the preceding
    * `horizon`. A rising dup_rate means the crawl is re-fetching or a
    * source started mirroring — caught while streaming, not at the next
    * batch audit.
    *
    * Built ONLY from chainable stateful operators (Spark's
    * multiple-stateful-operator allowlist): banded simhash →
    * time-interval stream-stream SELF-JOIN on (band, key) →
    * dropDuplicatesWithinWatermark per doc → union with the stateless
    * arrivals branch → ONE windowed aggregation. The
    * flatMapGroupsWithState detector ([[nearDupFlags]]) cannot sit
    * under a windowed agg — its state-time emissions can be older than
    * the global watermark and Spark's correctness check rightly refuses
    * the chain — but the interval join emits at arrival event-time, so
    * this chain is watermark-sound with no checks disabled. Join state
    * is bounded by watermark + horizon and spread across executors by
    * the (band, key) equi-keys; hamming ≤ 3 keeps the 4×8-bit
    * pigeonhole recall guarantee of [[nearDupFlags]].
    *
    * A window's metric row finalizes (emits, append-mode) once the
    * watermark passes its end — at cluster scale the row lands roughly
    * one watermark delay after the window closes. The batch twin
    * [[nearDupRateMetricsBatch]] computes identical semantics; the spec
    * asserts stream rows ≡ batch rows on every window the stream emits.
    */
  def nearDupRateMetrics(
      docs: DataFrame,
      maxHamming: Int = 3,
      horizon: String = "1 hour",
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x8-bit banding is pigeonhole-complete only for hamming <= 3; got $maxHamming")
    val bands = withSimBands(docs).withWatermark("ts", watermark)
    val dupDocs = nearDupEvidence(bands, maxHamming, horizon)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("ts"), lit(1L).as("__dup"))
    val arrivals = docs.select(col("ts"), lit(0L).as("__dup"))
      .withWatermark("ts", watermark)
    rateRollup(arrivals, dupDocs, windowDur)
  }

  /** Batch twin of [[nearDupRateMetrics]]: identical evidence join and
    * window arithmetic over a static frame (exact dropDuplicates in
    * place of the watermark-scoped one — same result, since a doc's
    * evidence rows all exist at once in batch).
    */
  def nearDupRateMetricsBatch(
      docs: DataFrame,
      maxHamming: Int = 3,
      horizon: String = "1 hour",
      windowDur: String = "10 minutes"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x8-bit banding is pigeonhole-complete only for hamming <= 3; got $maxHamming")
    val dupDocs = nearDupEvidence(withSimBands(docs), maxHamming, horizon)
      .dropDuplicates("doc_id")
      .select(col("ts"), lit(1L).as("__dup"))
    val arrivals = docs.select(col("ts"), lit(0L).as("__dup"))
    rateRollup(arrivals, dupDocs, windowDur)
  }

  /** Streaming CORPUS-near-dup flagging — the minhash twin of
    * [[decontaminateStream]], pointed at a persisted near-dup band
    * index (Dedup.minhashBands / the q74 layout): each arriving doc's
    * 16-min signature (native one-pass kernel) splits into the batch
    * operator's EXACT band keys, and the keys probe a broadcast Bloom
    * over the indexed corpus's (band, key) rows (Dedup.bandKeyBloom).
    * Fully STATELESS — zero state store, streams at scan speed.
    *
    * Guarantee direction: the Bloom has NO false negatives, so a doc
    * truly sharing a band with the indexed corpus ALWAYS flags — a
    * corpus near-dup cannot slip through unflagged; false positives
    * over-flag at the fpp rate, and the batch layer's exact candidate
    * join (Dedup.incrementalMinhashCandidates) remains the audit.
    * Docs with no shingles (shorter than the shingle width) carry a
    * null signature and flag false.
    */
  def corpusNearDupStream(
      docs: DataFrame, indexBloom: Array[Byte],
      n: Int = 3, bands: Int = 4): DataFrame = {
    import graft.functions.TextFunctions._
    // `n` and `bands` MUST match the values the probed index was built
    // with (Dedup.minhashBands, the same signature kernel and
    // sigBandKeys) — different shingle widths or banding produce
    // disjoint key spaces and every probe would miss
    val keyHashes = sigBandKeys(col("__sig"), bands).zipWithIndex.map {
      case (key, b) => xxhash64(lit(b), key)
    }
    // ONE deserialized filter instance for all bands (per-band probe
    // expressions would each hold their own copy of a filter sized to
    // a 100 TB corpus's key set), and the whole probe is a single
    // codegen'd pass — the previous size(filter(…)) lambda ran
    // interpreted per element (§8's CodegenFallback pattern)
    val hits = graft.expressions.BloomExprs.bloomHitCount(
      indexBloom, array(keyHashes: _*))
    docs
      .withColumn("__sig", minhashSignature(shingleHashes(col("text"), n)))
      .withColumn("corpus_neardup", col("__sig").isNotNull && hits > 0)
      .drop("__sig")
  }

  /** STREAMING probe of the persisted cross-batch SIMHASH band index —
    * [[graft.operators.Dedup.incrementalSimhashCandidates]]' stream
    * twin, and the hamming-VERIFIED upgrade of [[corpusNearDupStream]]'s
    * Bloom heuristic: each arriving doc computes its 64-bit simhash
    * per-row (Dedup.simhashOf — the codegen'd bit-identical twin of the
    * batch aggregation, which a stream cannot run statelessly), bands
    * it with THE banding definition (Dedup.simhashBandKeys), and
    * equi-joins the STATIC index on (band, key) — a stream-static inner
    * join: fully STATELESS, no state store, no watermark. Every
    * candidate is verified EXACTLY in the join projection
    * (`bit_count(xor) ≤ maxHamming` — both sides carry their hash, no
    * estimate, no text revisit), so unlike the Bloom path there are no
    * probabilistic over-flags.
    *
    * Emits evidence rows (ts, doc_id, index_id, band, hamming) — a doc
    * matching one index entry in several bands emits one row per
    * matching band (per-pair DISTINCT is a stateful aggregation, which
    * would forfeit chainability; sinks dedupe by (doc_id, index_id),
    * and the spec asserts the distinct pair set ≡ the batch operator's).
    * At scale the static side is the bucketed (band, key) landing —
    * re-scanned per micro-batch, never recomputed or re-hashed. Index
    * REFRESH stays batch: append the accepted docs' simhashBands rows
    * between micro-batch epochs (the q74/q76 upsert contract).
    */
  def simhashIndexProbeStream(
      docs: DataFrame, indexBands: DataFrame, maxHamming: Int): DataFrame = {
    import graft.operators.Dedup
    val probe = docs
      .withColumn("__sim", Dedup.simhashOf(col("text")))
      .filter(col("__sim").isNotNull)
      .select(col("ts"), col("doc_id"), col("__sim"),
        posexplode(Dedup.simhashBandKeys(col("__sim"))).as(Seq("band", "key")))
    probe.as("pb")
      .join(indexBands.as("ix"),
        col("ix.band") === col("pb.band") && col("ix.key") === col("pb.key"))
      .select(col("pb.ts"), col("pb.doc_id"), col("ix.id").as("index_id"),
        col("pb.band").as("band"),
        bit_count(col("ix.simhash").bitwiseXOR(col("pb.__sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** STREAMING CDC chunk probe — the SHIFTED-duplicate member of the
    * index-probe family (q74 minhash / q76 simhash / semantic): each
    * arriving doc is chunked by the one-pass content-defined kernel
    * (narrow codegen explode — the stream never shuffles to be
    * chunked) and stream-static inner joins the corpus chunk index on
    * the chunk hash. A match means the arriving doc shares a
    * content-defined chunk with an indexed doc — the
    * prepended-boilerplate / copy-with-a-new-header duplicate that
    * [[dedupStream]]'s whole-text digest misses structurally. Fully
    * stateless: no state store, no watermark, streams at scan speed.
    * Emits one row per (arrival, indexed doc, shared chunk hash) —
    * at-least-once per pair, like the simhash probe's per-band rows;
    * consumers aggregate shared fractions or dedupe pairs downstream
    * (chainable append mode, the probe-family contract).
    *
    * `chunkIndex` is a batch [[graft.operators.Dedup.cdcChunkTable]]
    * with the SAME window/modulus (persist it bucketed on `ch` for an
    * exchange-free static side); refresh = append the accepted
    * arrivals' own chunk rows between micro-batch epochs, the q74
    * upsert contract.
    */
  def cdcProbeStream(
      docs: DataFrame, chunkIndex: DataFrame,
      window: Int = 8, modulus: Int = 32): DataFrame = {
    import graft.functions.TextFunctions.cleanAscii
    val probe = docs.select(col("ts"), col("doc_id"),
      explode(graft.expressions.StringExprs.cdcChunkHashes(
        lower(cleanAscii(col("text"))), window, modulus)).as("ch"))
    probe.as("pb")
      .join(chunkIndex.as("ix"), col("pb.ch") === col("ix.ch"))
      .select(col("pb.ts"), col("pb.doc_id"),
        col("ix.id").as("index_id"), col("pb.ch").as("ch"))
  }

  /** STREAMING semantic near-dup probe — [[graft.operators.Dedup
    * .semanticDedup]]'s drop rule with the corpus as the index (the
    * semantic member of the q74/q76 probe family): each arriving
    * vector is assigned to its k-means cell — a NARROW projection
    * (ivfAssign's `nearest_code` kernel, at any centroid count; the
    * stream never shuffles to be assigned) — then
    * stream-static inner equi-joins the indexed corpus assignment on
    * `cell` with the EXACT cosine ≥ `tau` check in-join. Fully
    * stateless: no state store, no watermark, streams at scan speed;
    * recall is cell-bounded exactly as in batch (cross-cell near-dups
    * invisible — the SemDeDup trade).
    *
    * `corpusAsg` is a batch [[graft.operators.Similarity.ivfAssign]]
    * over the corpus with the SAME centroids (persist it bucketed on
    * `cell` for an exchange-free static side); upsert = append the
    * arriving batch's own assignment rows, the q74 contract.
    */
  def semanticProbeStream(
      vecs: DataFrame, corpusAsg: DataFrame, centroids: DataFrame,
      tau: Double, idCol: String = "vec_id", vecCol: String = "v"): DataFrame = {
    import graft.operators.Similarity
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    Similarity.ivfAssign(vecs, centroids, idCol, vecCol).as("pb")
      .join(corpusAsg.as("ix"), col("pb.cell") === col("ix.cell"))
      .withColumn("cosine",
        Similarity.cosine(col(s"pb.$vecCol"), col(s"ix.$vecCol")))
      .filter(col("cosine") >= tau)
      .select(col(s"pb.$idCol").as("probe_id"),
        col(s"ix.$idCol").as("corpus_id"),
        col("pb.cell").as("cell"), col("cosine"))
  }

  /** Streaming train/eval decontamination: each arriving doc's shingle
    * hashes probe a BROADCAST Bloom built over the eval corpus's
    * shingles (Dedup.shingleBloom); docs with ≥ `minShared` hits are
    * dropped. Fully STATELESS — the eval set is a static byte-array
    * literal, the probe ONE codegen'd pass over the shingle array
    * (BloomExprs.bloomHitCount) — so the stage streams at scan speed
    * with zero state store.
    *
    * Guarantee direction matters here: the Bloom has NO false
    * negatives, so a truly contaminated doc (≥ minShared real eval
    * shingles) is ALWAYS dropped — contamination cannot leak past the
    * stream layer. False positives over-drop clean docs at the fpp
    * rate; the batch layer's exact contaminationReport (q25) remains
    * the audit of record.
    */
  def decontaminateStream(
      docs: DataFrame, evalBloom: Array[Byte],
      n: Int = 3, minShared: Int = 1): DataFrame = {
    import graft.functions.TextFunctions._
    // one codegen'd pass over the shingle array with one shared filter
    // instance — the previous size(filter(…, might_contain)) lambda
    // probed interpreted per shingle (§8's CodegenFallback pattern)
    val hits = graft.expressions.BloomExprs.bloomHitCount(
      evalBloom, shingleHashes(col("text"), n))
    docs.filter(hits < minShared)
  }

  /** STREAMING corpus-diff probe — [[graft.operators.Dedup.corpusDiff]]
    * restricted to what a stream can see: each arriving doc classifies
    * against a STATIC snapshot as added (id absent), changed
    * (fingerprint differs — null-safe, the batch contract) or
    * unchanged. `removed` is structurally undetectable here: a stream
    * observes arrivals, never absences — removal detection stays with
    * the batch diff, and this probe's output over a full replay of v2
    * equals the batch diff MINUS its removed rows (spec-asserted).
    *
    * Stateless stream-static LEFT join on id: no state store, no
    * watermark; the snapshot side reduces to (id, 8-byte fingerprint)
    * at its scan — land it bucketed by id and only the arriving batch
    * shuffles (the q74 one-sided-exchange contract).
    */
  def diffProbeStream(docs: DataFrame, snapshot: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val snap = snapshot.select(col(idCol).as("__sid"),
      TextAnalysis.fingerprint(col(textCol)).as("__fo"), lit(true).as("__po"))
    docs
      .withColumn("__fn", TextAnalysis.fingerprint(col(textCol)))
      .join(snap, col(idCol) === col("__sid"), "left")
      .select(col(idCol),
        when(col("__po").isNull, "added")
          .when(col("__fo") <=> col("__fn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Batch twin of [[ingestClean]] (keep the earliest copy per digest). */
  /** Stateless streaming QUALITY-GATE probe —
    * [[TextAnalysis.qualityGateRow]] over a document stream: per-doc
    * Gopher rule flags + `keep` with ZERO state operators (spec-
    * pinned), so it rides any trigger with no watermark or state
    * store. The ingest-time twin of the q120 batch audit: route
    * keep=false to quarantine, keep=true onward; the single-projection
    * row variant exists exactly because the batch shape's per-doc
    * explode + groupBy would be a stateful aggregation here.
    */
  def qualityGateStream(
      docs: DataFrame,
      rules: TextAnalysis.QualityRules = TextAnalysis.QualityRules()): DataFrame =
    TextAnalysis.qualityGateRow(docs, "doc_id", "text", rules)

  /** Stateless streaming NOVELTY probe against the incrementally
    * maintained COUNT-MIN token-frequency state
    * ([[graft.operators.Sketches.cmsSketch]]/mergeCms — the write side
    * the micro-batch spec proves; this is the READ side at ingest):
    * per arriving doc, how many of its tokens the corpus state
    * estimates at ≤ `rareMax` occurrences. High novelty flags
    * out-of-distribution ingest (new language, spam burst, encoding
    * breakage) the moment it arrives. The grid rides in as a LITERAL
    * map ([[graft.operators.Sketches.cmsEstimateCol]] — it is
    * parameter-bounded), so the probe is ONE narrow projection: zero
    * state operators, zero shuffle, any trigger (spec-pinned, with
    * stream ≡ batch row-for-row). CMS estimates only over-count, so
    * `n_rare` is CONSERVATIVE — a token called rare is truly rare.
    * The one-level token lambda is interpreted but its inner
    * expression dominates (§8 kernel-parity note) — the batch side
    * keeps the explode + join shape where aggregation is free.
    */
  def cmsNoveltyStream(
      docs: DataFrame, grid: Seq[(Int, Int, Long)], rareMax: Long,
      depth: Int = 4, width: Int = 64): DataFrame = {
    require(rareMax >= 0L, s"rareMax must be non-negative, got $rareMax")
    // STAGED (§8 r11 rule): the rare-token filter is a CodegenFallback
    // HOF referenced by two output columns — inlined, each reference
    // re-ran the full per-token CMS fold (measured 10× exec swings on
    // the q146 gate). One stateless projection per stage; stream ≡
    // batch unchanged.
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("__t"))
      .withColumn("__rare", size(filter(col("__t"), t =>
        Sketches.cmsEstimateCol(grid, t, depth, width) <= rareMax))
        .cast("long"))
      .select(col("doc_id"),
        size(col("__t")).as("n_toks"),
        col("__rare").as("n_rare"),
        when(size(col("__t")) === 0, 0L).otherwise(
          floor(col("__rare").cast("double") /
            size(col("__t")).cast("double") * 1000000.0)
            .cast("long")).as("novelty_micro"))
  }

  /** Stateless streaming HOT-TOKEN probe against the incrementally
    * maintained MISRA-GRIES heavy-hitter state
    * ([[graft.operators.Sketches.heavyHitters]]/mergeHeavyHitters — the
    * write side the q122 gate pins; this is the READ side at ingest):
    * per arriving doc, how many of its token occurrences the summary
    * GUARANTEES frequent (cnt_lo ≥ `minLo` — MG counts are lower
    * bounds, so every flagged occurrence is truly hot). High hot
    * fraction flags boilerplate/template bursts the moment they
    * arrive — the frequency complement of [[cmsNoveltyStream]]'s
    * rarity probe, conservative in the OPPOSITE direction (novelty
    * over-flags nothing rare; hotness under-flags nothing cold). The
    * summary rides in as a literal map
    * ([[graft.operators.Sketches.mgCountCol]] — parameter-bounded at
    * ≤ capacity rows), so the probe is ONE narrow projection: zero
    * state operators, zero shuffle, any trigger; stream ≡ batch
    * row-for-row (spec-pinned), and the SAME function serves the
    * oracled batch audit (q147).
    */
  def mgHotStream(
      docs: DataFrame, summary: Seq[(String, Long)],
      minLo: Long = 1L): DataFrame = {
    require(minLo >= 1L, s"minLo must be >= 1, got $minLo")
    // staged like [[cmsNoveltyStream]] — the hot-token HOF is
    // CodegenFallback and double-referenced
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("__t"))
      .withColumn("__hot", size(filter(col("__t"), t =>
        Sketches.mgCountCol(summary, t) >= minLo)).cast("long"))
      .select(col("doc_id"),
        size(col("__t")).as("n_toks"),
        col("__hot").as("n_hot"),
        when(size(col("__t")) === 0, 0L).otherwise(
          floor(col("__hot").cast("double") /
            size(col("__t")).cast("double") * 1000000.0)
            .cast("long")).as("hot_micro"))
  }

  /** Stateless streaming TYPO probe against the persisted SymSpell
    * deletion-key index ([[graft.operators.Dedup.deletionKeyIndex]] —
    * the vocabulary's (key, item, n) table, landed bucketed by key):
    * each arriving doc's distinct tokens generate their own deletion
    * keys ([[graft.operators.Dedup.deletionKeyArray]] — ONE spelling
    * shared with the batch pair join), probe the index with a
    * stream-static equi-join, and exact levenshtein verifies the
    * edit-distance-1 candidates in-join — flagging
    * probable-misspelling tokens with their frequent vocabulary
    * neighbor the moment a doc arrives (route to normalization or
    * quarantine). The q74/q76 persisted-index pattern for EDIT
    * distance: zero state operators (stream-static joins keep no
    * state — spec-pinned), the index side bounded by vocabulary not
    * corpus, candidates by deletion-bucket size. Emits
    * (doc_id, tok, suggestion, n) rows — row-level by design; any
    * per-doc rollup composes downstream where aggregation is
    * available.
    */
  def typoProbeStream(
      docs: DataFrame, keyIndex: DataFrame, maxLen: Int = 32): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    docs
      .select(col("doc_id"),
        explode(array_distinct(wsTokens(lower(col("text"))))).as("tok"))
      .filter(length(col("tok")) >= 1 && length(col("tok")) <= maxLen)
      .select(col("doc_id"), col("tok"),
        explode(Dedup.deletionKeyArray("tok")).as("k"))
      .join(keyIndex, "k")
      .filter(col("tok") =!= col("item") &&
        levenshtein(col("tok"), col("item")) === 1)
      // no distinct needed — and a stream may not have one (stateful):
      // a VERIFIED distance-1 pair shares EXACTLY one distinct key
      // (substitution at i shares only del_i — deleting j ≠ i leaves
      // the differing position; insert/delete shares only the shorter
      // string itself, array_distinct collapsing the multi-way "aaa"
      // case), so each (doc, tok, suggestion) emits once by
      // construction — spec-pinned on exactly those shapes
      .select(col("doc_id"), col("tok"), col("item").as("suggestion"),
        col("n"))
  }

  def ingestCleanBatch(docs: DataFrame, minTokens: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("digest").orderBy(col("ts"), col("doc_id"))
    docs
      .withColumn("digest", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .filter(tokenCount(col("text")) >= minTokens)
      .withColumn("text", TextAnalysis.redactPii(col("text")))
  }

  /** STREAMING confusion-matrix maintenance — the label-QC state a
    * long-running annotation/classifier pipeline keeps per micro-batch
    * (the mergeable-metrics posture of the sketch layer): a streaming
    * groupBy over (predicted, actual) whose counts SUM across batches,
    * so Cohen's κ ([[graft.operators.TextAnalysis.kappaFromMatrix]])
    * reads off the maintained state with zero re-scan — exactly the κ
    * a full batch recount would produce (spec-pinned batch ≡ stream).
    * Complete-mode output: the matrix is |labels|²-bounded state, the
    * one case where complete mode is the right shape.
    */
  def confusionStream(rated: DataFrame,
      predCol: String = "pred", actualCol: String = "actual"): DataFrame =
    rated.groupBy(col(predCol).as("a"), col(actualCol).as("b"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("c"))

  /** STREAMING per-source TOKEN-MASS maintenance — the waterfill
    * budget-DRIFT probe ([[graft.operators.Sampling.epochWaterfill]]'s
    * streaming companion): a training mix is allocated against the
    * per-source token masses measured at planning time, but a live
    * ingest keeps shifting them — a source that doubles overnight
    * silently deflates every other source's epoch share when the mix
    * is next recomputed. Maintaining (source, n_tokens) as a streaming
    * groupBy-sum lets the pipeline re-run the waterfill level search
    * off the maintained state after any micro-batch — with ZERO
    * corpus re-scan — and diff the resulting allocations against the
    * committed mix (the drift reading; spec pins state-waterfill ≡
    * batch-waterfill at every snapshot AND that the level actually
    * moves as mass arrives). Complete-mode output: |sources|-bounded
    * state, the confusion-matrix posture.
    */
  def sourceTokenStream(
      docs: DataFrame, sourceCol: String = "source"): DataFrame =
    docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokenCount(col("text")).cast("long")).as("n_tokens"))

  /** Drain a bounded rated stream through [[confusionStream]] (spec
    * harness): returns the final matrix snapshot.
    */
  def runBoundedConfusion(
      spark: SparkSession, rated: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    mem.addData(rated)
    val q = confusionStream(mem.toDF().toDF("pred", "actual"))
      .writeStream.format("memory").queryName("graft_confusion_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_confusion_test")
  }
}
