package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private val events = Seq(
    Event(ts(0), 1L, "click", 1.0),
    Event(ts(1), 1L, "click", 2.0),
    Event(ts(4, 59), 2L, "view", 3.0),
    Event(ts(5), 1L, "click", 4.0),  // next 5-min window
    Event(ts(40), 1L, "click", 5.0), // new session for user 1
    Event(ts(41), 2L, "view", 6.0))

  test("streaming windowed counts equal the batch q50 semantics") {
    val out = EventStreams.runBoundedWindowed(spark, events)
      .select(unix_timestamp(col("win_start")).as("w"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(out === Set(
      (base, "click", 2L, 3.0),
      (base, "view", 1L, 3.0),
      (base + 300, "click", 1L, 4.0),
      (base + 2400, "click", 1L, 5.0),
      (base + 2400, "view", 1L, 6.0)))
  }

  test("watermark late-data drop: an event older than the watermark is " +
      "provably excluded from the windowed aggregate, and the emitted " +
      "window matches the documented horizon bound") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.windowedCounts(mem.toDF()) // 10-min watermark
      .writeStream.format("memory").queryName("graft_wm_late")
      .outputMode("append").start()
    def hr(h: Int, m: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: window W0 = [10:00, 10:05) gets one click; a second
    // event at 11:00 advances the watermark to 10:50 at the NEXT batch
    mem.addData(Event(hr(10), 1L, "click", 1.0), Event(hr(11), 1L, "click", 2.0))
    q.processAllAvailable()
    // batch 2: a LATE click at 10:01 (41 min below the 10:50
    // watermark) lands in the already-closed W0 — it must be DROPPED,
    // not re-opened and not double-emitted
    mem.addData(Event(hr(10, 1), 1L, "click", 100.0))
    q.processAllAvailable()
    // batch 3: push the watermark past 11:05 so W1 = [11:00, 11:05)
    // finalizes too
    mem.addData(Event(hr(12), 2L, "view", 7.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_wm_late")
      .select(unix_timestamp(col("win_start")).as("w"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val w0 = hr(10).getTime / 1000
    val w1 = hr(11).getTime / 1000
    // W0 emitted exactly once with the ON-TIME event only: n = 1,
    // sum = 1.0 — the late 100.0 is provably excluded. W1 carries its
    // single on-time click. (The 12:00 view's window is still open at
    // stop — append mode emits nothing for it, the horizon contract.)
    assert(got === Set((w0, "click", 1L, 1.0), (w1, "click", 1L, 2.0)))
  }

  test("watermark late-data drop, stateful sessionize: a late event " +
      "below the watermark cannot re-open a timed-out session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("graft_sess_late")
      .outputMode("append")
      .start()
    def hr(h: Int, m: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: user 1 session [10:00, 10:01]; 13:00 event (user 2)
    // advances the watermark to 12:30 — past user 1's 10:31 timeout,
    // closing and emitting the session
    mem.addData(Event(hr(10), 1L, "click", 1.0),
      Event(hr(10, 1), 1L, "click", 2.0),
      Event(hr(13), 2L, "view", 3.0))
    q.processAllAvailable()
    // batch 2: a late 10:02 click for user 1 — 2.5 h below the
    // watermark; must be dropped BEFORE the stateful operator, so the
    // closed session is not re-opened or re-emitted
    mem.addData(Event(hr(10, 2), 1L, "click", 100.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("graft_sess_late")
      .select("user_id", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exactly the 2-event on-time session; no 3-event or value-103
    // variant from the late row
    assert(closed === Set((1L, 2L, 3.0)))
  }

  test("batch sessionization: gap splits sessions per user") {
    val s = EventStreams.sessionizeBatch(events.toDF(), gapSeconds = 1800)
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("n_events")),
        r.getDouble(r.fieldIndex("total_value"))))
    // user1: [0,1,5min]=3 events, then [40min]; user2: [4:59] and [41] split
    assert(s.toSeq === Seq((1L, 3L, 7.0), (1L, 1L, 5.0), (2L, 1L, 3.0), (2L, 1L, 6.0)))
  }

  test("stateful flatMapGroupsWithState sessionization agrees with batch") {
    // bounded drain: run the stateful operator on a memory stream and
    // compare closed sessions against sessionizeBatch (open sessions at
    // end-of-stream stay in state; compare only the closed ones)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    mem.addData(events)
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("graft_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val closed = spark.table("graft_sessions")
      .select("user_id", "n_events", "total_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user1's first session (3 events, value 7.0) must close when the
    // 40-min event arrives past the 30-min gap
    assert(closed.contains((1L, 3L, 7.0)))
  }

  test("checkpoint restart: a stopped sessionize query resumes with " +
      "RESTORED state — a session bridging the restart merges, and " +
      "output equals an uninterrupted run") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    def ev(sec: Int, u: Long, v: Double) =
      Event(new Timestamp(ts(0).getTime + sec * 1000L), u, "click", v)
    // batch 1 leaves OPEN sessions in state; batch 2's first event is
    // WITHIN the 30-min gap of user 1's last — only restored state can
    // merge them into one session. The far-future events then close
    // everything deterministically via the gap rule.
    val batch1 = Seq(ev(0, 1L, 1.0), ev(60, 1L, 2.0), ev(0, 2L, 5.0))
    val batch2 = Seq(ev(300, 1L, 4.0), ev(20000, 1L, 9.0),
      ev(20000, 2L, 9.0))
    def run(dir: java.nio.file.Path, mem: MemoryStream[Event]): Unit = {
      val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 1800)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sessions(dir: java.nio.file.Path) =
      spark.read.parquet(s"$dir/out")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet

    // interrupted: process batch 1, STOP (the kill), add batch 2,
    // start a SECOND query over the same checkpoint
    val d1 = TempDirs.create("graft_restart")
    val mem1 = MemoryStream[Event]
    mem1.addData(batch1)
    run(d1, mem1)
    mem1.addData(batch2)
    run(d1, mem1)
    val interrupted = sessions(d1)

    // uninterrupted twin: same events, one run, fresh checkpoint
    val d2 = TempDirs.create("graft_restart2")
    val mem2 = MemoryStream[Event]
    mem2.addData(batch1 ++ batch2)
    run(d2, mem2)
    assert(interrupted === sessions(d2))

    // the cross-restart merge is the state-restoration proof: user 1's
    // events 0s/60s (pre-kill) + 300s (post-restart) close as ONE
    // 3-event session — a fresh-state restart would emit 2+1
    assert(interrupted.contains((1L, 3L, 7.0)), s"got $interrupted")
    assert(interrupted.contains((2L, 1L, 5.0)))
  }

  test("streaming ingest-clean: dedup + quality + PII agree with the batch twin") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    val docs = Seq(
      Doc(ts(0), 1L, "alpha beta gamma delta epsilon with jane@ex.com inside"),
      Doc(ts(1), 2L, "alpha beta gamma delta epsilon with jane@ex.com inside"), // dup of 1
      Doc(ts(2), 3L, "short text"),                                             // fails quality
      Doc(ts(3), 4L, "call 555-867-5309 for five more words today"),
      Doc(ts(4), 5L, "a wholly distinct document with enough tokens"))
    val streamed = DocStreams.runBoundedClean(spark, docs)
      .select("digest", "text").as[(String, String)].collect().toSet
    val batch = DocStreams.ingestCleanBatch(docs.toDF())
      .select("digest", "text").as[(String, String)].collect().toSet
    // same surviving digests with identically redacted text
    assert(streamed === batch)
    assert(streamed.size === 3)
    val texts = streamed.map(_._2)
    assert(texts.exists(_.contains("<EMAIL>")))
    assert(texts.exists(_.contains("<PHONE>")))
    assert(!texts.exists(t => t.contains("@ex.com") || t.contains("555-")))
  }

  test("streaming chunking: the stateless chunkTokens streams as-is, equals batch") {
    import graft.streaming.DocStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    // chunkTokens is a narrow generator — no state, no watermark needed;
    // applying it to a stream must produce exactly the batch chunks
    val docs = Seq(
      Doc(ts(0), 1L, (1 to 25).map(i => s"w$i").mkString(" ")), // 3 chunks at 10/8
      Doc(ts(1), 2L, "tiny doc"),                               // 1 chunk
      Doc(ts(2), 3L, (1 to 10).map(i => s"x$i").mkString(" "))) // exactly one window
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = graft.operators.TextAnalysis
      .chunkTokens(mem.toDF(), "doc_id", "text", chunk = 10, stride = 8)
      .writeStream.format("memory").queryName("graft_chunk_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("graft_chunk_stream")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val batch = graft.operators.TextAnalysis
      .chunkTokens(docs.toDF(), "doc_id", "text", chunk = 10, stride = 8)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed === batch)
    assert(streamed.keys.map(_.head).toSet === Set(1L, 2L, 3L))
  }

  test("streaming range joins: point-in-interval and overlap stream as-is, equal batch") {
    implicit val sqlCtx = spark.sqlContext
    // a stream of arriving loci/regions against a STATIC interval table
    // (gene models, capture targets) is a stateless stream-static probe —
    // the static side is indexed and the probe is a narrow generator on
    // the stream side, so RangeJoin composes on a stream UNCHANGED: no
    // state store, no watermark, exactly-once pair emission intact
    val targets = Seq(
      ("1", 100L, 2000000L, "t_a"),
      ("1", 1500000L, 3000000L, "t_b"), // overlaps t_a
      ("2", 100L, 500000L, "t_c"))
      .toDF("chrom", "r_start", "r_end", "target")

    val loci = Seq(
      ("1", 500L, "v1"),            // in t_a only
      ("1", 1600000L, "v2"),        // in t_a AND t_b
      ("2", 400000L, "v3"),         // in t_c
      ("2", 900000L, "v4"))         // in nothing
    val memP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String)]
    memP.addData(loci)
    val pointQ = graft.operators.RangeJoin
      .pointInInterval(
        memP.toDF().toDF("chrom", "pos", "id"),
        targets.withColumnRenamed("r_start", "start")
          .withColumnRenamed("r_end", "end"))
      .writeStream.format("memory").queryName("graft_stream_pii")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    pointQ.awaitTermination()
    val streamedP = spark.table("graft_stream_pii")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val batchP = graft.operators.RangeJoin
      .pointInInterval(
        loci.toDF("chrom", "pos", "id"),
        targets.withColumnRenamed("r_start", "start")
          .withColumnRenamed("r_end", "end"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(streamedP === batchP)
    assert(streamedP.keys.map(r => r(2)).toSet === Set("v1", "v2", "v3"))

    val memR = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long, String)]
    memR.addData(Seq(
      ("1", 50L, 1600010L, "r1"),       // overlaps t_a and t_b
      ("2", 600000L, 700000L, "r2")))   // overlaps nothing
    val ovQ = graft.operators.RangeJoin
      .intervalOverlap(
        memR.toDF().toDF("chrom", "start", "end", "region_id"), targets)
      .writeStream.format("memory").queryName("graft_stream_overlap")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    ovQ.awaitTermination()
    val streamedO = spark.table("graft_stream_overlap")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val batchO = graft.operators.RangeJoin
      .intervalOverlap(
        Seq(("1", 50L, 1600010L, "r1"), ("2", 600000L, 700000L, "r2"))
          .toDF("chrom", "start", "end", "region_id"), targets)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(streamedO === batchO)
    // exactly-once emission survives streaming: r1×t_a overlaps over
    // 1.5 Mb but lands exactly once
    assert(streamedO.values.forall(_ === 1))
    assert(streamedO.keys.map(r => (r(3), r(6))).toSet ===
      Set(("r1", "t_a"), ("r1", "t_b")))
    // stateless: neither query ran a state store (recentProgress keeps
    // the drained batches even after AvailableNow terminates — a null
    // lastProgress must not make this vacuous)
    Seq(pointQ, ovQ).foreach { q =>
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
      batches.foreach(p => assert(p.stateOperators.isEmpty,
        s"range join unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
    }
  }

  test("streaming near-dup flags: banded simhash state catches the late copy") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      Doc(ts(0), 1L, base),
      Doc(ts(1), 2L, base + " extra1 extra2"),         // near-dup of 1, later
      Doc(ts(2), 3L, (100 to 140).map(i => s"other$i").mkString(" ")), // distinct
      Doc(ts(3), 4L, base))                            // exact dup of 1
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.nearDupFlags(mem.toDF())
      .writeStream.format("memory").queryName("graft_neardup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // OR the per-bucket flags per doc (the documented downstream step)
    val flagged = spark.table("graft_neardup_test")
      .groupBy("doc_id").agg(min("matched_id").as("m"))
      .as[(Long, Long)].collect().toMap
    // 2 and 4 are flagged; the match target is whichever near-dup the
    // newest-first state probe hit (1 or 2) — both are true duplicates
    assert(flagged.keySet === Set(2L, 4L), s"got $flagged")
    assert(flagged(2L) === 1L)
    assert(Set(1L, 2L).contains(flagged(4L)), s"got $flagged")
    assert(!flagged.contains(3L))
  }

  test("streaming minhash flags agree with the batch LSH pair list") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      Doc(ts(0), 1L, base),
      Doc(ts(1), 2L, base + " tail1 tail2"),         // near-dup of 1, later
      Doc(ts(2), 3L, (100 to 140).map(i => s"other$i").mkString(" ")), // distinct
      Doc(ts(3), 4L, base))                          // exact dup of 1
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.minhashDupFlags(mem.toDF())
      .writeStream.format("memory").queryName("graft_minhash_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = spark.table("graft_minhash_test")
      .select(least(col("doc_id"), col("matched_id")).as("a"),
        greatest(col("doc_id"), col("matched_id")).as("b"))
      .distinct().as[(Long, Long)].collect().toSet
    val batchPairs = Dedup.minhashLshPairs(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, bands = 4)
      .as[(Long, Long)].collect().toSet
    // stream candidates use the batch operator's EXACT band keys, so
    // every stream pair must be a batch pair; the dup family {1,2,4} is
    // fully flagged, the distinct doc never
    assert(streamPairs.nonEmpty && streamPairs.subsetOf(batchPairs),
      s"stream $streamPairs vs batch $batchPairs")
    val flaggedDocs = spark.table("graft_minhash_test")
      .select("doc_id").as[Long].collect().toSet
    assert(flaggedDocs === Set(2L, 4L), s"got $flaggedDocs")
    assert(!streamPairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("streaming decontamination drops eval-overlapping docs, agrees with batch") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val evalText = "the quick brown fox jumps over the lazy dog every day"
    val evalDf = Seq((900L, evalText)).toDF("id", "text")
    val bloom = Dedup.shingleBloom(evalDf, "text", n = 3, expectedItems = 1000)
    val docs = Seq(
      Doc(ts(0), 1L, "completely unrelated text about spark plans and shuffles here"),
      Doc(ts(1), 2L, s"prefix words then $evalText then suffix"), // contaminated
      Doc(ts(2), 3L, "another clean doc with different tokens entirely friends"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.decontaminateStream(mem.toDF(), bloom, n = 3, minShared = 2)
      .writeStream.format("memory").queryName("graft_decon_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val kept = spark.table("graft_decon_test")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L), s"got $kept")
    // the exact batch report flags the same doc
    val flagged = Dedup.contaminationReport(
        docs.map(d => (d.doc_id, d.text)).toDF("id", "text"),
        evalDf, "id", "text", n = 3, minShared = 2)
      .select("train_id").as[Long].collect().toSet
    assert(flagged === Set(2L))
  }

  test("windowed near-dup rate metrics: stream rows equal the batch twin") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val base2 = (200 to 240).map(i => s"two$i").mkString(" ")
    def distinctDoc(seed: Int) =
      (seed * 100 to seed * 100 + 40).map(i => s"only$i").mkString(" ")
    val docs = Seq(
      Doc(ts(0), 1L, base),
      Doc(ts(1), 2L, distinctDoc(1)),
      Doc(ts(3), 3L, base + " extra1 extra2"), // near-dup of 1 (3 min back)
      Doc(ts(5), 4L, distinctDoc(2)),
      Doc(ts(8), 5L, base),                    // dup of 3 (exactly horizon back)
      Doc(ts(12), 6L, distinctDoc(3)),
      Doc(ts(13), 7L, base),                   // dup of 5 (5 min back)
      Doc(ts(15), 8L, distinctDoc(4)),
      Doc(ts(15), 12L, base2),                 // same-ts pair: lower id is the original...
      Doc(ts(15), 13L, base2 + " extra1 extra2"), // ...higher id flags as the near-dup
      Doc(ts(22), 9L, base),                   // nearest base copy 9 min back — OUTSIDE horizon
      Doc(ts(23), 10L, distinctDoc(5)),
      Doc(ts(29), 11L, distinctDoc(6)))        // pushes the watermark
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.nearDupRateMetrics(mem.toDF(),
        horizon = "5 minutes", windowDur = "10 minutes", watermark = "2 minutes")
      .writeStream.format("memory").queryName("graft_duprate_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(unix_timestamp(col("win_start")).as("w"), col("n_docs"), col("n_dup"))
      .as[(Long, Long, Long)].collect().map { case (w, d, n) => w -> ((d, n)) }.toMap
    val streamed = rows(spark.table("graft_duprate_test"))
    val batch = rows(DocStreams.nearDupRateMetricsBatch(docs.toDF(),
      horizon = "5 minutes", windowDur = "10 minutes"))
    val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    // final watermark 10:27, join output watermark 10:22 → exactly the
    // first two windows have finalized and emitted
    assert(streamed.keySet === Set(w0, w0 + 600), s"got $streamed")
    // [10:00,10:10): 5 arrivals, dups {3, 5}; [10:10,10:20): 5 arrivals,
    // dups {7, 13} — 13 is the same-timestamp near-dup of 12 (the
    // (ts, id) tie-break, matching nearDupFlags' ordering)
    assert(streamed(w0) === ((5L, 2L)), s"got $streamed")
    assert(streamed(w0 + 600) === ((5L, 2L)), s"got $streamed")
    // every emitted stream row equals the batch twin's row
    streamed.foreach { case (w, v) => assert(batch(w) === v, s"window $w: $v vs ${batch(w)}") }
    // the batch twin also proves the horizon bound: doc 9's base copy is
    // 9 minutes stale, so the third window has zero near-dups
    assert(batch(w0 + 1200) === ((3L, 0L)), s"got $batch")
  }

  test("stateful detector monitoring decouples via a file sink: two queries, one truth") {
    // nearDupFlags cannot chain under a stateful aggregation (its
    // state-time emissions can trail the global watermark — Spark's
    // correctness check refuses the plan), so its production monitoring
    // shape is TWO queries decoupled by storage: detector → file sink;
    // a second streaming query windows over the sink. This spec proves
    // that round trip end to end.
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft_flag_sink")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      Doc(ts(0), 1L, base),
      Doc(ts(1), 2L, base + " extra1 extra2"),
      Doc(ts(2), 3L, (100 to 140).map(i => s"other$i").mkString(" ")),
      Doc(ts(12), 4L, base)) // second window
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    // query 1: detector → parquet sink
    val q1 = DocStreams.nearDupFlags(mem.toDF())
      .writeStream.format("parquet")
      .option("path", s"$dir/flags")
      .option("checkpointLocation", s"$dir/ckpt1")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q1.awaitTermination()
    // query 2: windowed dup counts over the sink — a plain streaming
    // source now, so the windowed agg chains without any caveat
    val q2 = spark.readStream
      .schema(spark.read.parquet(s"$dir/flags").schema)
      .parquet(s"$dir/flags")
      .withWatermark("ts", "0 seconds")
      .dropDuplicatesWithinWatermark("doc_id")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_dup"))
      .writeStream.format("memory").queryName("graft_flag_monitor")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val got = spark.table("graft_flag_monitor")
      .select(unix_timestamp(col("window.start")).as("w"), col("n_dup"))
      .as[(Long, Long)].collect().toMap
    val w0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    // window 1 closed (watermark reached 10:12): doc 2 flagged against 1
    assert(got.get(w0) === Some(1L), s"got $got")
    // and the sink holds the same flags the direct-read spec sees
    val sunk = spark.read.parquet(s"$dir/flags")
      .select("doc_id").as[Long].collect().toSet
    assert(sunk === Set(2L, 4L), s"got $sunk")
  }

  test("streaming corpus-near-dup flags agree with the batch index probe") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, (100 to 140).map(i => s"other$i").mkString(" "))).toDF("id", "text")
    val indexBands = Dedup.minhashBands(corpus, "id", "text", n = 3, bands = 4)
    val bloom = Dedup.bandKeyBloom(indexBands, expectedItems = 1000)
    val batch = Seq(
      Doc(ts(0), 10L, base + " tail1 tail2"),   // near-dup of corpus doc 1
      Doc(ts(1), 11L, (300 to 340).map(i => s"fresh$i").mkString(" ")), // novel
      Doc(ts(2), 12L, "tiny"))                  // no shingles → null sig → false
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(batch)
    val q = DocStreams.corpusNearDupStream(mem.toDF(), bloom)
      .writeStream.format("memory").queryName("graft_corpusdup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val flagged = spark.table("graft_corpusdup_test")
      .filter(col("corpus_neardup")).select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(10L), s"got $flagged")
    // no false negatives by construction: every batch doc the EXACT
    // index probe finds a candidate for must be stream-flagged
    val exact = Dedup.incrementalMinhashCandidates(
        indexBands, batch.map(d => (d.doc_id, d.text)).toDF("id", "text"),
        "id", "text", n = 3, bands = 4)
      .select("batch_id").as[Long].collect().toSet
    assert(exact.subsetOf(flagged), s"stream missed exact candidates: $exact vs $flagged")
  }

  test("streaming simhash index probe: hamming-verified, stateless, equals batch") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, (100 to 140).map(i => s"other$i").mkString(" "))).toDF("id", "text")
    val indexBands = Dedup.simhashBands(corpus, "id", "text")
    val batch = Seq(
      Doc(ts(0), 10L, base),             // token-identical copy: hamming 0
      Doc(ts(1), 11L, (300 to 340).map(i => s"fresh$i").mkString(" ")), // novel
      Doc(ts(2), 12L, ""),               // token-less → null hash, no probe
      // one appended token flips ~P(vote=0)·64 ≈ 8 bits of a 40-token
      // doc's simhash — usually past hamming 3; whatever the batch
      // operator decides, the stream must agree (the ≡ assert below)
      Doc(ts(3), 13L, base + " tail1"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(batch)
    val q = DocStreams.simhashIndexProbeStream(mem.toDF(), indexBands, maxHamming = 3)
      .writeStream.format("memory").queryName("graft_shprobe_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val evidence = spark.table("graft_shprobe_test")
    // distinct evidence pairs ≡ the batch operator's verified candidates
    // (stream rows are per matching band — at-least-once per pair)
    val streamPairs = evidence.select("index_id", "doc_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val batchPairs = Dedup.incrementalSimhashCandidates(
        indexBands, batch.map(d => (d.doc_id, d.text)).toDF("id", "text"),
        "id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamPairs === batchPairs, s"stream $streamPairs vs batch $batchPairs")
    assert(streamPairs.exists { case (ix, dc, _) => ix == 1L && dc == 10L },
      s"the planted near-copy did not flag: $streamPairs")
    assert(!streamPairs.exists(p => p._2 == 11L || p._2 == 12L), s"got $streamPairs")
    // stateless: the stream-static join ran no state store (recentProgress
    // keeps drained batches after AvailableNow terminates — non-vacuous)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"index probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming cdc probe: shifted copy flags via shared chunks, stateless, equals batch") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val base = (1 to 400).map(_ => "abcdefghij klmnop qrs"(rnd.nextInt(21))).mkString
    val corpus = Seq(
      (1L, base),
      (2L, (100 to 140).map(i => s"other$i").mkString(" "))).toDF("id", "text")
    val index = Dedup.cdcChunkTable(corpus, "id", "text", window = 8, modulus = 16)
    val batch = Seq(
      Doc(ts(0), 10L, "prepended header " + base), // shifted copy → flags vs 1
      Doc(ts(1), 11L, (300 to 340).map(i => s"fresh$i").mkString(" ")), // novel
      Doc(ts(2), 12L, ""))                         // empty → no chunks, no probe
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(batch)
    val q = DocStreams.cdcProbeStream(mem.toDF(), index, window = 8, modulus = 16)
      .writeStream.format("memory").queryName("graft_cdcprobe_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = spark.table("graft_cdcprobe_test")
      .select("doc_id", "index_id").as[(Long, Long)].collect().toSet
    assert(streamPairs.contains((10L, 1L)),
      s"shifted copy did not share a chunk: $streamPairs")
    assert(!streamPairs.exists(p => p._1 == 11L || p._1 == 12L), s"got $streamPairs")
    // batch twin: the arriving docs' chunk table joined on the index
    val batchPairs = Dedup
      .cdcChunkTable(batch.map(d => (d.doc_id, d.text)).toDF("id", "text"),
        "id", "text", window = 8, modulus = 16)
      .withColumnRenamed("id", "doc_id")
      .join(index, "ch")
      .select(col("doc_id"), col("id").as("index_id"))
      .as[(Long, Long)].collect().toSet
    assert(streamPairs === batchPairs, s"stream $streamPairs vs batch $batchPairs")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"cdc probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming semantic probe: cell-bounded cosine flags, stateless, equals batch") {
    import graft.streaming.DocStreams
    import graft.operators.{Dedup, Similarity}
    implicit val sqlCtx = spark.sqlContext
    def at(deg: Double) = {
      val r = math.toRadians(deg); Seq(math.cos(r), math.sin(r))
    }
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
    val corpus = Seq((1L, at(0)), (2L, at(30)), (3L, at(90))).toDF("vec_id", "v")
    val corpusAsg = Similarity.ivfAssign(corpus, cents)
    val arriving = Seq(
      (10L, at(5)),   // cell 0: cos vs 1 ≈ 0.996, vs 2 ≈ 0.906 → both flag
      (11L, at(88)),  // cell 1: cos vs 3 ≈ 0.999 → flags
      (12L, at(60)))  // cell 1: cos vs 3 = 0.866 < τ → clean
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    mem.addData(arriving)
    val q = DocStreams.semanticProbeStream(
        mem.toDF().toDF("vec_id", "v"), corpusAsg, cents, tau = 0.9)
      .writeStream.format("memory").queryName("graft_semprobe_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = spark.table("graft_semprobe_test")
      .select("probe_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(streamPairs === Set((10L, 1L), (10L, 2L), (11L, 3L)),
      s"got $streamPairs")
    // batch twin: the SAME join run on the static frame must agree
    val batchPairs = DocStreams.semanticProbeStream(
        arriving.toDF("vec_id", "v"), corpusAsg, cents, tau = 0.9)
      .select("probe_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(streamPairs === batchPairs)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"semantic probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming diff probe: added/changed/unchanged, stateless, equals batch diff minus removed") {
    import graft.streaming.DocStreams
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val snapshot = Seq((1L, "same text"), (2L, "old text"), (3L, "gone"))
      .toDF("doc_id", "text")
    val arriving = Seq((1L, "same text"), (2L, "new text"), (9L, "brand new"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    mem.addData(arriving)
    val q = DocStreams.diffProbeStream(mem.toDF().toDF("doc_id", "text"), snapshot)
      .writeStream.format("memory").queryName("graft_diffprobe_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("graft_diffprobe_test")
      .as[(Long, String)].collect().toSet
    assert(streamed === Set(
      (1L, "unchanged"), (2L, "changed"), (9L, "added")))
    // a stream observes arrivals, never absences: over a full replay of
    // v2 the probe equals the batch diff minus its removed rows
    val batch = Dedup.corpusDiff(snapshot, arriving.toDF("doc_id", "text"),
        "doc_id", "text")
      .filter(col("status") =!= "removed")
      .as[(Long, String)].collect().toSet
    assert(streamed === batch)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"diff probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming semantic probe at 300 centroids matches batch semanticDedup") {
    import graft.streaming.DocStreams
    import graft.operators.{Dedup, Similarity}
    implicit val sqlCtx = spark.sqlContext
    // 300 unit-circle centroids 1.2° apart — past the 256-centroid cap
    // the probe used to refuse, now one narrow kernel assignment
    def at(deg: Double) = {
      val r = math.toRadians(deg); Seq(math.cos(r), math.sin(r))
    }
    val cents = (0 until 300).map(i => (i.toLong, at(i * 1.2))).toDF("cid", "cv")
    // corpus vectors sit 0.1° off cells 0, 5, 10, …
    val corpus = (0 until 60).map(i => (i.toLong + 1, at(i * 6.0 + 0.1)))
    val corpusAsg = Similarity.ivfAssign(corpus.toDF("vec_id", "v"), cents)
    val arriving = Seq(
      (1001L, at(0.2)),    // cell 0, 0.1° from corpus 1 → flags
      (1002L, at(120.25)), // cell 100, 0.15° from corpus 21 → flags
      (1003L, at(3.6)),    // cell 3 holds no corpus vector → clean
      (1004L, at(12.5)))   // cell 10, 0.4° from corpus 3: below τ → clean
    val tau = 0.99999
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    mem.addData(arriving)
    val q = DocStreams.semanticProbeStream(
        mem.toDF().toDF("vec_id", "v"), corpusAsg, cents, tau)
      .writeStream.format("memory").queryName("graft_semprobe300_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = spark.table("graft_semprobe300_test")
      .select("probe_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(streamPairs === Set((1001L, 1L), (1002L, 21L)), s"got $streamPairs")
    // batch: semanticDedup over corpus ∪ arriving drops exactly the
    // arriving vectors the stream flagged (arriving ids are higher)
    val kept = Dedup.semanticDedup((corpus ++ arriving).toDF("vec_id", "v"), cents, tau)
      .select("vec_id").as[Long].collect().toSet
    assert(arriving.map(_._1).toSet -- kept === streamPairs.map(_._1))
    assert(corpus.map(_._1).toSet.subsetOf(kept))
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"semantic probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("nearDupFlags refuses maxHamming beyond the pigeonhole guarantee") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    intercept[IllegalArgumentException] {
      DocStreams.nearDupFlags(mem.toDF(), maxHamming = 4)
    }
  }

  test("streaming confusion matrix: incrementally maintained state " +
      "reads off the same kappa as a batch recount") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val rated = Seq.fill(20)(("x", "x")) ++ Seq.fill(5)(("x", "y")) ++
      Seq.fill(10)(("y", "x")) ++ Seq.fill(15)(("y", "y"))
    val snapshot = DocStreams.runBoundedConfusion(spark, rated)
    // the maintained matrix IS the batch matrix
    val m = snapshot.as[(String, String, Long)].collect().toSet
    assert(m === Set(("x", "x", 20L), ("x", "y", 5L),
      ("y", "x", 10L), ("y", "y", 15L)))
    // κ off the state == κ off a full recount (the 0.4 hand case)
    val streamK = TextAnalysis.kappaFromMatrix(snapshot)
      .select("kappa_micro").as[Long].head()
    val batchK = TextAnalysis
      .cohenKappa(rated.toDF("pred", "actual"), "pred", "actual")
      .select("kappa_micro").as[Long].head()
    assert(streamK === 400000L && batchK === streamK)
  }

  test("streaming quality gate: stateless, flag-identical to the batch gate") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val rules = TextAnalysis.QualityRules(
      minWords = 5, minStopHits = 1, maxTopWordMicro = 400000L)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      Doc(t0, 1L, "the quick brown fox jumps over a lazy dog tonight"),
      Doc(t0, 2L, "short"),                              // word floor
      Doc(t0, 3L, "spam spam spam spam the spam spam"),  // repetition
      Doc(t0, 4L, ""))                                   // empty
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.qualityGateStream(mem.toDF(), rules)
      .writeStream.format("memory").queryName("graft_qgate_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cols = Seq("doc_id", "n_words", "stop_hits", "mean_len_micro",
      "alpha_micro", "top_word_micro", "r_words", "r_mean_len", "r_alpha",
      "r_stop", "r_top_word", "keep")
    val streamed = spark.table("graft_qgate_test")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val batch = TextAnalysis.qualityGate(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text", rules)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(streamed === batch, s"stream $streamed vs batch $batch")
    assert(streamed.count(_.last == true) === 1) // only doc 1 survives
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"quality gate unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming cms novelty probe: stateless, conservative, hand-checked") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    // corpus state: 'aa' seen 10×, 'bb' 2×, 'cc' 1× — the grid a
    // pipeline maintains incrementally (write side: the micro-batch
    // maintenance spec in SketchesSpec)
    val corpus = (Seq.fill(10)("aa") ++ Seq.fill(2)("bb") ++ Seq("cc"))
      .map(("all", _)).toDF("g", "item")
    val grid = Sketches.cmsSketch(corpus, "item", Seq("g"))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      Doc(t0, 1L, "aa aa bb"),      // all familiar at rareMax 2: aa>2, bb<=2
      Doc(t0, 2L, "aa zz yy cc"),   // zz/yy unseen (est 0), cc rare
      Doc(t0, 3L, ""))              // empty → 0/0
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.cmsNoveltyStream(mem.toDF(), grid, rareMax = 2L)
      .writeStream.format("memory").queryName("graft_cms_novelty_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_cms_novelty_test")
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 3, 1L, 333333L)), out)  // bb (2 ≤ 2) is rare
    assert(out(2L) === ((2L, 4, 3L, 750000L)), out)  // zz, yy, cc rare
    assert(out(3L) === ((3L, 0, 0L, 0L)), out)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"cms novelty probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming mg hot-token probe: stateless, hand-checked, " +
      "stream ≡ batch") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    // corpus state: MG summary at capacity 2 over a 3-item stream —
    // 'aa' (10) and 'bb' (5) survive minus the boundary count 1
    val corpus = (Seq.fill(10)("aa") ++ Seq.fill(5)("bb") ++ Seq("cc"))
      .toDF("item")
    val summary = Sketches.heavyHitters(corpus, "item", Seq.empty, 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(summary.toSet === Set(("aa", 9L), ("bb", 4L)), summary)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      Doc(t0, 1L, "aa aa bb zz"),   // 3 of 4 occurrences hot
      Doc(t0, 2L, "cc zz"),         // cc was cut — guaranteed-hot only
      Doc(t0, 3L, ""))              // empty → 0/0
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.mgHotStream(mem.toDF(), summary)
      .writeStream.format("memory").queryName("graft_mg_hot_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_mg_hot_test")
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4, 3L, 750000L)), out)
    assert(out(2L) === ((2L, 2, 0L, 0L)), out)
    assert(out(3L) === ((3L, 0, 0L, 0L)), out)
    // stream ≡ batch: the same function over a batch frame (q147's path)
    val batch = DocStreams.mgHotStream(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), summary)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(batch === out)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"mg hot probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming typo probe: stateless stream-static deletion-key join, " +
      "exactly-once emission per verified pair, stream ≡ batch") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // vocabulary: 'cat' (frequent), 'cart', 'aaa' (the multi-way
    // deletion-coincidence shape), 'dog'
    val vocab = (Seq.fill(5)("cat") ++ Seq("cart", "aaa", "aaa", "dog"))
      .toDF("item")
    val index = Dedup.deletionKeyIndex(vocab, "item")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      // 'cut' → cat (substitution); 'cats' → cat (insertion);
      // 'aa' → aaa shares keys {aa} ONCE despite three identical
      // deletions of aaa; 'ba' → nothing at distance 1 in vocab;
      // 'cat' itself is IN vocab → tok = item filtered, but 'cart'
      // still suggests (distance 1)
      Doc(t0, 1L, "cut cats aa ba"),
      Doc(t0, 2L, "cat"))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
    mem.addData(docs)
    val q = DocStreams.typoProbeStream(mem.toDF(), index)
      .writeStream.format("memory").queryName("graft_typo_probe_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_typo_probe_test")
      .as[(Long, String, String, Long)].collect()
    // exactly-once: no (doc, tok, suggestion) appears twice
    assert(out.length === out.distinct.length, out.toSeq)
    val byTok = out.groupBy(r => (r._1, r._2))
    assert(byTok((1L, "cut")).map(_._3).toSet === Set("cat"))
    assert(byTok((1L, "cats")).map(_._3).toSet === Set("cat"))
    assert(byTok((1L, "aa")).map(_._3).toSet === Set("aaa"))
    assert(!byTok.contains((1L, "ba")))
    assert(byTok((2L, "cat")).map(_._3).toSet === Set("cart"))
    // frequency carried for fold-toward-frequent policies
    assert(byTok((1L, "cut")).head._4 === 5L)
    // stream ≡ batch: the same function over a batch frame
    val batch = DocStreams.typoProbeStream(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), index)
      .as[(Long, String, String, Long)].collect()
    assert(batch.sorted.toSeq === out.sorted.toSeq)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "no progress recorded — nothing was asserted")
    batches.foreach(p => assert(p.stateOperators.isEmpty,
      s"typo probe unexpectedly stateful: ${p.stateOperators.mkString(",")}"))
  }

  test("streaming waterfill drift probe: allocations read off maintained " +
      "per-source token state equal a batch recompute at every snapshot, " +
      "and the level moves as mass arrives") {
    import graft.streaming.DocStreams
    import graft.streaming.DocStreams.Doc
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def doc(id: Long, src: Int, n: Int) =
      (Doc(t0, id, Seq.fill(n)("w").mkString(" ")), s"s$src")
    // wave 1: s1 = 30 tokens, s2 = 10; wave 2: s2 surges to 110
    val wave1 = Seq(doc(1L, 1, 10), doc(2L, 1, 20), doc(3L, 2, 10))
    val wave2 = Seq(doc(4L, 2, 100))
    def waterfillOf(strata: org.apache.spark.sql.DataFrame) = Sampling
      .epochWaterfill(
        strata.withColumn("cap_micro", lit(5000000L)),
        "source", "n_tokens", "cap_micro", budgetTokens = 60L)
      .select("source", "n_tokens", "epochs_micro", "alloc_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Doc, String)]
    val q = DocStreams.sourceTokenStream(
        mem.toDF().select(col("_1.text").as("text"), col("_2").as("source")))
      .writeStream.format("memory").queryName("graft_srctok_test")
      .outputMode("complete")
      .start()
    mem.addData(wave1); q.processAllAvailable()
    val snap1 = waterfillOf(spark.table("graft_srctok_test"))
    mem.addData(wave2); q.processAllAvailable()
    val snap2 = waterfillOf(spark.table("graft_srctok_test"))
    q.stop()
    // state-waterfill ≡ batch-waterfill at each snapshot (zero re-scan)
    def batchStrata(docs: Seq[(Doc, String)]) = docs
      .map { case (d, s) => (s, d.text.split(" ").length.toLong) }
      .toDF("source", "tok").groupBy("source")
      .agg(sum("tok").as("n_tokens"))
    assert(snap1 === waterfillOf(batchStrata(wave1)))
    assert(snap2 === waterfillOf(batchStrata(wave1 ++ wave2)))
    // drift is OBSERVABLE: wave 1's budget (60 over 40 tokens) sits at
    // level 1.5 epochs; s2's surge drops the level — s1's allocation
    // must shrink between readings
    val a1 = snap1.collect { case ("s1", _, _, a) => a }.head
    val a2 = snap2.collect { case ("s1", _, _, a) => a }.head
    assert(a1 > a2, s"s1 allocation did not shrink: $a1 -> $a2")
    // the maintained state IS the per-source sum
    assert(snap2.map(t => t._1 -> t._2).toMap ===
      Map("s1" -> 30L, "s2" -> 110L))
  }
}
