package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

class TextFunctionsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("rollingHash is the documented polynomial (engine-portable)") {
    // h("AB") = (0*31+65)*31+66 = 2081
    val h = Seq("AB").toDF("t").select(rollingHash(col("t"))).as[Long].head()
    assert(h === 2081L)
    val empty = Seq("").toDF("t").select(rollingHash(col("t"))).as[Long].head()
    assert(empty === 0L)
  }

  test("wsTokens handles blank and multi-space text") {
    val r = Seq("  a  b c ", "", "   ").toDF("t")
      .select(tokenCount(col("t"))).as[Int].collect()
    assert(r.toSeq === Seq(3, 0, 0))
  }

  test("bpe tokenizer counts letter runs, digit runs, punctuation") {
    val r = Seq("ab12 cd, e!").toDF("t")
      .select(bpeTokenCount(col("t"))).as[Int].head()
    // ab | 12 | cd | , | e | !
    assert(r === 6)
  }

  test("wordNgrams produces sliding windows") {
    val r = Seq("a b c d").toDF("t")
      .select(wordNgrams(wsTokens(col("t")), 3)).as[Seq[String]].head()
    assert(r === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(wordNgrams(wsTokens(col("t")), 3)).as[Seq[String]].head()
    assert(short === Seq.empty)
  }

  test("cleanAscii strips non-printable-ascii, keeps structure") {
    val r = Seq("héllo wörld").toDF("t")
      .select(cleanAscii(col("t"))).as[String].head()
    assert(r === "hllo wrld")
  }

  test("minhash signature: identical text → identical signature") {
    val df = Seq(("a", "x y z w v u t s"), ("b", "x y z w v u t s"),
      ("c", "p q r s t u v w")).toDF("id", "t")
      .select(col("id"), minhashSignature(shingleHashes(col("t"), 3)).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m("a") === m("b"))
    assert(m("a") !== m("c"))
    assert(m("a").length === MinhashA.size)
  }

  test("redactPii replaces emails and phones with typed tags") {
    import graft.operators.TextAnalysis._
    val df = Seq(
      "mail me at jane.doe+x@sub.example.org today",
      "call 555-867-5309 or 555.123.4567",
      "user42@ex.com then 555-100-2000",
      "no pii here").toDF("t")
      .select(col("t"), redactPii(col("t")).as("r"),
        emailCount(col("t")).as("ne"), phoneCount(col("t")).as("np"))
    val rows = df.collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3)))
    assert(rows(0) === ("mail me at <EMAIL> today", 1, 0))
    assert(rows(1) === ("call <PHONE> or <PHONE>", 0, 2))
    assert(rows(2) === ("<EMAIL> then <PHONE>", 1, 1))
    assert(rows(3) === ("no pii here", 0, 0))
  }

  test("redaction order: digit-bearing email local parts survive the phone pass") {
    import graft.operators.TextAnalysis._
    // 555-867-5309@ex.com is an email; phone regex must not half-eat it
    val r = Seq("send to 555-867-5309@ex.com now").toDF("t")
      .select(redactPii(col("t"))).as[String].head()
    assert(r === "send to <EMAIL> now")
  }

  test("tokenHashes kernel: element-for-element equal to the transform HOF, codegen'd") {
    // the kernel replaced transform(tokens, rollingHash) on the per-doc
    // stream path (§8's CodegenFallback lesson) — same values required,
    // including null elements, unicode, empties
    val df = Seq(
      ("a", Seq("alpha", "beta", "beta", "γράμμα")),
      ("b", Seq("", "x")),
      ("c", Seq.empty[String])).toDF("id", "toks")
      .union(Seq(("d", null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
      .withColumn("toks",
        when(col("id") === "a",
          concat(col("toks"), array(lit(null).cast("string"))))
          .otherwise(col("toks")))
    val both = df.select(col("id"),
      tokenHashes(col("toks")).as("kernel"),
      transform(col("toks"), t => rollingHash(t)).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"mismatch for id=${r.getString(0)}")
    }
    // and the kernel stays inside WholeStageCodegen (the '*(n)' prefix),
    // which the HOF it replaced never did (repartition keeps the local
    // fixture from being constant-folded into a LocalTableScan)
    val q = df.repartition(2).select(tokenHashes(col("toks")).as("h"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("token_hashes")).get
    assert(line.trim.matches("""^\+?-?\s*\*\(\d+\).*"""), plan)
  }

  test("cdcChunkHashes kernel: cut-for-cut equal to the direct-substring reference") {
    import org.apache.spark.unsafe.types.UTF8String
    // quadratic reference: window hash = rollHash of the substring,
    // cut after 1-based i ∈ [w, n−1] when hash % m == 0
    def roll(x: String): Long =
      x.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    def slow(s: String, w: Int, m: Int): Seq[Long] = {
      val n = s.length
      if (n == 0) return Seq.empty
      val cuts = (w until n).filter(i => roll(s.substring(i - w, i)) % m == 0)
      val starts = 0 +: cuts
      val ends = cuts :+ n
      starts.zip(ends).map { case (a, b) => roll(s.substring(a, b)) }
    }
    def fast(s: String, w: Int, m: Int): Seq[Long] =
      graft.expressions.StringExprs
        .cdcChunkHashesK(UTF8String.fromString(s), w, m)
        .toLongArray().toSeq
    val rnd = new scala.util.Random(42)
    def randText(len: Int): String =
      (1 to len).map(_ => "abcdefghij klmnop qrs"(rnd.nextInt(21))).mkString
    val fixtures = Seq("", "abc", "abcdefgh", "the quick brown fox " * 10) ++
      (1 to 20).map(_ => randText(1 + rnd.nextInt(400)))
    for (s <- fixtures; (w, m) <- Seq((4, 4), (8, 16), (8, 32)))
      assert(fast(s, w, m) === slow(s, w, m), s"w=$w m=$m len=${s.length}")
  }

  test("cdcChunkHashes: chunking re-syncs after a prefix insertion, codegen'd") {
    import org.apache.spark.unsafe.types.UTF8String
    def chunks(s: String): Seq[Long] =
      graft.expressions.StringExprs
        .cdcChunkHashesK(UTF8String.fromString(s), 8, 16).toLongArray().toSeq
    val rnd = new scala.util.Random(7)
    val t = (1 to 400).map(_ => "abcdefghij klmnop qrs"(rnd.nextInt(21))).mkString
    val c1 = chunks(t)
    val c2 = chunks("xy z" + t)
    assert(c1.length > 5, s"fixture should chunk densely, got ${c1.length}")
    // every cut of t persists (shifted) in the prefixed text, so the
    // chunk lists share all chunks after t's FIRST boundary — only the
    // first chunk absorbs the shift
    val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(common >= c1.length - 1, s"resync failed: $common of ${c1.length}")
    // and the expression stays inside WholeStageCodegen
    val df = Seq(("a", t)).toDF("id", "text").repartition(2)
      .select(graft.expressions.StringExprs
        .cdcChunkHashes(col("text"), 8, 16).as("h"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("cdc_chunk_hashes")).get
    assert(line.trim.matches("""^\+?-?\s*\*\(\d+\).*"""), plan)
  }

  test("ngramHashes kernel: window-for-window equal to the wordNgrams+rollingHash HOFs") {
    import graft.expressions.StringExprs.ngramHashes
    // the kernel replaced transform(wordNgrams(toks, n), rollingHash) —
    // the last interpreted HOF pair on the per-doc shingle paths — and
    // must match it bit for bit, including the skip-null concat_ws join
    val df = Seq(
      ("a", Seq("alpha", "beta", "gamma", "delta")),
      ("b", Seq("x", "y")),           // exactly n for n=2, below n for n=3
      ("c", Seq("only")),
      ("d", Seq.empty[String]),
      ("e", Seq("sp ace", "töken", "")) // internal space, unicode, empty token
      ).toDF("id", "toks")
      .union(Seq(("f", null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
      .withColumn("toks",
        when(col("id") === "a",
          concat(col("toks"), array(lit(null).cast("string"))))
          .otherwise(col("toks")))
    for (n <- Seq(1, 2, 3)) {
      val both = df.select(col("id"),
        ngramHashes(col("toks"), n).as("kernel"),
        transform(wordNgrams(col("toks"), n), s => rollingHash(s)).as("hof"))
      both.collect().foreach { r =>
        assert(r.isNullAt(1) === r.isNullAt(2), s"null drift id=${r.getString(0)} n=$n")
        if (!r.isNullAt(1))
          assert(r.getSeq[Any](1) === r.getSeq[Any](2),
            s"mismatch id=${r.getString(0)} n=$n")
      }
    }
    // shingleHashes end-to-end: kernel formulation ≡ the old HOF chain
    val texts = Seq("The quick brown fox jumps over the lazy dog",
      "  spaced   out\ttokens\nhere  ", "", "one two", "unicode σκύλος here")
      .toDF("text")
    val cmp = texts.select(
      shingleHashes(col("text"), 3).as("kernel"),
      array_distinct(transform(
        wordNgrams(wsTokens(lower(cleanAscii(col("text")))), 3),
        s => rollingHash(s))).as("hof"))
    cmp.collect().foreach(r =>
      assert(r.getSeq[Any](0) === r.getSeq[Any](1)))
  }

  test("bloomHitCount kernel: exact hit counts, null array stays null, codegen'd") {
    import graft.expressions.BloomExprs.bloomHitCount
    // a bloom over a known long set: members ALWAYS hit (no false
    // negatives); count equals the HOF formulation it replaced
    val members = Seq(10L, 20L, 30L, 40L)
    val bloom = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.001)
      members.foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val df = Seq(
      ("a", Seq(10L, 20L, 999L)), // 2 members + 1 non-member
      ("b", Seq(7777L, 8888L)),
      ("c", Seq.empty[Long]))
      .toDF("id", "hs")
      .union(Seq(("d", null.asInstanceOf[Seq[Long]])).toDF("id", "hs"))
    val got = df.select(col("id"), bloomHitCount(bloom, col("hs")).as("hits"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got("a").get >= 2) // the two members must hit; 999 may false-positive
    assert(got("c") === Some(0))
    assert(got("d") === None, "null shingle array must stay null (doc gets dropped)")
    // at fpp 0.001 the two non-member probes of doc b virtually never
    // both hit — but never assert on luck; only bound it
    assert(got("b").get <= 2)
    // codegen'd: the expression sits inside a WholeStageCodegen stage
    val q = df.repartition(2).select(bloomHitCount(bloom, col("hs")).as("h"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("bloom_hit_count")).get
    assert(line.trim.matches("""^\+?-?\s*\*\(\d+\).*"""), plan)
  }

  test("simhash: near-dup texts land at small hamming distance") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base + " extra1 extra2"
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val df = Seq(("a", base), ("b", near), ("c", far)).toDF("id", "t")
    val sh = graft.operators.Dedup.simhashTable(df, "id", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sh("a"), sh("b")) < ham(sh("a"), sh("c")))
    assert(ham(sh("a"), sh("b")) <= 6)
  }

  test("bm25TopK matches the hand-computed Robertson score chain") {
    import graft.operators.TextAnalysis.bm25TopK
    // N=4, avgdl=3, df(spark)=df(join)=2 over candidates → idf = 1.0 each
    val docs = Seq(
      (1L, "spark spark join"),    // dl=3: 2·2.2/(2+1.2·1.0)=1.375; +1·2.2/2.2=1.0
      (2L, "spark window"),        // dl=2: 2.2/(1+1.2·0.75)=2.2/1.9
      (3L, "other words here"),    // no query term → never a candidate
      (4L, "join join join join") // dl=4: 4·2.2/(4+1.2·1.25)=1.6
    ).toDF("doc_id", "text")
    val out = bm25TopK(docs, "doc_id", "text", Seq("spark", "join"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2375000L), (4L, 1600000L), (2L, 1157894L)))
  }

  test("bm25TopK breaks score ties by ascending id and honors k") {
    import graft.operators.TextAnalysis.bm25TopK
    val docs = Seq((7L, "alpha beta"), (3L, "alpha beta"), (5L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = bm25TopK(docs, "doc_id", "text", Seq("alpha"), k = 2)
      .as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(3L, 5L), s"identical docs tie by id: $out")
    assert(out.map(_._2).distinct.size === 1)
  }

  test("bm25 rejects non-canonical query terms loudly (no silent zero scores)") {
    import graft.operators.TextAnalysis._
    val docs = Seq((1L, "spark join")).toDF("doc_id", "text")
    // tokens are lower(cleanAscii(...)) — "Spark" can never match one;
    // the old behavior scored it silently as an all-zero term
    for (bad <- Seq("Spark", "two words", "café", ""))
      intercept[IllegalArgumentException] {
        bm25TopK(docs, "doc_id", "text", Seq(bad), k = 3)
      }
    intercept[IllegalArgumentException] {
      bm25TopKIndexed(termPostings(docs, "doc_id", "text"),
        corpusStats(docs, "doc_id", "text"), Seq("Spark"), k = 3)
    }
  }

  test("bm25TopKIndexed over termPostings equals the direct bm25TopK") {
    import graft.operators.TextAnalysis._
    // varied lengths, repeats, a term-less doc (counts toward N/avgdl
    // on BOTH paths), and score ties
    val docs = Seq(
      (1L, "spark spark join"), (2L, "spark window"),
      (3L, "other words here entirely"), (4L, "join join join join"),
      (5L, ""), (6L, "spark spark join"))
      .toDF("doc_id", "text")
    // ≥3 terms: the idf CASE chain once broke only past two branches
    val terms = Seq("spark", "join", "window")
    val direct = bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .as[(Long, Long)].collect().toSeq
    val indexed = bm25TopKIndexed(
        termPostings(docs, "doc_id", "text"),
        corpusStats(docs, "doc_id", "text"), terms, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(indexed === direct, s"indexed $indexed vs direct $direct")
    assert(direct.nonEmpty && direct.map(_._1).contains(6L))
  }

  test("bm25 indexed probe: term filter pushes down to the postings scan") {
    import graft.operators.TextAnalysis._
    val docs = Seq((1L, "spark join"), (2L, "window lead"), (3L, "spark"))
      .toDF("doc_id", "text")
    val dir = TempDirs.create("graft_bm25_idx").toString
    termPostings(docs, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val q = bm25TopKIndexed(spark.read.parquet(dir),
      corpusStats(docs, "doc_id", "text"), Seq("spark"), k = 5)
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the whole point of the index: a query must read its posting
    // lists, not the corpus — the term predicate reaches the scan
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(term,spark)")
        || p.contains("In(term"),
      s"term filter did not push down:\n$p")
    assert(q.as[(Long, Long)].collect().map(_._1).toSet === Set(1L, 3L))
  }

  test("bm25TopK: an all-miss query returns empty, like its indexed twin") {
    import graft.operators.TextAnalysis._
    val docs = Seq((1L, "spark join"), (2L, "window lead"))
      .toDF("doc_id", "text")
    // no doc contains the term: the df aggregate has no input rows —
    // this used to NPE a driver-side getLong on the null sums
    val direct = bm25TopK(docs, "doc_id", "text", Seq("xyzzy"), k = 5)
      .as[(Long, Long)].collect().toSeq
    val indexed = bm25TopKIndexed(
        termPostings(docs, "doc_id", "text"),
        corpusStats(docs, "doc_id", "text"), Seq("xyzzy"), k = 5)
      .as[(Long, Long)].collect().toSeq
    assert(direct.isEmpty && indexed.isEmpty)
  }

  test("bm25TopK scores in ONE pass over the candidates: tf exchange reused by the df side") {
    import graft.operators.TextAnalysis.bm25TopK
    val docs = Seq((1L, "spark join"), (2L, "spark"), (3L, "lead"))
      .toDF("doc_id", "text").repartition(2)
    val q = bm25TopK(docs, "doc_id", "text", Seq("spark", "join"), k = 5)
    q.collect() // materialize so AQE finalizes the reused exchanges
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
        || p.contains("StageReuse"),
      s"df aggregate did not reuse the tf exchange:\n$p")
  }

  test("bm25TopK rejects empty and duplicate term lists") {
    import graft.operators.TextAnalysis.bm25TopK
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      bm25TopK(docs, "doc_id", "text", Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      bm25TopK(docs, "doc_id", "text", Seq("a", "a"), k = 5)
    }
  }

  test("repetitionScreens: hand-replayed line/ngram battery, overlap " +
      "coverage counted once, empty doc zeros") {
    val docs = Seq(
      // lines: "x y"×2 + "z" → dup 1/3, dupch 3/7; toks x y x y z:
      // top2 "x y" 2×2=4/5, top3 all-once 3/5
      (1L, "x y\nx y\nz"),
      // a b c d e f g h ×2 + a (17 toks): dup 8-grams cover ALL
      // positions (pairs (0,8),(1,9) union to 0..16)
      (2L, "a b c d e f g h a b c d e f g h a"),
      (3L, ""),
      // p×9: self-overlapping run — top2 coverage 8·2=16 EXCEEDS the
      // 9 chars (the paper's count·len spelling; threshold, not a
      // probability), dup-8-gram positional coverage stays capped at
      // 1.0 because positions dedup
      (4L, "p p p p p p p p p"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionScreens(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out(0) === ((1L, 3L, 5L, 333333L, 428571L, 800000L, 600000L, 0L)))
    val d2 = out(1)
    assert(d2._2 === 1L && d2._3 === 17L)
    assert(d2._4 === 0L, "single line: no dup lines")
    assert(d2._6 === 235294L, "top2 'a b' 2 occurrences × 2 chars / 17")
    assert(d2._8 === 1000000L, "dup 8-grams cover every position")
    assert(out(2) === ((3L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    val d4 = out(3)
    assert(d4._6 === 1777777L, "overlapping top-2-gram exceeds 1e6")
    assert(d4._7 === 2333333L)
    assert(d4._8 === 1000000L, "overlap positions counted once")
  }

  test("perplexityBuckets: exact terciles at unit bins, uneven split " +
      "rounds up the head, threshold bin goes LOW, quantization, " +
      "per-source independence, partitioning invariance") {
    def mk(rows: Seq[(String, Long, Long)]) =
      rows.toDF("source", "doc_id", "score")
    // source A: scores 1..9 at unit bins → exact terciles
    // source B: scores 1..10 → ceil thresholds: head 4, middle 3, tail 3
    val rows = (1L to 9L).map(i => ("A", i, i)) ++
      (101L to 110L).map(i => ("B", i, i - 100L))
    val out = TextAnalysis
      .perplexityBuckets(mk(rows), "source", "score", 3, binWidth = 1L)
      .select($"source", $"doc_id", $"bucket")
      .as[(String, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    (1L to 3L).foreach(i => assert(out(("A", i)) === 0, i))
    (4L to 6L).foreach(i => assert(out(("A", i)) === 1, i))
    (7L to 9L).foreach(i => assert(out(("A", i)) === 2, i))
    (101L to 104L).foreach(i => assert(out(("B", i)) === 0, i))
    (105L to 107L).foreach(i => assert(out(("B", i)) === 1, i))
    (108L to 110L).foreach(i => assert(out(("B", i)) === 2, i))
    // quantized: binWidth 5 over 1..10 → bins 0(1-4) 1(5-9) 2(10);
    // t1 = bin 0, t2 = bin 1 → middle holds the 5-doc bin
    val q = TextAnalysis
      .perplexityBuckets(mk((1L to 10L).map(i => ("A", i, i))), "source",
        "score", 3, binWidth = 5L)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    (1L to 4L).foreach(i => assert(q(i) === 0, i))
    (5L to 9L).foreach(i => assert(q(i) === 1, i))
    assert(q(10L) === 2)
    // degenerate: one bin → everyone head
    val one = TextAnalysis
      .perplexityBuckets(mk(Seq(("A", 1L, 7L), ("A", 2L, 7L))), "source",
        "score", 3, binWidth = 100L)
      .select($"bucket").as[Int].collect()
    assert(one.toSeq === Seq(0, 0))
    // partitioning invariance
    val a = TextAnalysis
      .perplexityBuckets(mk(rows), "source", "score", 3, 1L)
      .select($"source", $"doc_id", $"bucket").collect().map(_.toSeq).toSet
    val b = TextAnalysis
      .perplexityBuckets(mk(rows).repartition(7), "source", "score", 3, 1L)
      .select($"source", $"doc_id", $"bucket").collect().map(_.toSeq).toSet
    assert(a === b)
    // signed scores bin by FLOOR division: −150k and +150k at width
    // 200k land in DIFFERENT bins (truncation would fuse them into a
    // double-width bin 0) — terciles over {−3.5w, −0.5w, +0.5w} tiers
    // cleanly
    val neg = TextAnalysis
      .perplexityBuckets(
        mk(Seq(("A", 1L, -700000L), ("A", 2L, -150000L),
          ("A", 3L, 150000L))), "source", "score", 3, 200000L)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(neg === Map(1L -> 0, 2L -> 1, 3L -> 2), neg)
  }

  test("qualityGate: every rule flips on its own planted failure") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val good = "the quick brown fox of means and jumps to over a dog " +
      "is lazy but bright stars shine above green hills every night ok"
    val docs = Seq(
      1L -> good,                                  // passes every rule
      2L -> "the of and is short",                 // fails r_words only
      3L -> good.replace("quick", "ab"),           // still passes (len in band)
      // mean word length too long: 24-char tokens
      4L -> (Seq.fill(30)("abcdefghijklmnopqrstuvwx").mkString(" ") +
        " the of"),
      // words are digits → alpha fraction 2/32 fails (and the repeated
      // digit token trips the repetition screen too); stop still 2
      5L -> (Seq.fill(30)("12345").mkString(" ") + " the of"),
      // no required stopwords at all
      6L -> Seq.tabulate(30)(i => s"w$i xx$i").mkString(" "),
      // one word covers 28/32 > 12% → repetition screen fails
      7L -> (Seq.fill(28)("spam").mkString(" ") + " the of and is"),
      8L -> "")                                    // empty: everything fails
      .toDF("doc_id", "text")
    val rules = TextAnalysis.QualityRules(
      minWords = 20, minStopHits = 2, maxTopWordMicro = 120000L)
    val out = TextAnalysis.qualityGate(docs, "doc_id", "text", rules)
      .select("doc_id", "r_words", "r_mean_len", "r_alpha", "r_stop",
        "r_top_word", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, true, true, true, true, true, true)))
    assert(out(2L) === ((2L, false, true, true, true, false, false)))
    assert(out(3L)._7 === true)
    assert(out(4L)._3 === false && out(4L)._7 === false)
    assert(out(5L) === ((5L, true, true, false, true, false, false)))
    assert(out(6L)._5 === false && out(6L)._7 === false)
    assert(out(7L)._6 === false && out(7L)._7 === false)
    assert(out(8L) === ((8L, false, false, false, false, false, false)))
    // ratio columns: exact micro floors
    val m = TextAnalysis.qualityGate(docs, "doc_id", "text", rules)
      .filter($"doc_id" === 7L)
      .select("n_words", "top_word_micro").as[(Long, Long)].head()
    assert(m === ((32L, 875000L)))  // 28/32 = 0.875
  }

  test("rrfFuse: hand-computed fusion, per-query isolation, absent-" +
      "candidate convention, id tiebreak") {
    // query 1: ranker A ranks (10, 11, 12); ranker B ranks (11, 10);
    // doc 12 appears ONLY in A (absent = contributes 0 from B).
    // kConst = 60 → scores: 10: 1e6/61 + 1e6/62 = 16393 + 16129 = 32522
    //                        11: 1e6/62 + 1e6/61 = 32522 (exact TIE → id)
    //                        12: 1e6/63 = 15873
    // query 2 must not leak into query 1's window.
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (2L, 99L, 1))
      .toDF("qid", "id", "rnk")
    val b = Seq((1L, 11L, 1), (1L, 10L, 2), (2L, 98L, 1))
      .toDF("qid", "id", "rnk")
    val out = graft.operators.TextAnalysis
      .rrfFuse(Seq(a, b), kConst = 60, topK = 2)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    assert(out((1L, 1)) === ((10L, 32522L)), out)  // tie broken by id
    assert(out((1L, 2)) === ((11L, 32522L)), out)
    // query 2: 98 and 99 both hold rank 1 in their one ranking — an
    // exact cross-ranker tie, broken by id
    assert(out((2L, 1)) === ((98L, 16393L)), out)
    assert(out((2L, 2)) === ((99L, 16393L)), out)
    assert(out.size === 4)  // topK = 2 cut doc 12
  }

  test("rrfFuseWeighted: unit weights ≡ plain RRF; a 2x dense arm flips " +
      "a close fusion the way the calibration knob should") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "id", "rnk")
    val b = Seq((1L, 11L, 1), (1L, 10L, 3)).toDF("qid", "id", "rnk")
    val plain = graft.operators.TextAnalysis
      .rrfFuse(Seq(a, b), kConst = 60, topK = 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    val unit = graft.operators.TextAnalysis
      .rrfFuseWeighted(Seq((a, 1000000L), (b, 1000000L)), 60, 2)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(plain === unit)
    // plain: 10 → 1e6/61 + 1e6/63 = 16393+15873 = 32266;
    //        11 → 1e6/62 + 1e6/61 = 16129+16393 = 32522 → 11 wins.
    // doubling ranker a: 10 → 2·16393+15873 = 48659;
    //        11 → 2·16129+16393 = 48651 → 10 wins.
    assert(plain.find(_._4 == 1).get._2 === 11L)
    val boosted = graft.operators.TextAnalysis
      .rrfFuseWeighted(Seq((a, 2000000L), (b, 1000000L)), 60, 2)
      .as[(Long, Long, Long, Int)].collect()
      .find(_._4 == 1).get
    assert(boosted._2 === 10L && boosted._3 === 48659L, boosted)
  }

  test("luhn card detection: checksum gates the count, maximal runs " +
      "defeat greedy bites, redaction cuts exactly the valid spans") {
    import graft.expressions.StringExprs.{luhnCardCount, redactLuhnCards}
    val df = Seq(
      // known-valid 16-digit PAN
      ("a", "pay 4532015112830366 now"),
      // same digits, last flipped → checksum fails
      ("b", "pay 4532015112830367 now"),
      // 13 digits, invalid; and a short run that can never be a card
      ("c", "num 1234567890123 and 555-1234"),
      // a valid card EMBEDDED in a 26-digit run: ONE maximal run,
      // not card-like — greedy {13,19} regex would false-positive
      ("d", "id 45320151128303661234567890 end"),
      // two cards in one doc
      ("e", "4532015112830366 then 4532015112830366"),
      ("f", "no digits at all"))
      .toDF("id", "t")
      .select(col("id"), luhnCardCount(col("t")).as("n"),
        redactLuhnCards(col("t")).as("r"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getString(2))))
      .toMap
    assert(df("a") === ((1, "pay <CC> now")))
    assert(df("b") === ((0, "pay 4532015112830367 now")))
    assert(df("c") === ((0, "num 1234567890123 and 555-1234")))
    assert(df("d") === ((0, "id 45320151128303661234567890 end")))
    assert(df("e") === ((2, "<CC> then <CC>")))
    assert(df("f") === ((0, "no digits at all")))
  }

  test("cohenKappa: hand-computed chance correction, worse-than-chance " +
      "negative, constant raters defined 0") {
    import spark.implicits._
    def expand(cells: ((String, String), Int)*) =
      cells.flatMap { case ((a, b), c) => Seq.fill(c)((a, b)) }
        .toDF("ra", "rb")
    // N=50, D=35, S = 25·30 + 25·20 = 1250 → κ = 500/1250 = 0.4
    val k1 = TextAnalysis
      .cohenKappa(expand(("x", "x") -> 20, ("x", "y") -> 5,
        ("y", "x") -> 10, ("y", "y") -> 15), "ra", "rb")
      .select("n", "n_agree", "pe_mass", "kappa_micro")
      .as[(Long, Long, Long, Long)].head()
    assert(k1 === ((50L, 35L, 1250L, 400000L)))
    // perfect systematic disagreement → κ = −1
    val k2 = TextAnalysis
      .cohenKappa(expand(("x", "y") -> 10, ("y", "x") -> 10), "ra", "rb")
      .select("kappa_micro").as[Long].head()
    assert(k2 === -1000000L)
    // both raters constant: p_e = 1 → defined 0, not a divide error
    val k3 = TextAnalysis
      .cohenKappa(expand(("x", "x") -> 7), "ra", "rb")
      .select("kappa_micro").as[Long].head()
    assert(k3 === 0L)
  }

  test("calibrationReport: per-bin confidence vs accuracy, mass-weighted " +
      "ECE, top-edge score lands in the last bin") {
    import spark.implicits._
    val df = (
      Seq.fill(1)((250000L, 1L)) ++ Seq.fill(3)((250000L, 0L)) ++
      Seq.fill(4)((750000L, 1L)) ++
      Seq((1000000L, 1L)))                 // score 1.0 → capped into bin 1
      .toDF("score_micro", "label")
    val bins = TextAnalysis
      .calibrationReport(df, "score_micro", "label", bins = 2)
      .select("bin", "n", "conf_micro", "acc_micro", "gap_micro", "ece_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // bin 0: 4 rows at 0.25 conf, 1/4 accurate → gap 0
    assert(bins(0L) === ((0L, 4L, 250000L, 250000L, 0L, 111111L)))
    // bin 1: 5 rows (incl. the capped 1.0), conf (4·75e4+1e6)/5 = 8e5,
    // acc 1.0 → gap 2e5
    assert(bins(1L)._2 === 5L && bins(1L)._3 === 800000L)
    assert(bins(1L)._4 === 1000000L && bins(1L)._5 === 200000L)
    // ECE = (4·0 + 5·200000)/9 = 111111 (floored)
    assert(bins(0L)._6 === 111111L && bins(1L)._6 === 111111L)
  }

  test("bigramLmNll: add-one bigram scores replay by hand, pruning " +
      "flattens to the backoff, token-less docs absent") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // reference "a b a c": ca = {a:2, b:1, c:1}, V = 3 + 1 = 4;
    // bigrams {a b, b a, a c} each once
    val ref = Seq(0L -> "a b a c").toDF("doc_id", "text")
    val docs = Seq(
      1L -> "a b x",  // "a b": (1+1)/(2+4); "b x": (0+1)/(1+4)
      2L -> "z q",    // unseen head token: (0+1)/(0+4)
      3L -> "solo"    // no bigrams → absent
    ).toDF("doc_id", "text")
    def lp(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den.toDouble) * 1e6).toLong
    val out = TextAnalysis.bigramLmNll(docs, ref)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    val s1 = -(lp(2, 6) + lp(1, 5))
    val s2 = -lp(1, 4)
    assert(out === Seq((1L, 2L, s1, s1 / 2), (2L, 1L, s2, s2)))
    // maxBigrams = 1 keeps only "a b" (count ties, lexicographic
    // total order): "a c" now scores the unseen backoff 1/(2+4)
    val pruned = TextAnalysis
      .bigramLmNll(Seq(4L -> "a c").toDF("doc_id", "text"), ref,
        maxBigrams = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(pruned === Seq((4L, 1L, -lp(1, 6), -lp(1, 6))))
    intercept[IllegalArgumentException] {
      TextAnalysis.bigramLmNll(docs, ref, maxBigrams = 0)
    }
  }

  test("knBigramScore: interpolated Kneser-Ney probabilities replay by " +
      "hand — seen bigram, seen-context/unseen-word clamp, unseen " +
      "context via continuation, fully-unseen clamp, zero-bigram doc") {
    // train: "a b a b c", "a b" → big (a,b):3 (b,a):1 (b,c):1, B = 3
    // uni: a (c1 3, fwd 1), b (c1 2, fwd 2); back: b 1, a 1, c 1
    val train = Seq((1L, "a b a b c"), (2L, "a b")).toDF("id", "text")
    val eval_ = Seq((10L, "a b c z a"), (11L, "a z"), (12L, "z"))
      .toDF("id", "text")
    val got = graft.operators.TextAnalysis
      .knBigramScore(train, eval_, "id", "text")
      .select("id", "n_bigrams", "n_oov_ctx", "sum_logp_micro",
        "avg_nll_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def lg(pm: Long): Long =
      math.floor(math.log(pm / 1e6) * 1e6).toLong
    // (a,b): ⌊((3e6−.75e6)·3 + .75e6·1·1)/(3·3)⌋ = ⌊7.5e6/9⌋ = 833333
    // (b,c): ⌊((1e6−.75e6)·3 + .75e6·2·1)/(2·3)⌋ = 2.25e6/6 = 375000
    // (c,z): unseen ctx, back(z)=0 → clamp 1
    // (z,a): unseen ctx, back(a)=1 → ⌊1e6/3⌋ = 333333
    val e1 = Seq(833333L, 375000L, 1L, 333333L).map(lg).sum
    assert(got(10L) === ((4L, 2L, e1, (-e1) / 4)))
    // (a,z): SEEN ctx a, unseen word → ⌊(0·3 + .75e6·1·0)/9⌋ = 0 → clamp 1
    val e2 = lg(1L)
    assert(got(11L) === ((1L, 0L, e2, -e2)))
    // single token: no bigrams — the zero ladder
    assert(got(12L) === ((0L, 0L, 0L, 0L)))
  }

  test("bpeTrainMerges: the Sennrich merge walk replays by hand — " +
      "frequency-weighted pairs, lexicographic ties, </w> absorption, " +
      "early stop when no pairs remain") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // words: low ×3, lower ×1
    val docs = Seq(1L -> "low low low lower").toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, nMerges = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq
    // round 1: "l o" and "o w" both count 4 → lexicographic tie →
    // "l o"; round 2: "lo w" (4); round 3: "low </w>" (3)
    assert(got === Seq(
      (1, "l", "o", "lo", 4L),
      (2, "lo", "w", "low", 4L),
      (3, "low", "</w>", "low</w>", 3L)))
    // early stop: a fully-merged vocabulary ends training before
    // nMerges. Tie detail: "a </w>" sorts BEFORE "a a" ('<' < 'a'),
    // so the end-marker pair merges first
    val tiny = Seq(1L -> "aa aa").toDF("doc_id", "text")
    val short = TextAnalysis.bpeTrainMerges(tiny, nMerges = 50)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(short === Seq(
      (1, "a", "</w>", "a</w>", 2L),
      (2, "a", "a</w>", "aa</w>", 2L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainMerges(docs, nMerges = 0)
    }
  }

  test("dsirSelect: log-likelihood-ratio importance + deterministic " +
      "Gumbel top-n replay by hand; same seed same set, different " +
      "seed may differ; target-like docs outrank raw-like ones") {
    import spark.implicits._
    import graft.operators.{Sampling, TextAnalysis}
    // target ref speaks "a b", raw ref speaks "x y"
    val target = Seq(0L -> "a b a b a c").toDF("doc_id", "text")
    val raw = Seq(0L -> "x y x y x z").toDF("doc_id", "text")
    val docs = Seq(
      1L -> "a b a",  // target-like
      2L -> "x y x",  // raw-like
      3L -> "a y"     // mixed
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dsirSelect(docs, target, raw, n = 3)
      .select("doc_id", "n_bigrams", "logw_micro", "gumbel_micro",
        "key_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // hand replay: target ca={a:3,b:2,c:1} V=4; bigrams {a b:2, b a:2,
    // a c:1}; raw ca={x:3,y:2,z:1} V=4; bigrams {x y:2, y x:2, x z:1}
    def lp(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den.toDouble) * 1e6).toLong
    def logw(bs: (Long, Long, Long, Long)*): Long =
      bs.map { case (ct, dt, cr, dr) => lp(ct, dt) - lp(cr, dr) }.sum
    // doc1 "a b"+"b a": target (2+1)/(3+4), (2+1)/(2+4); raw both unseen
    // heads (0+1)/(0+4)
    val w1 = logw((3, 7, 1, 4), (3, 6, 1, 4))
    // doc2 mirrors under raw
    val w2 = logw((1, 4, 3, 7), (1, 4, 3, 6))
    // doc3 "a y": target (0+1)/(3+4); raw (0+1)/(0+4) — head 'a' unseen
    val w3 = logw((1, 7, 1, 4))
    def gum(id: Long): Long = {
      val p = Sampling.HashPrime
      val m1 = (id % p) * Sampling.HashMult % p
      val m2 = m1 * TextAnalysis.DsirGumbelMult % p
      val u = (m2 + 1).toDouble / (p + 1).toDouble
      math.floor(-math.log(-math.log(u)) * 1e6).toLong
    }
    val expect = Seq(
      (1L, 2L, w1, gum(1), w1 + gum(1)),
      (2L, 2L, w2, gum(2), w2 + gum(2)),
      (3L, 1L, w3, gum(3), w3 + gum(3)))
      .sortBy(t => (-t._5, t._1))
    assert(out === expect)
    assert(w1 > w3 && w3 > w2, s"ordering broke: $w1 $w3 $w2")
    // n cuts the tail deterministically
    val top1 = TextAnalysis.dsirSelect(docs, target, raw, n = 1)
      .select("doc_id").as[Long].collect().toSeq
    assert(top1 === expect.take(1).map(_._1))
    // seeded: same seed identical, and the seed perturbs only the
    // gumbel column
    val s1 = TextAnalysis.dsirSelect(docs, target, raw, n = 3, seed = 7L)
      .select("doc_id", "gumbel_micro").as[(Long, Long)].collect().toSet
    val s2 = TextAnalysis.dsirSelect(docs, target, raw, n = 3, seed = 7L)
      .select("doc_id", "gumbel_micro").as[(Long, Long)].collect().toSet
    assert(s1 === s2)
    val s0 = TextAnalysis.dsirSelect(docs, target, raw, n = 3)
      .select("doc_id", "gumbel_micro").as[(Long, Long)].collect().toSet
    assert(s0 !== s1, "seed did not perturb the gumbel draw")
  }

  test("canonicalizeUrl: scheme/host lowercased, www + default port " +
      "stripped, fragment dropped, trailing slash trimmed, tracking " +
      "params removed, survivors sorted; non-absolute passes through") {
    import org.apache.spark.sql.functions._
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
        "http://example.com/a/b?a=1&b=2"),
      ("https://Example.com:443/", "https://example.com/"),
      ("https://example.com:8443/x", "https://example.com:8443/x"),
      ("http://www2.example.com/path///", "http://example.com/path"),
      ("http://example.com", "http://example.com/"),
      ("http://example.com/?gclid=abc&fbclid=z&ref=home",
        "http://example.com/"),
      ("http://example.com/p?z=1&a=2", "http://example.com/p?a=2&z=1"),
      // the :80 strip is scheme-aware — https keeps a literal :80
      ("https://example.com:80/x", "https://example.com:80/x"),
      ("  http://example.com/x  ", "http://example.com/x"),
      ("not a url", "not a url"),
      ("/relative/path?utm_source=x", "/relative/path?utm_source=x"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) === want, s"for <$in>") }
  }

  test("scriptProfile: per-script character counts and list-order " +
      "dominance over hand-built mixed-script docs") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "hello привет"),        // 5 latin, 6 cyrillic, 1 space
      (2L, "你好 123"),             // 2 cjk, 3 digits
      (3L, "σλσ abc"),             // tie 3 greek vs 3 latin → latin (order)
      (4L, "!!! ???"),             // no script chars at all
      (5L, "안녕 سلام"))            // 2 hangul, 4 arabic
      .toDF("id", "text")
    val got = TextAnalysis.scriptProfile(docs, "id", "text")
      .select("id", "n_chars", "n_latin", "n_cyrillic", "n_greek",
        "n_cjk", "n_hangul", "n_arabic", "n_digit", "n_space", "n_other",
        "dominant_script")
      .collect().map(r => r.getLong(0) -> r).toMap
    def chk(id: Long, want: Map[String, Any]): Unit =
      want.foreach { case (c, v) =>
        assert(got(id).getAs[Any](c) === v, s"doc $id col $c") }
    chk(1L, Map("n_chars" -> 12L, "n_latin" -> 5L, "n_cyrillic" -> 6L,
      "n_space" -> 1L, "n_other" -> 0L, "dominant_script" -> "cyrillic"))
    chk(2L, Map("n_cjk" -> 2L, "n_digit" -> 3L,
      "dominant_script" -> "cjk"))
    chk(3L, Map("n_greek" -> 3L, "n_latin" -> 3L,
      "dominant_script" -> "latin"))
    chk(4L, Map("n_other" -> 6L, "dominant_script" -> "none"))
    chk(5L, Map("n_hangul" -> 2L, "n_arabic" -> 4L,
      "dominant_script" -> "arabic"))
  }

  test("mojibakeScore: double-encoding artifacts counted literally — " +
      "clean unicode reads 0, repeats count, curly-quote class via " +
      "the â€ prefix, rate is per-char micro") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "café naïve"),          // clean real accents → 0
      (2L, "cafÃ© Ã¼ber"),         // two artifacts
      (3L, "Ã©Ã©Ã©"),              // repeat → 3 in 6 chars → 500000
      (4L, "â€œxâ€"),              // “x” mangled: two â€ pairs
      (5L, ""))                    // empty → 0/0 contract
      .toDF("id", "text")
    val got = TextAnalysis.mojibakeScore(docs, "id", "text")
      .select("id", "n_chars", "mojibake_n", "mojibake_micro",
        "is_mojibake")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((10L, 0L, 0L, false)))
    assert(got(2L) === ((11L, 2L, 181818L, true)))
    assert(got(3L) === ((6L, 3L, 500000L, true)))
    assert(got(4L) === ((6L, 2L, 333333L, true)))
    assert(got(5L) === ((0L, 0L, 0L, false)))
  }
}
