package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document quality / language heuristics for corpus filtering — pure
  * column expressions, usable inside any filter or projection and fully
  * pushdown-transparent.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Stopword hit count for one language profile. */
  def stopwordHits(text: Column, lang: String): Column =
    stopwordCount(text, Stopwords.toMap.apply(lang))

  /** Predicted language: argmax of profile hits, ties resolved by the
    * fixed profile order (en > de > fr > es) — deterministic.
    */
  def langId(text: Column): Column = {
    val hits = Stopwords.map { case (l, ws) => l -> stopwordCount(text, ws) }
    hits.zipWithIndex.foldRight(lit(Stopwords.last._1)) {
      case (((lang, h), i), alt) =>
        val rest = hits.drop(i + 1)
        if (rest.isEmpty) lit(lang)
        else when(rest.map(r => h >= r._2).reduce(_ && _), lang).otherwise(alt)
    }
  }

  /** Punctuation density over characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(punctCount(text).cast("double") / length(text))

  /** Stopword (en) density over whitespace tokens — the classic
    * "natural language vs boilerplate" signal.
    */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, 0.0)
      .otherwise(stopwordCount(text, Stopwords.toMap.apply("en")).cast("double") / n)
  }

  def upperRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(upperCount(text).cast("double") / length(text))

  /** Document fingerprint: rolling hash of the ASCII-canonicalized text. */
  def fingerprint(text: Column): Column = rollingHash(cleanAscii(text))

  /** Sliding-window token chunking — the context-length preprocessor:
    * a doc longer than `chunk` tokens splits into windows of `chunk`
    * tokens advancing by `stride` (overlap = chunk − stride preserves
    * boundary context for the model). NARROW: one generator per doc
    * (explode of the chunk-index range), token slices re-joined
    * in-line — no shuffle, streams at scan speed, composes with
    * pushdown. Docs at or under `chunk` tokens yield exactly one chunk
    * (themselves).
    */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunk: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    import graft.functions.TextFunctions.wsTokens
    val toks = wsTokens(col(textCol))
    val nChunks = when(size(toks) <= chunk, lit(1))
      .otherwise(ceil((size(toks) - chunk).cast("double") / stride).cast("int") + 1)
    df.select(col(idCol), toks.as("__t"), nChunks.as("__n"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0), col("__n") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__t"), col("chunk_idx") * stride + 1, lit(chunk)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).as("n_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Rule thresholds for [[qualityGate]]. Ratio thresholds are
    * MICRO-fractions (1e6 = 1.0) so every rule evaluates on exact
    * integer cross-products — no floating point anywhere in the
    * keep/drop decision.
    */
  case class QualityRules(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Int = 3, maxMeanWordLen: Int = 10,
      minAlphaWordMicro: Long = 800000L,
      minStopHits: Int = 2,
      stopwords: Seq[String] = Stopwords.toMap.apply("en"),
      maxTopWordMicro: Long = 200000L)

  /** Gopher-style composite DOCUMENT QUALITY GATE (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Appendix A — the
    * MassiveText filter family): each document gets one boolean per
    * rule plus the conjunction `keep` —
    *
    *   r_words:    word count within [minWords, maxWords]
    *   r_mean_len: mean word length within [min, max]
    *   r_alpha:    ≥ minAlphaWordMicro of words contain a letter
    *   r_stop:     ≥ minStopHits DISTINCT required stopwords present
    *   r_top_word: most frequent word covers ≤ maxTopWordMicro of the
    *               doc (the repetition screen)
    *
    * Flags are returned rather than filtered so pipelines can audit
    * per-rule kill rates before committing to a drop (the published
    * filters were tuned exactly this way); `.filter(col("keep"))` is
    * the production gate. The stopword list is parameterized (Gopher's
    * is {the, be, to, of, and, that, have, with}).
    *
    * Determinism: every rule is an exact integer comparison
    * (Σlen ≥ min·n beats Σlen/n ≥ min — no division), and the reported
    * micro ratios are each ONE floored double division of exact int64
    * (the §5 pattern). Scale shape: the per-doc scalars are one NARROW
    * projection (pushdown-transparent, streams at scan speed); the
    * top-word count is the §8 long-form — explode once, two partial
    * aggregations on (id, word) then id, one join back — never a
    * nested per-row HOF over distinct tokens (O(n²) interpreted).
    */
  def qualityGate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      rules: QualityRules = QualityRules()): org.apache.spark.sql.DataFrame = {
    val topWord = df
      .select(col(idCol), explode(wsTokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max(col("__c")).as("__top"))
    qualityVerdict(
      qualityScalars(df, idCol, textCol, rules).join(topWord, Seq(idCol), "left"),
      Seq(col(idCol)), rules)
  }

  /** Single-PROJECTION variant of [[qualityGate]] — identical columns
    * from one narrow select, no aggregation anywhere: the shape the
    * STATELESS STREAMING path needs (a per-doc explode + groupBy would
    * be a stateful operator on a stream). The top-word count folds the
    * doc's own SORTED token array — the max run of equal adjacent
    * tokens IS the max count — via a one-level `aggregate` lambda:
    * interpreted (CodegenFallback), O(n log n) per doc, bounded by doc
    * length; the batch explode shape stays preferred where aggregation
    * is available (§8). Result-identity with [[qualityGate]] is
    * spec-pinned. Extra columns (timestamps, payloads) pass through.
    */
  def qualityGateRow(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      rules: QualityRules = QualityRules()): org.apache.spark.sql.DataFrame = {
    val passthrough = df.columns.filterNot(c => c == idCol || c == textCol)
    qualityVerdict(
      qualityScalars(df, idCol, textCol, rules,
        extra = passthrough.map(col).toSeq :+
          topWordRunCount(wsTokens(col(textCol))).as("__top")),
      col(idCol) +: passthrough.map(col).toSeq, rules)
  }

  /** Max multiplicity of any token, computed per row as the longest
    * run of equal adjacent elements in the sorted array.
    */
  private def topWordRunCount(toks: Column): Column =
    aggregate(
      array_sort(toks),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, w) => {
        val run = when(acc.getField("prev").isNotNull &&
          acc.getField("prev") === w, acc.getField("run") + 1L).otherwise(1L)
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  private def qualityScalars(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, rules: QualityRules,
      extra: Seq[Column] = Nil): org.apache.spark.sql.DataFrame = {
    require(rules.minWords >= 1 && rules.maxWords >= rules.minWords,
      s"bad word bounds: [${rules.minWords}, ${rules.maxWords}]")
    val toks = wsTokens(col(textCol))
    df.select(Seq(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      length(regexp_replace(trim(col(textCol)), "\\s+", ""))
        .cast("long").as("__sumlen"),
      size(filter(toks, w => w.rlike("[A-Za-z]")))
        .cast("long").as("__alpha"),
      size(array_intersect(wsTokens(lower(col(textCol))),
        typedLit(rules.stopwords))).cast("long").as("stop_hits")) ++ extra: _*)
  }

  /** Shared rule assembly over the scalar columns + `__top`. */
  private def qualityVerdict(scored: org.apache.spark.sql.DataFrame,
      keyCols: Seq[Column], rules: QualityRules): org.apache.spark.sql.DataFrame = {
    val n = col("n_words")
    val top = coalesce(col("__top"), lit(0L))
    def microOf(num: Column) =
      when(n === 0L, 0L).otherwise(
        floor(num.cast("double") / n.cast("double") * lit(1000000.0))
          .cast("long"))
    scored
      .select(keyCols ++ Seq(
        n, col("stop_hits"),
        microOf(col("__sumlen")).as("mean_len_micro"),
        microOf(col("__alpha")).as("alpha_micro"),
        microOf(top).as("top_word_micro"),
        (n >= rules.minWords.toLong && n <= rules.maxWords.toLong)
          .as("r_words"),
        (n > 0L && col("__sumlen") >= lit(rules.minMeanWordLen.toLong) * n &&
          col("__sumlen") <= lit(rules.maxMeanWordLen.toLong) * n)
          .as("r_mean_len"),
        (n > 0L && col("__alpha") * lit(1000000L) >=
          lit(rules.minAlphaWordMicro) * n).as("r_alpha"),
        (col("stop_hits") >= rules.minStopHits.toLong).as("r_stop"),
        (n > 0L && top * lit(1000000L) <= lit(rules.maxTopWordMicro) * n)
          .as("r_top_word")): _*)
      .withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_alpha") &&
          col("r_stop") && col("r_top_word"))
  }

  /** Gopher REPETITION SCREENS (Rae et al. 2021 Appendix A, the
    * MassiveText "repetitious text" battery — the rules [[qualityGate]]
    * does NOT carry): machine-generated and template text repeats
    * STRUCTURE — whole lines, and n-grams longer than any natural
    * phrase — that the single top-word screen cannot see. Per doc:
    *
    *   n_lines              non-blank trimmed lines
    *   n_tokens             whitespace tokens
    *   dup_line_micro       repeated line occurrences (beyond each
    *                        line's first) / n_lines
    *   dup_line_char_micro  characters in those repeated occurrences
    *                        / total line characters
    *   top{n}gram_char_micro  for each n in `topNs`: the max over
    *                        n-grams of count·gramChars, / total token
    *                        characters — the "fraction of characters
    *                        in the most-covering n-gram" screen
    *   dup{dupN}gram_char_micro  characters at token positions covered
    *                        by ANY dupN-gram occurring ≥ 2 times /
    *                        total token characters — overlapping
    *                        occurrences counted once per position
    *
    * (Deviation noted: for the top-n-gram screen this takes the n-gram
    * maximizing CHAR COVERAGE count·len — deterministic without a
    * tie rule — where the paper says "most frequent n-gram"; the two
    * differ only when a shorter gram out-counts a longer one near the
    * threshold.) Ratios are each ONE floored double division of exact
    * int64 counts (the §5 pattern); docs with no lines/tokens report
    * zeros. Thresholding is the caller's (the paper drops at
    * dup_line > 0.30, top2gram_char > 0.20, dup-ngram-char > 0.10).
    *
    * Scale shape: per-unit explodes (lines, tokens, n-grams) each feed
    * partial-aggregated co-keyed groupBys on (id) or (id, unit) — hot
    * units combine map-side; the dupN coverage join is co-keyed on
    * (id, gram) then (id, position); no windows over doc history, no
    * per-row O(len²) HOFs (grams come from the bounded
    * [[graft.functions.TextFunctions.wordNgrams]] generator, evaluated
    * once per row as the explode argument).
    */
  def repetitionScreens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topNs: Seq[Int] = Seq(2, 3),
      dupN: Int = 8): org.apache.spark.sql.DataFrame = {
    require(topNs.nonEmpty && topNs.forall(_ >= 1),
      s"topNs must be >= 1: $topNs")
    require(topNs.distinct == topNs, s"duplicate topNs: $topNs")
    require(dupN >= 2, s"dupN must be >= 2, got $dupN")
    val id = col(idCol)
    def microDiv(num: Column, den: Column): Column =
      when(coalesce(den, lit(0L)) === 0L, 0L)
        .otherwise(floor(coalesce(num, lit(0L)).cast("double") /
          den.cast("double") * lit(1000000.0)).cast("long"))

    val lineAgg = df
      .select(id, explode(split(col(textCol), "\n")).as("__l"))
      .withColumn("__l", trim(col("__l")))
      .filter(length(col("__l")) > 0)
      .groupBy(id, col("__l")).agg(count(lit(1)).as("__c"))
      .groupBy(id).agg(
        sum(col("__c")).as("n_lines"),
        sum(col("__c") - 1L).as("__dupl"),
        sum((col("__c") - 1L) * length(col("__l"))).as("__duplch"),
        sum(col("__c") * length(col("__l"))).as("__totlch"))

    val toks = df
      .select(id, posexplode(wsTokens(col(textCol))).as(Seq("__p", "__w")))
    val tokAgg = toks.groupBy(id).agg(
      count(lit(1)).as("n_tokens"),
      sum(length(col("__w")).cast("long")).as("__totch"))

    def topAgg(n: Int) = df
      .select(id, explode(wordNgrams(wsTokens(col(textCol)), n)).as("__g"))
      .groupBy(id, col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(id).agg(
        max(col("__c") * (length(col("__g")) - lit(n - 1)).cast("long"))
          .as(s"__top$n"))

    val gd = df.select(id,
      posexplode(wordNgrams(wsTokens(col(textCol)), dupN))
        .as(Seq("__p", "__g")))
    val dupGrams = gd.groupBy(id, col("__g")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2L)
      .select(id, col("__g"))
    val dupAgg = gd.join(dupGrams, Seq(idCol, "__g"))
      .select(id,
        explode(sequence(col("__p"), col("__p") + lit(dupN - 1))).as("__p"))
      .distinct()
      .join(toks, Seq(idCol, "__p"))
      .groupBy(id).agg(sum(length(col("__w")).cast("long")).as("__dupch"))

    topNs.foldLeft(
        df.select(id)
          .join(lineAgg, Seq(idCol), "left")
          .join(tokAgg, Seq(idCol), "left")
          .join(dupAgg, Seq(idCol), "left")) {
        (acc, n) => acc.join(topAgg(n), Seq(idCol), "left")
      }
      .select(Seq(
        id,
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        microDiv(col("__dupl"), col("n_lines")).as("dup_line_micro"),
        microDiv(col("__duplch"), col("__totlch"))
          .as("dup_line_char_micro")) ++
        topNs.map(n => microDiv(col(s"__top$n"), col("__totch"))
          .as(s"top${n}gram_char_micro")) :+
        microDiv(col("__dupch"), col("__totch"))
          .as(s"dup${dupN}gram_char_micro"): _*)
  }

  /** CCNet PERPLEXITY BUCKETS (Wenzek et al. 2020, "CCNet: Extracting
    * High Quality Monolingual Datasets" §4.3 — the head/middle/tail
    * split): divide each source's documents into `nBuckets` equal-mass
    * tiers of a quality score (canonically per-doc LM perplexity —
    * [[bigramLmNll]]'s output feeds this directly), so downstream
    * mixing can up-weight the head and drop or down-weight the tail.
    * Bucket 0 = lowest scores (head/best), nBuckets−1 = tail.
    *
    * Exactness contract: thresholds are QUANTIZED to `binWidth` — the
    * cut lands on the first histogram bin whose cumulative mass
    * reaches q·n/nBuckets (exact integer cross-multiplication
    * k·cum ≥ q·n, no division), and every doc in the threshold bin
    * goes to the LOWER bucket. Tier masses are therefore equal up to
    * bin granularity — the price of a single-pass distributed
    * quantile, and fully engine-replayable (no percentile
    * interpolation semantics to match). Tighter `binWidth` → tighter
    * tiers.
    *
    * Scale shape: ONE partial-aggregated (source, bin) histogram; the
    * cumulative and threshold steps run on the HISTOGRAM (bounded by
    * score-range/binWidth per source — never the corpus; the windows'
    * partitions are bin-counts, not doc-counts); thresholds broadcast
    * back; assignment is a narrow projection. The naive per-source
    * ntile window would sort every source through one task — the q96
    * trap.
    */
  def perplexityBuckets(scored: org.apache.spark.sql.DataFrame,
      sourceCol: String, scoreCol: String, nBuckets: Int = 3,
      binWidth: Long = 10000L): org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(binWidth >= 1L, s"binWidth must be >= 1, got $binWidth")
    import org.apache.spark.sql.expressions.Window
    // FLOOR division, not DIV: Spark's DIV truncates toward zero, so a
    // signed score column (log-prob deltas, importance weights) would
    // get a double-width bin straddling zero AND diverge from a
    // floor-dividing replay; pmod makes the numerator an exact
    // multiple, so DIV is the exact floor
    val sExpr = s"CAST($scoreCol AS BIGINT)"
    val bin = expr(s"($sExpr - pmod($sExpr, $binWidth)) DIV $binWidth")
    val hist = scored.groupBy(col(sourceCol), bin.as("__bin"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(col(sourceCol)).orderBy(col("__bin"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy(col(sourceCol))))
    val tAggs = (1 until nBuckets).map(q =>
      min(when(col("__cum") * nBuckets >= col("__n") * q, col("__bin")))
        .as(s"__t$q"))
    val thresholds = cum.groupBy(col(sourceCol))
      .agg(tAggs.head, tAggs.tail: _*)
    scored.join(broadcast(thresholds), Seq(sourceCol))
      .withColumn("bucket",
        (1 until nBuckets).map(q =>
          when(bin > col(s"__t$q"), 1).otherwise(0))
          .reduce(_ + _))
      .drop((1 until nBuckets).map(q => s"__t$q"): _*)
  }

  /** LINE-level LANGUAGE PURITY — the CCNet per-line language pass
    * above document-level [[langId]]: classify every non-blank line,
    * report the doc's majority line-language and the fraction of lines
    * agreeing with it. A document-level classifier averages a mixed
    * doc into whichever language dominates; the per-line pass is what
    * catches boilerplate/quote/navigation lines in another language —
    * route low-purity docs to line-level cleanup
    * ([[Dedup.dropBoilerplateLines]]) instead of dropping them whole.
    * Returns (idCol, n_lines, major_lang, purity_micro) — blank-only
    * docs emit nothing (no lines, no verdict).
    *
    * Determinism: langId's fixed-profile-order tie rule per line,
    * (count desc, lang asc) for the majority, purity as one integer
    * DIV. Shape: one (id, lang) partial-aggregated count, then the
    * majority window on id — rows entering the window are ≤ |langs|
    * per doc, never the line stream.
    */
  def lineLangPurity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .filter(length(trim(col("__line"))) > 0)
      .select(col(idCol), langId(col("__line")).as("__ll"))
      .groupBy(col(idCol), col("__ll")).agg(count(lit(1)).as("__n"))
    val maj = Window.partitionBy(col(idCol))
      .orderBy(col("__n").desc, col("__ll").asc)
    counts
      .withColumn("__rn", row_number().over(maj))
      .withColumn("__tot", sum(col("__n")).over(Window.partitionBy(col(idCol))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__tot").as("n_lines"),
        col("__ll").as("major_lang"),
        expr("__n * 1000000 DIV __tot").as("purity_micro"))
  }

  /** BPE MERGE-CANDIDATE mining — the first step of byte-pair-encoding
    * tokenizer training ("count all adjacent symbol pairs, merge the
    * most frequent", Sennrich et al. 2016): adjacent CHARACTER-pair
    * frequencies within word boundaries, the exact statistic the first
    * BPE merge maximizes. Training a tokenizer ON the corpus being
    * assembled is a standard pipeline step; at 100 TB the pair count
    * is the only part that touches all the data — the merge loop
    * itself runs on this (tiny) aggregate.
    *
    * Shape: explode words once, derive each word's pairs with a
    * one-level `substr` lambda (inner expression dominates — the §8
    * kernel-parity class, not the nested-HOF trap), explode, ONE
    * partial-aggregated count, top-k via orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort).
    * Deterministic: (cnt desc, pair asc) total order.
    */
  def bpePairCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // guard 1-char words: Spark's sequence(1, 0) DESCENDS ([1, 0])
    // rather than returning empty, which would emit bogus truncated
    // "pairs" — caught by the oracle's tie boundary
    df.select(explode(wsTokens(col(textCol))).as("__w"))
      .select(explode(when(length(col("__w")) >= 2,
        transform(
          sequence(lit(1), length(col("__w")) - 1),
          i => col("__w").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)
  }

  /** DOMAIN-level quality gate — the RefinedWeb/CCNet "bad domain"
    * layer above [[qualityGate]]'s per-document rules: aggregate each
    * domain's (source's, site's) document fail fraction, and BLOCK
    * every domain whose fraction exceeds `maxFailMicro` — the recipe
    * that drops a spam site's remaining "passing" pages too, which no
    * per-document rule can express. Returns one row per domain:
    * (domainCol, n_docs, n_fail, fail_micro, blocked, n_kept) with
    * n_kept the docs surviving BOTH gates (0 on blocked domains).
    *
    * fail_micro is exact integer arithmetic (n_fail·10⁶ DIV n_docs) —
    * the block decision never touches floating point. Scale shape: the
    * doc flags flow from [[qualityGate]]'s id-keyed aggregation into
    * one id-equi-join with the (id, domain) projection, then ONE
    * partial-aggregated groupBy(domain); the output is |domains| rows
    * — broadcast-joinable back onto the corpus as the production drop
    * filter (`corpus.join(broadcast(gate.filter(!blocked)), domain)`).
    */
  def domainQualityGate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, domainCol: String,
      rules: QualityRules = QualityRules(),
      maxFailMicro: Long = 500000L): org.apache.spark.sql.DataFrame = {
    require(maxFailMicro >= 0L && maxFailMicro <= 1000000L,
      s"maxFailMicro must be a micro-fraction in [0, 1e6], got $maxFailMicro")
    val flags = qualityGate(df, idCol, textCol, rules)
      .select(col(idCol), col("keep"))
    df.select(col(idCol), col(domainCol))
      .join(flags, Seq(idCol))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_fail"))
      .withColumn("fail_micro",
        expr("n_fail * 1000000 DIV n_docs"))
      .withColumn("blocked", col("fail_micro") > maxFailMicro)
      .withColumn("n_kept",
        when(col("blocked"), 0L).otherwise(col("n_docs") - col("n_fail")))
  }

  /** BM25 top-k retrieval over a document table for a fixed query-term
    * list — the text-side member of the similarity-search family (the
    * embedding side is the ANN ladder). Shape, built for the 100 TB
    * corpus: tokens explode and filter to the |terms| query terms
    * BEFORE the one shuffle (the corpus-scale reduction — a doc
    * without query terms never leaves its scan partition), per-doc tf
    * comes from ONE aggregation with |terms| conditional sums (the
    * simhashTable vote pattern, no per-term job), N/avgdl are a
    * driver-small one-row collect, per-term df joins the scoring plan
    * as a broadcast ONE-row aggregate of tf itself (tf's exchange
    * ReusedExchange-shared — no third corpus pass, and an all-miss
    * query returns empty instead of failing a driver collect), and
    * the final top-k is TakeOrderedAndProject (partial per-partition
    * top-k, no global sort shuffle).
    *
    * Determinism contract (§5): idf is the RATIONAL Robertson form
    * (N − df + 0.5)/(df + 0.5) — ln-idf is a one-line swap but libm's
    * last ulp is engine-variant — and each doc's score is the integer
    * sum of PER-TERM micro-floored scores, so summation order cannot
    * move a hash. Ties rank by id.
    */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    requireCanonicalTerms(terms, "bm25TopK")
    val toks = df.select(col(idCol).as("id"),
        wsTokens(lower(cleanAscii(col(textCol)))).as("__t"))
      .withColumn("__dl", size(col("__t")))
    val stats = toks.agg(count(lit(1)).as("n"), sum(col("__dl")).as("s")).head()
    val n = stats.getLong(0)
    require(n > 0, "bm25TopK over an empty corpus")
    val avgdl = stats.getLong(1).toDouble / n
    def tfc(t: String) = s"__tf_${terms.indexOf(t)}"
    val tf = toks
      .select(col("id"), col("__dl"), explode(col("__t")).as("__term"))
      .filter(col("__term").isin(terms: _*))
      .groupBy(col("id"))
      .agg(first(col("__dl")).as("__dl"),
        terms.map(t => sum(when(col("__term") === t, 1L).otherwise(0L))
          .as(tfc(t))): _*)
    // Per-term document frequencies ride the scoring plan as a
    // broadcast ONE-row aggregate of tf itself: the tf exchange is
    // ReusedExchange-shared between the scoring side and the df side,
    // so the candidate subplan runs once, and an empty candidate set
    // (no doc contains any query term) yields an empty result exactly
    // like [[bm25TopKIndexed]] — no driver-side df collect to fail.
    def dfc(t: String) = s"__df_${terms.indexOf(t)}"
    val dfAgg = tf.agg(
      sum((col(tfc(terms.head)) > 0).cast("long")).as(dfc(terms.head)),
      terms.tail.map(t =>
        sum((col(tfc(t)) > 0).cast("long")).as(dfc(t))): _*)
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    def termMicro(t: String): Column = {
      val dfd = col(dfc(t)).cast("double")
      val idf = (lit(n.toDouble) - dfd + lit(0.5)) / (dfd + lit(0.5))
      val tfd = col(tfc(t)).cast("double")
      val den = tfd + lit(k1) * (lit(oneMinusB) +
        lit(b) * col("__dl").cast("double") / lit(avgdl))
      floor(idf * (tfd * lit(k1p1)) / den * lit(1000000.0)).cast("long")
    }
    tf.crossJoin(broadcast(dfAgg))
      .select(col("id"),
        terms.map(termMicro).reduce(_ + _).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id").asc)
      .limit(k)
  }

  /** Inverted-index POSTINGS for [[bm25TopKIndexed]]: one row per
    * (term, doc) with the term frequency and the doc's token length —
    * the index-once half of the retrieval contract ([[bm25TopK]]
    * rescans the corpus per query; at 100 TB the index is written
    * once — land it partitioned/bucketed by `term` so a query's
    * predicate prunes to its posting lists — and probed forever, the
    * q74 band-index contract for text). One explode + ONE aggregation
    * on (term, id); dl rides the groupBy (functionally dependent on
    * id).
    */
  /** Corpus tokens are `wsTokens(lower(cleanAscii(text)))`, so a query
    * term carrying an uppercase letter, whitespace, or a non-printable-
    * ASCII char can NEVER match a token — the old behavior was a silent
    * all-zero score for "Spark". Fail loudly instead: the caller owns
    * query normalization (scoring must not second-guess whether "US"
    * meant "us"), but an impossible term is always a bug.
    */
  private def requireCanonicalTerms(terms: Seq[String], op: String): Unit = {
    val bad = terms.filterNot(t =>
      t.nonEmpty && t.forall(c => c >= 0x21 && c <= 0x7e && !c.isUpper))
    require(bad.isEmpty,
      s"$op query terms must be canonical tokens (lowercase printable " +
        s"ASCII, no whitespace — the lower(cleanAscii) tokenization " +
        s"cannot produce anything else, so these can never match): $bad")
  }

  def termPostings(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    df.select(col(idCol).as("id"),
        wsTokens(lower(cleanAscii(col(textCol)))).as("__t"))
      .withColumn("dl", size(col("__t")))
      .select(col("id"), col("dl"), explode(col("__t")).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
  }

  /** Corpus-level stats sidecar for [[bm25TopKIndexed]]: ONE row
    * (n_docs, sum_dl) over ALL docs — term-less docs count toward N
    * and avgdl exactly as in [[bm25TopK]], which is why this cannot be
    * derived from the postings (a token-less doc has none).
    */
  def corpusStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(size(wsTokens(lower(cleanAscii(col(textCol))))).as("__dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__dl")).as("sum_dl"))

  /** BM25 top-k over a PERSISTED [[termPostings]] index — score-
    * identical to [[bm25TopK]] (same rational idf, same micro-floored
    * per-term integer scores, same tie order; an absent posting is a
    * tf = 0 term, whose floored score is exactly 0 on both paths) but
    * the corpus is never rescanned: the query reads only the |terms|
    * posting lists (the `isin` filter pushes to the index scan —
    * spec-pinned), df(t) = the filtered slice's posting counts
    * (driver-small, |terms| rows), and the per-doc sum is ONE
    * aggregation on id over the slice.
    */
  def bm25TopKIndexed(postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25TopKIndexed needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    requireCanonicalTerms(terms, "bm25TopKIndexed")
    val st = stats.head()
    val n = st.getLong(0)
    require(n > 0, "bm25TopKIndexed over an empty corpus")
    val avgdl = st.getLong(1).toDouble / n
    val slice = postings.filter(col("term").isin(terms: _*))
    val dfs = slice.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    // per-posting micro score, the EXACT bm25TopK operation order:
    // ((idf · tf·(k1+1)) / den) · 1e6, floored per term before the sum
    val idfCol = terms.foldLeft(lit(null).cast("double")) { (acc, t) =>
      val idf = (n - dfs.getOrElse(t, 0L) + 0.5) / (dfs.getOrElse(t, 0L) + 0.5)
      when(col("term") === t, lit(idf)).otherwise(acc)
    }
    val tfd = col("tf").cast("double")
    val den = tfd + lit(k1) * (lit(oneMinusB) +
      lit(b) * col("dl").cast("double") / lit(avgdl))
    slice
      .withColumn("__s", floor(idfCol * (tfd * lit(k1p1)) / den * lit(1000000.0))
        .cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("__s")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id").asc)
      .limit(k)
  }

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: each input ranking contributes
    * 1/(kConst + rank) per (query, candidate), summed across rankings,
    * re-ranked by the fused score. Rank positions, not raw scores, so
    * incommensurable rankers (BM25 micros vs cosine vs ADC distances)
    * fuse without calibration — the reason every BM25 + dense-vector
    * hybrid stack ships exactly this. Scores in MICRO fixed point
    * (1e6 DIV (kConst + rnk)): integer sums are order-free, so the
    * fusion is bit-deterministic and engine-replayable.
    *
    * Each ranking frame carries (qid, id, rnk); a candidate absent
    * from a ranking contributes 0 (the standard convention). Ties in
    * the fused score break by id. Shape: one union of the (already
    * top-k-bounded) rankings, one partial-aggregated groupBy
    * (qid, id), one per-qid window that compiles to WindowGroupLimit
    * — the inputs are k·|rankings| rows per query, never the corpus,
    * so fusion cost is independent of corpus size by construction.
    */
  def rrfFuse(rankings: Seq[org.apache.spark.sql.DataFrame],
      kConst: Int = 60, topK: Int = 10): org.apache.spark.sql.DataFrame =
    rrfFuseWeighted(rankings.map((_, 1000000L)), kConst, topK)

  /** [[rrfFuse]] with PER-RANKER weights (micro fixed point) — the
    * tuned form most hybrid stacks actually ship (the dense arm
    * usually earns more or less trust than BM25 on a given corpus;
    * weighted RRF is the standard one-knob calibration that keeps the
    * rank-based robustness): each ranking contributes
    * weight_micro · (10⁶ DIV (kConst + rank)) DIV 10⁶ per candidate.
    * Integer arithmetic end to end — weights cannot introduce float
    * drift into the fused order.
    */
  def rrfFuseWeighted(
      rankings: Seq[(org.apache.spark.sql.DataFrame, Long)],
      kConst: Int = 60, topK: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(rankings.forall(_._2 > 0L),
      s"ranker weights must be positive micros: ${rankings.map(_._2)}")
    val scored = rankings.map { case (r, wMicro) =>
      r.select(col("qid"), col("id"),
        expr(s"$wMicro * (1000000 DIV ($kConst + rnk)) DIV 1000000")
          .as("__s"))
    }.reduce(_ unionAll _)
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf_micro").desc, col("id").asc)
    scored.groupBy("qid", "id").agg(sum(col("__s")).as("rrf_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }

  // ---- PII scrubbing ---------------------------------------------------
  // Patterns stay in the RE2 ∩ java.util.regex dialect (no lookaround, no
  // backrefs) so the DuckDB oracle applies the byte-identical regex.

  /** Email addresses (pragmatic pattern, not RFC 5322). */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American-style phone numbers: 555-867-5309 / 555.867.5309. */
  val PhoneRx = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRx))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRx))

  /** Replace PII spans with typed placeholder tags. Order matters: emails
    * first, so a digit-bearing local part can't be half-eaten by the
    * phone pass. Narrow projection — no shuffle; at 100 TB this runs in
    * the scan stage at I/O speed.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRx, "<EMAIL>"),
      PhoneRx, "<PHONE>")

  // ---- labeling / classifier QC ---------------------------------------

  /** COHEN'S KAPPA — chance-corrected agreement between two labelers
    * (Cohen 1960): the label-QC statistic every annotation pipeline
    * reports before trusting its labels (raw agreement flatters —
    * two raters who both say "en" 95% of the time agree 90.5% by
    * CHANCE), and equally the heuristic-vs-gold score for classifier
    * audits (q170 rates the langid heuristic against the gold lang
    * column). With N rows, D agreements, and S = Σᵥ rowᵥ·colᵥ the
    * chance-agreement mass,
    *
    *   κ = (p_o − p_e)/(1 − p_e) = (N·D − S)/(N² − S)
    *
    * — exact int64 products to ONE micro-floored division (N² − S = 0,
    * i.e. p_e = 1, both raters constant — defined 0). Returns ONE row
    * (n, n_agree, pe_mass, kappa_micro).
    *
    * Shape: one corpus groupBy onto the |labels|² confusion matrix;
    * every further step (marginals, join, κ) runs on that
    * parameter-small matrix — label vocabularies are enums, not data.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    kappaFromMatrix(df
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c")))

  /** κ from an already-aggregated confusion matrix (a, b, c) — the
    * MERGEABLE form: counts sum across batches/streams/partitions, so
    * an incrementally maintained matrix (the [[graft.streaming
    * .DocStreams.confusionStream]] state) reads off the same κ as a
    * full re-scan, with no corpus pass at read time.
    */
  def kappaFromMatrix(m: DataFrame): DataFrame = {
    val nd = m.agg(
      sum(col("c")).as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("n_agree"))
    val s = m.groupBy("a").agg(sum(col("c")).as("ra"))
      .join(m.groupBy("b").agg(sum(col("c")).as("cb")),
        col("a") === col("b"))
      .agg(coalesce(sum(col("ra") * col("cb")), lit(0L)).as("pe_mass"))
    nd.crossJoin(s)
      .withColumn("kappa_micro",
        when(col("n") * col("n") - col("pe_mass") === 0L, 0L)
          .otherwise(floor(
            (col("n") * col("n_agree") - col("pe_mass")).cast("double")
              / (col("n") * col("n") - col("pe_mass")).cast("double")
              * lit(1000000.0)).cast("long")))
  }

  /** CALIBRATION REPORT — reliability bins + expected calibration
    * error (Naeini et al. 2015's ECE, the standard audit for a
    * quality/filter classifier): scores (micro units, [0, 10⁶]) bucket
    * into `bins` equal-width bins; per bin the mean CONFIDENCE vs the
    * observed ACCURACY, |gap| weighted by bin mass summing to
    * `ece_micro` — a filter that says "0.9" should be right 90% of the
    * time, and a miscalibrated threshold silently shifts the corpus
    * mix. All sums exact int64, each mean ONE micro-floored division;
    * ece from the per-bin micro gaps (exact integers), one final
    * floored divide by N.
    *
    * Shape: one corpus groupBy onto ≤ `bins` rows; the ECE attach is a
    * broadcast of the 1-row total onto the parameter-small bin table.
    */
  def calibrationReport(
      df: DataFrame, scoreMicroCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    // clamp both edges: scores are contracted to [0, 1e6] but a stray
    // out-of-range value must land in an edge bin, not a phantom one
    val bin = greatest(lit(0L), least(lit(bins - 1L),
      (col(scoreMicroCol) * bins / lit(1000000L)).cast("long")))
    val perBin = df
      .withColumn("__b", bin)
      .groupBy(col("__b").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(scoreMicroCol)).as("__ss"),
        sum(col(labelCol).cast("long")).as("__sl"))
      .withColumn("conf_micro",
        floor(col("__ss").cast("double") / col("n").cast("double"))
          .cast("long"))
      .withColumn("acc_micro",
        floor(col("__sl").cast("double") * lit(1000000.0)
          / col("n").cast("double")).cast("long"))
      .withColumn("gap_micro", abs(col("acc_micro") - col("conf_micro")))
      .drop("__ss", "__sl")
    val tot = perBin.agg(
      sum(col("n")).as("__tn"),
      sum(col("n") * col("gap_micro")).as("__tg"))
    perBin.crossJoin(broadcast(tot))
      .withColumn("ece_micro",
        floor(col("__tg").cast("double") / col("__tn").cast("double"))
          .cast("long"))
      .drop("__tn", "__tg")
  }

  /** BIGRAM-LM PERPLEXITY scoring — the actual CCNet/Gopher filter
    * shape (Wenzek et al. 2020 score documents under a reference LM
    * and drop the worst tail; q71's familiar-fraction is the LM-free
    * stand-in, THIS is the log-prob version): an add-one-smoothed
    * bigram model is trained on a curated reference corpus and every
    * document gets its mean negative log-likelihood
    *
    *   p(b | a) = (c(a,b) + 1) / (c(a,·) + V),   V = |ref vocab| + 1
    *
    * (the +1 in V reserves smoothing mass for unseen words). High mean
    * NLL = off-domain/garbled — fluent-but-foreign text q120's
    * surface rules pass. The model is PRUNED to the top `maxBigrams`
    * by count (total-order cutoff: count desc, bigram — the KenLM
    * prune posture); pruned and unseen bigrams score the same backoff
    * 1/(c(a,·) + V), so pruning only flattens, never crashes.
    *
    * Determinism: every probability is one IEEE divide of two exact
    * longs, and ln is micro-quantized per bigram BEFORE the sum (the
    * q110 posture) — the per-doc sum is an order-free int64. Scale
    * shape: the model is vocabulary-bounded and capped (broadcast
    * both tables); the corpus side is one explode + two broadcast
    * left joins + one partial-agg groupBy(doc) — no shuffle touches
    * the corpus beyond the final doc rollup. Docs with < 2 tokens
    * have no bigrams and are absent from the output (the caller's
    * q120 word-count rule owns them).
    */
  def bigramLmNll(
      docs: DataFrame, refDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxBigrams: Int = 100000): DataFrame = {
    require(maxBigrams >= 1, s"maxBigrams must be >= 1, got $maxBigrams")
    val (refu, refb, vrow) = bigramModel(refDocs, textCol, maxBigrams)
    val pairs = toks(textCol, docs, col(idCol))
      .select(col(idCol), explode(wordNgrams(col("__w"), 2)).as("__ng"))
      .withColumn("__a", split(col("__ng"), " ").getItem(0))
      .join(broadcast(refb), Seq("__ng"), "left")
      .join(broadcast(refu), Seq("__a"), "left")
      .crossJoin(broadcast(vrow))
      .withColumn("__lp",
        floor(log(
          (coalesce(col("__cab"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("__ca"), lit(0L)) + col("__v")).cast("double"))
          * lit(1000000.0)).cast("long"))
    pairs.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("__lp"))).as("nll_sum_micro"))
      .withColumn("nll_mean_micro",
        expr("nll_sum_micro DIV n_bigrams"))
  }

  private def toks(textCol: String, df: DataFrame, keep: Column*) =
    df.select(keep :+ wsTokens(lower(cleanAscii(col(textCol)))).as("__w"): _*)

  /** The add-one bigram model [[bigramLmNll]] trains: (unigram counts,
    * pruned bigram counts, V as a 1-row broadcast — the epochWaterfill
    * level pattern: vocabulary size is data, not a parameter). */
  private def bigramModel(refDocs: DataFrame, textCol: String,
      maxBigrams: Int): (DataFrame, DataFrame, DataFrame) = {
    val refToks = toks(textCol, refDocs).select(explode(col("__w")).as("__a"))
    val refu = refToks.groupBy("__a").agg(count(lit(1)).as("__ca"))
    val vrow = refu.agg((count(lit(1)) + lit(1L)).as("__v"))
    val refb = toks(textCol, refDocs)
      .select(explode(wordNgrams(col("__w"), 2)).as("__ng"))
      .groupBy("__ng").agg(count(lit(1)).as("__cab"))
      .orderBy(col("__cab").desc, col("__ng")).limit(maxBigrams)
    (refu, refb, vrow)
  }

  /** BPE TOKENIZER TRAINING — the full merge loop (Sennrich et al.
    * 2016), closing the tokenizer family: [[bpePairCounts]] mines the
    * FIRST merge's statistic, [[graft.expressions.StringExprs
    * .bpeSegment]]/.bpeMergedCount APPLY a trained list — this TRAINS
    * the list. The scalable published shape: the corpus collapses to
    * a WORD HISTOGRAM in one pass (tokenizer training only needs
    * per-word counts), and every merge round runs on that bounded
    * table — count adjacent-symbol pairs weighted by word frequency,
    * merge the most frequent (ties lexicographic), rewrite the
    * symbol strings, repeat. Words carry the classic `</w>`
    * end-of-word marker so merges can absorb word endings.
    *
    * Determinism: counts are exact int64, the per-round argmax is a
    * (count desc, pair asc) total order, and the rewrite is
    * non-overlapping left-to-right string replace — identical
    * semantics in any engine. The returned (rank, lhs, rhs, merged,
    * pair_count) rows feed [[graft.expressions.StringExprs
    * .bpeSegment]] directly as its `(left, right)` merge list.
    *
    * Scale shape: ONE corpus pass (token explode + partial-agg word
    * groupBy, capped to `maxWords` by TakeOrdered); each of the
    * `nMerges` rounds is one pair-explode + partial-agg + top-1 over
    * the ≤`maxWords`-row table, lineage cut per round
    * ([[Lineage.cut]]) so round r never replays rounds 1..r−1 (the
    * k-means/pageRank loop posture). Driver round-trips are one 1-row
    * collect per merge — the argmax IS the training state, exactly like
    * centroids.
    */
  def bpeTrainMerges(
      docs: DataFrame, nMerges: Int,
      textCol: String = "text", maxWords: Int = 100000): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val spark = docs.sparkSession
    // each round's top-pair collect materializes the lazy cut, so a
    // merge round pays ONE job, not two
    var w = Lineage.cut(toks(textCol, docs)
      .select(explode(col("__w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(maxWords)
      .select(col("word"), col("cnt"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "),
          lit("</w> ")).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val top = w
        .select(explode(wordNgrams(split(trim(col("syms")), " "), 2))
          .as("pair"), col("cnt"))
        .groupBy("pair").agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair").asc).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        val Array(l, rr) = pair.split(" ", 2)
        val merged = l + rr
        merges += ((r + 1, l, rr, merged, c))
        w = Lineage.cut(w.withColumn("syms",
          call_function("replace", col("syms"),
            lit(" " + pair + " "), lit(" " + merged + " "))))
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Third mixing multiplier for the DSIR Gumbel draw (Marsaglia 1972's
    * 69069 — a public LCG constant distinct from every other chain in
    * [[graft.operators.Sampling]]/[[graft.operators.Privacy]]). */
  val DsirGumbelMult = 69069L

  /** DSIR DATA SELECTION — Data Selection via Importance Resampling
    * (Xie et al. 2023, NeurIPS): choose raw-corpus documents that look
    * like a TARGET domain under cheap n-gram LMs — the published
    * scalable alternative to classifier-based filtering (and the
    * principled form of "train on data that looks like the good
    * stuff"). Two add-one bigram models ([[bigramLmNll]]'s) are
    * trained, one on the target reference, one on the raw reference;
    * ([[Sampling.dsirLogWeights]] is the WEIGHT half of this pipeline
    * with the paper's hashed-bucket features — this is the
    * RESAMPLING half, with explicit bigram LMs and the top-n draw);
    * each document's importance is its log-likelihood RATIO
    *
    *   log w(x) = log p_target(x) − log p_raw(x)
    *            = Σ_bigrams (lp_t − lp_r)
    *
    * and selection is Gumbel-top-n over log w + g (the
    * sampling-without-replacement trick DSIR uses): g is a
    * DETERMINISTIC Gumbel −ln(−ln(u)) with u from an MCG chain over
    * (doc id, seed) — the [[Privacy.dpCountRelease]] posture: retries,
    * repartitionings, and engines select the SAME set for a recorded
    * seed.
    *
    * Determinism: both per-bigram log probs are micro-floored IEEE
    * lns of exact-long ratios (the q180 pattern), so log w is an
    * exact order-free int64 sum; the Gumbel is one micro-floored
    * IEEE chain of an exact rational u. Docs with < 2 tokens carry
    * no evidence and are absent (the q120 word-count rule owns them).
    *
    * Scale shape: ONE corpus pass — explode + FOUR broadcast left
    * joins (both models' unigram/bigram tables; vocabulary-bounded
    * and capped) + one partial-agg groupBy(doc) + a global top-n
    * (TakeOrdered — no full sort, no single-task funnel).
    */
  def dsirSelect(
      docs: DataFrame, targetRef: DataFrame, rawRef: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      maxBigrams: Int = 100000, seed: Long = 0L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxBigrams >= 1, s"maxBigrams must be >= 1, got $maxBigrams")
    val (refuT, refbT, vT) = bigramModel(targetRef, textCol, maxBigrams)
    val (refuR, refbR, vR) = bigramModel(rawRef, textCol, maxBigrams)
    val p = Sampling.HashPrime
    val seedMod = math.floorMod(seed, p)
    def lp(cab: Column, ca: Column, v: Column) =
      floor(log((coalesce(cab, lit(0L)) + lit(1L)).cast("double") /
        (coalesce(ca, lit(0L)) + v).cast("double")) * lit(1000000.0))
        .cast("long")
    val pairs = toks(textCol, docs, col(idCol))
      .select(col(idCol), explode(wordNgrams(col("__w"), 2)).as("__ng"))
      .withColumn("__a", split(col("__ng"), " ").getItem(0))
      .join(broadcast(refbT.withColumnRenamed("__cab", "__cabT")),
        Seq("__ng"), "left")
      .join(broadcast(refuT.withColumnRenamed("__ca", "__caT")),
        Seq("__a"), "left")
      .join(broadcast(refbR.withColumnRenamed("__cab", "__cabR")),
        Seq("__ng"), "left")
      .join(broadcast(refuR.withColumnRenamed("__ca", "__caR")),
        Seq("__a"), "left")
      .crossJoin(broadcast(vT.withColumnRenamed("__v", "__vT")))
      .crossJoin(broadcast(vR.withColumnRenamed("__v", "__vR")))
      .withColumn("__d",
        lp(col("__cabT"), col("__caT"), col("__vT")) -
          lp(col("__cabR"), col("__caR"), col("__vR")))
    val m1 = pmod(pmod(col(idCol) + lit(seedMod), lit(p)) *
      lit(Sampling.HashMult), lit(p))
    val m2 = pmod(m1 * lit(DsirGumbelMult), lit(p))
    val u = (m2 + lit(1L)).cast("double") / lit((p + 1L).toDouble)
    pairs.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__d")).as("logw_micro"))
      .withColumn("gumbel_micro",
        floor(-log(-log(u)) * lit(1000000.0)).cast("long"))
      .withColumn("key_micro", col("logw_micro") + col("gumbel_micro"))
      .orderBy(col("key_micro").desc, col(idCol).asc)
      .limit(n)
  }

  /** INTERPOLATED KNESER-NEY BIGRAM LM SCORING — the CCNet/KenLM
    * quality-scorer core (Wenzek et al. 2020 score every crawl doc by
    * a clean-reference-LM perplexity, then bucket head/middle/tail;
    * [[perplexityBuckets]]/q199 CONSUMES such scores — this PRODUCES
    * them, completing the pair the way q25/q203 complete
    * decontamination; Kneser & Ney 1995 / Chen & Goodman 1999 eq. 4.24
    * at n = 2 with a single fixed discount):
    *
    *   P(w₂|w₁) = (max(c(w₁w₂) − D, 0) + D·N₁₊(w₁•)·P_cont(w₂)) / c(w₁)
    *   P_cont(w₂) = N₁₊(•w₂) / B,   B = total distinct bigram types
    *
    * and for a context unseen in training, the continuation
    * distribution alone: P = P_cont(w₂). Determinism: with
    * D = `discountMicro`/10⁶, p_micro reduces to ONE micro-floored
    * division of exact int64 products —
    * ⌊(max(c₁₂·10⁶ − Dµ, 0)·B + Dµ·N₁₊(w₁•)·N₁₊(•w₂)) / (c(w₁)·B)⌋ —
    * (int64-exact while c₁₂·B ≤ 9·10¹² — a 10⁹-type reference LM with
    * bigram counts to ~9k, or a 10⁷-type LM with counts to ~900k; the
    * reference LM is wiki-sized by construction, not the crawl —
    * beyond that, lift the products to decimal(38,0) as the
    * fstByChrom/ldR2Pairs pattern does), clamped ≥ 1 so an unseen word
    * scores the documented floor instead of −∞, and each bigram's
    * log-probability is ⌊ln(p_micro/10⁶)·10⁶⌋ (the q187 floored-IEEE-
    * log convention). Per doc: n_bigrams, n_oov_ctx (bigrams whose
    * context never occurred in training), sum_logp_micro, and
    * avg_nll_micro = (−sum) DIV n — the score CCNet thresholds;
    * zero-bigram docs report zeros through the coalesce ladder (the
    * q203 contract).
    *
    * Scale shape: the reference LM is built with ONE train-corpus
    * bigram exchange (groupBy (h₁,h₂) with partial aggregation over
    * per-token rolling hashes — tokens never pair across documents);
    * context/continuation tables derive from that pair-TYPE table
    * (vocab-bounded), B is a 1-row broadcast. Scoring is the
    * corpus-sized side: three equi-joins of the eval bigram stream
    * against the vocab-bounded count tables — broadcast when the
    * reference LM is small (the CCNet posture: wiki LM vs 100 TB
    * crawl), shuffle equi-joins otherwise, AQE picks. No corpus×corpus
    * pairing anywhere.
    */
  def knBigramScore(
      train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String,
      discountMicro: Long = 750000L): DataFrame = {
    require(discountMicro >= 0L && discountMicro <= 1000000L,
      s"discountMicro must be a micro-fraction in [0, 1e6], got $discountMicro")
    // explode word 2-grams FIRST, hash at TOP LEVEL where
    // RollingHashExpr stays codegen'd (each 2-gram needs the hashes of
    // both its words, which ngramHashes does not give). (Two rejected
    // formulations, both measured on sf0.1: hashing inside a
    // `transform` HOF runs the kernel INTERPRETED per token — 16 µs a
    // call; and an unstaged hash array re-evaluated per pair element
    // was O(L²)/doc, 109 exec-core-s on 1.5 MB of text. This shape is
    // the corpus-proven linear pass.) Tokens are \\s+-split, so the
    // space-joined 2-gram splits back unambiguously.
    def bigrams(df: DataFrame, withId: Boolean): DataFrame = {
      val toks = wsTokens(lower(cleanAscii(col(textCol))))
      val base = if (withId)
        df.select(col(idCol).as("id"),
          explode(wordNgrams(toks, 2)).as("__s"))
      else df.select(explode(wordNgrams(toks, 2)).as("__s"))
      base.select((if (withId) Seq(col("id")) else Nil) ++ Seq(
        rollingHash(substring_index(col("__s"), " ", 1)).as("h1"),
        rollingHash(substring_index(col("__s"), " ", -1)).as("h2")): _*)
    }
    // LINEAGE CUT on the trained LM ([[Lineage.cut]]): big feeds FOUR
    // consumers (the pair join, uni, back, B) — uncut, each re-reads
    // and re-shingles the train corpus (four FileScans in the executed
    // plan, measured). The cut table is the vocab-bounded pair-type LM
    // — wiki-sized by construction.
    val big = Lineage.cut(bigrams(train, withId = false)
      .groupBy("h1", "h2").agg(count(lit(1)).as("__c12")))
    val uni = big.groupBy("h1").agg(
      sum(col("__c12")).as("__c1"), count(lit(1)).as("__fwd"))
    val back = big.groupBy("h2").agg(count(lit(1)).as("__back"))
    val bTot = big.agg(count(lit(1)).as("__B"))
    val dm = lit(discountMicro)
    val ev = bigrams(eval_, withId = true)
      .join(big, Seq("h1", "h2"), "left")
      .join(uni, Seq("h1"), "left")
      .join(back, Seq("h2"), "left")
      .crossJoin(broadcast(bTot))
    val c12 = coalesce(col("__c12"), lit(0L))
    val fwd = coalesce(col("__fwd"), lit(0L))
    val bk = coalesce(col("__back"), lit(0L))
    val seen = col("__c1").isNotNull
    val pSeen = floor(
      (greatest(c12 * lit(1000000L) - dm, lit(0L)) * col("__B") +
        dm * fwd * bk).cast("double") /
        (col("__c1") * col("__B")).cast("double")).cast("long")
    val pCont = floor(bk.cast("double") / col("__B").cast("double")
      * lit(1000000.0)).cast("long")
    val scored = ev
      .withColumn("__pm", greatest(when(seen, pSeen).otherwise(pCont), lit(1L)))
      .withColumn("__logp",
        floor(log(col("__pm").cast("double") / lit(1000000.0))
          * lit(1000000.0)).cast("long"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(seen, 0L).otherwise(1L)).as("n_oov_ctx"),
        sum(col("__logp")).as("sum_logp_micro"))
    eval_.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov_ctx"), lit(0L)).as("n_oov_ctx"),
        coalesce(col("sum_logp_micro"), lit(0L)).as("sum_logp_micro"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, 0L)
          .otherwise(expr("(-sum_logp_micro) DIV n_bigrams"))
          .as("avg_nll_micro"))
  }

  /** Tracking query parameters every crawl-dedup canonicalizer strips
    * (the public adblock/ClearURLs consensus set): analytics
    * attribution params that vary per click while the landing content
    * is identical — leaving them in splits one page into thousands of
    * "distinct" URLs.
    */
  val TrackingParamRx: String =
    "^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|spm|ref|ref_src)(=|$)"

  /** URL CANONICALIZATION — the first step of every crawl pipeline's
    * dedup (one page, thousands of spellings): lowercase scheme+host,
    * strip `www.`-style prefixes and the scheme's default port, drop
    * the fragment, trim trailing path slashes (bare host → `/`), drop
    * tracking params ([[TrackingParamRx]]) and SORT the survivors
    * (param order is transport noise). Pure anchored-regex pipeline —
    * codegen'd, zero shuffles, and replayable verbatim in the oracle
    * dialect. Non-absolute inputs (no `scheme://`) pass through
    * trimmed — the caller decides whether relative URLs are junk.
    * Userinfo (`user:pw@host`) is not special-cased: such URLs are
    * crawler junk upstream of canonicalization.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host0 = regexp_replace(auth, "^www[0-9]*\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val pathq = regexp_replace(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path0 = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    // filter+sort staged through ONE reference (the lone-'?' strip
    // consumes the joined string once — §8 CodegenFallback rule)
    val qstr = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRx))), "&")
    when(scheme === "", trim(u))
      .otherwise(concat(scheme, lit("://"), host, path,
        regexp_replace(concat(lit("?"), qstr), "^\\?$", "")))
  }

  /** Unicode SCRIPT classes for [[scriptProfile]] — explicit BMP
    * codepoint ranges (the `\x{…}` spelling both the JVM regex engine
    * and RE2 accept, so the oracle replays the same character classes)
    * covering the major writing systems a multilingual crawl carries.
    * List order is the dominance tie-break.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "devanagari" -> "\\x{0900}-\\x{097F}",
    "hangul" -> "\\x{AC00}-\\x{D7AF}",
    "cjk" -> "\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}")

  /** UNICODE-SCRIPT PROFILE per document — the multilingual corpus-QC
    * read language-ID alone cannot give (a "Russian" doc that is 40%
    * Latin is boilerplate-wrapped or mislabeled; script mixing flags
    * encoding mojibake and spam): per doc the character count per
    * script class ([[ScriptRanges]]) plus digits, whitespace, and
    * `other`, and the DOMINANT script (max count over the script
    * classes, list order breaking ties, `none` when no script
    * character occurs). Counts are `length − length(strip(class))` —
    * one global regexp_replace per class, all codegen'd, zero
    * shuffles; engine-replayable because the ranges are explicit
    * codepoints, not engine-specific `\p{Script}` names.
    */
  def scriptProfile(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("__t")
    def classCount(range: String) =
      (length(t) - length(regexp_replace(t, s"[$range]", ""))).cast("long")
    val counted = ScriptRanges.foldLeft(
      df.select(col(idCol), col(textCol).as("__t"))
        .withColumn("n_chars", length(t).cast("long"))
        .withColumn("n_digit", classCount("0-9"))
        .withColumn("n_space", classCount("\\s"))) {
      case (d, (name, range)) => d.withColumn(s"n_$name", classCount(range))
    }
    val scriptCols = ScriptRanges.map { case (n, _) => col(s"n_$n") }
    val other = col("n_chars") - col("n_digit") - col("n_space") -
      scriptCols.reduce(_ + _)
    val best = scriptCols.reduce((a, b) => greatest(a, b))
    val dominant = ScriptRanges.map { case (n, _) => n }
      .foldRight(lit("none"): Column) { case (n, rest) =>
        when(col(s"n_$n") > 0L && col(s"n_$n") === best, lit(n))
          .otherwise(rest)
      }
    counted
      .withColumn("n_other", other)
      .withColumn("dominant_script", dominant)
      .drop("__t")
  }

  /** Classic UTF-8-read-as-Latin-1/cp1252 DOUBLE-ENCODING artifacts
    * (the ftfy catalogue's high-frequency members): `é` mangles to
    * `Ã©`, curly quotes/dashes to `â€`-prefixed pairs, NBSP/guillemets
    * to `Â`-prefixed pairs. Literal substrings — counting is
    * replace-based, no regex dialect in play.
    */
  val MojibakeArtifacts: Seq[String] = Seq(
    "Ã©", "Ã¨", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã¡", "Ã³", "Ãº", "Ã§",
    "â€", "Â«", "Â»", "Â·", "Â°")

  /** ENCODING-MOJIBAKE detection per document — the corpus-QC pass
    * that catches double-encoded scrapes before they poison tokenizer
    * training and dedup (a mangled `café` ≠ `café`, so near-dup misses
    * it and BPE learns junk merges): counts [[MojibakeArtifacts]]
    * occurrences via length-minus-replace (exact, literal, identical
    * on any engine), reports the per-kilochar micro rate and the flag.
    * Narrow projection, zero shuffles.
    */
  def mojibakeScore(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("__t")
    val counts = MojibakeArtifacts.map { a =>
      (length(t) - length(regexp_replace(t,
        java.util.regex.Pattern.quote(a), ""))) / lit(a.length)
    }
    df.select(col(idCol), col(textCol).as("__t"))
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("mojibake_n", counts.reduce(_ + _).cast("long"))
      .withColumn("mojibake_micro",
        when(col("n_chars") === 0L, 0L)
          .otherwise(expr("(mojibake_n * 1000000) DIV n_chars")))
      .withColumn("is_mojibake", col("mojibake_n") > 0L)
      .drop("__t")
  }
}
