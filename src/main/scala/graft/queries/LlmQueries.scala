package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import QueryUtil._

/** Gate queries for the LLM-data-pipeline operators (SURVEY.md §2.C):
  * text analysis, dedup (exact / jaccard / minhash-LSH / simhash /
  * embedding), and ANN similarity. Near-duplicates are PLANTED via
  * deterministic transforms written identically on both engines, so
  * recall is observable and still hash-exact.
  */
object LlmQueries extends QuerySet {

  // ---- shared Spark-side builders -------------------------------------

  /** documents ∪ perturbed copies (id+1e6, ' zz yy xx' appended),
    * canonicalized — the near-dup corpus for jaccard/minhash/simhash.
    */
  private def docs2(s: SparkSession, dir: String): DataFrame = {
    // tiny single-split source + heavy downstream shingling → fan out
    val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    val canon = lower(cleanAscii(col("text")))
    d.select(col("doc_id").as("id"), canon.as("text"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("id"),
          concat(canon, lit(" zz yy xx")).as("text")))
  }

  /** DuckDB twin of [[docs2]] ('g' flag: replace ALL non-ASCII). */
  private val docs2Sql =
    """docs2 AS (
         SELECT doc_id AS id, lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g')) AS text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS id,
                lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g')) || ' zz yy xx' AS text
         FROM documents WHERE doc_id % 10 = 0)"""

  /** DuckDB rolling hash h=(h*31+cp)%1e9+7 over a string expression. */
  private def rollSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, CAST(length($e) AS INT) + 1),
            i -> CAST(unicode(substr($e, CAST(i AS INT), 1)) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007)"""

  /** DuckDB shingle-hash table (id, x): tokenize → 3-gram → roll → distinct. */
  private val shxSql =
    s"""toks AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM docs2),
        shing AS (SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
            i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
          FROM toks),
        shx AS (SELECT DISTINCT id, ${rollSql("s")} AS x FROM shing)"""

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
  private def stopSql(lang: String): String =
    s"""len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
          t -> t IN (${inList(TextAnalysis.Stopwords.toMap.apply(lang))})))"""

  // ---- text analysis ---------------------------------------------------

  private val q20 = Q(
    "q20_token_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("tok_ws"),
          sum(bpeTokenCount(col("text"))).as("tok_bpe"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang"),
    Some(s"""
      SELECT lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS tok_ws,
        CAST(sum(len(regexp_extract_all(text, '${TextFunctions.BpePattern}'))) AS BIGINT) AS tok_bpe,
        CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang
    """))

  private val q21 = Q(
    "q21_quality",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tok"),
          micro(TextAnalysis.punctRatio(col("text"))).as("punct_micro"),
          micro(TextAnalysis.stopwordRatio(col("text"))).as("stop_micro"),
          micro(TextAnalysis.upperRatio(col("text"))).as("upper_micro"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
        ${microSql("CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text) END")} AS punct_micro,
        ${microSql(s"CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE CAST(${stopSql("en")} AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) END")} AS stop_micro,
        ${microSql("CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text) END")} AS upper_micro
      FROM documents ORDER BY doc_id
    """))

  private val q22 = Q(
    "q22_langid",
    (s, dir) => {
      val hits = TextAnalysis.Stopwords.map { case (l, _) =>
        TextAnalysis.stopwordHits(col("text"), l).as(s"h_$l")
      }
      t(s, dir, "documents")
        .select(col("doc_id") +: hits :+
          TextAnalysis.langId(col("text")).as("pred") :+
          col("lang").as("actual"): _*)
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, h_en, h_de, h_fr, h_es,
        CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
             WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
             WHEN h_fr >= h_es THEN 'fr' ELSE 'es' END AS pred,
        lang AS actual
      FROM (SELECT doc_id, lang,
              ${stopSql("en")} AS h_en, ${stopSql("de")} AS h_de,
              ${stopSql("fr")} AS h_fr, ${stopSql("es")} AS h_es
            FROM documents) h
      ORDER BY doc_id
    """))

  private val q23 = Q(
    "q23_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, ${rollSql("c")} AS fp
      FROM (SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS c
            FROM documents) t
      ORDER BY doc_id
    """))

  /** PII scrub: emails/phones are PLANTED deterministically (doc_id %
    * 7 == 0 gets one of each, value derived from the id) so redaction
    * recall is observable; the gate checks counts per lang AND a rolling
    * hash of every redacted text, proving byte-identical replacement.
    */
  private val q24 = {
    val plantedSql =
      """CASE WHEN doc_id % 7 = 0
           THEN text || ' reach u' || CAST(doc_id AS VARCHAR) || '@ex.com or 555-'
             || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
             || CAST(doc_id % 9000 + 1000 AS VARCHAR)
           ELSE text END"""
    Q(
      "q24_pii_redact",
      (s, dir) => {
        import TextAnalysis._
        val planted = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" reach u"), col("doc_id").cast("string"),
            lit("@ex.com or 555-"), (col("doc_id") % 900 + 100).cast("string"),
            lit("-"), (col("doc_id") % 9000 + 1000).cast("string")))
          .otherwise(col("text"))
        t(s, dir, "documents")
          .select(col("lang"), planted.as("t"))
          .select(col("lang"), emailCount(col("t")).as("ne"),
            phoneCount(col("t")).as("np"),
            TextFunctions.rollingHash(redactPii(col("t"))).as("fp"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("ne") + col("np") > 0, 1L).otherwise(0L)).as("n_pii_docs"),
            sum(col("ne")).as("n_emails"),
            sum(col("np")).as("n_phones"),
            sum(col("fp")).as("redacted_fp"))
          .orderBy("lang")
      },
      Some(s"""
        WITH p AS (SELECT lang, $plantedSql AS t FROM documents),
        r AS (SELECT lang,
                len(regexp_extract_all(t, '${TextAnalysis.EmailRx}')) AS ne,
                len(regexp_extract_all(t, '${TextAnalysis.PhoneRx}')) AS np,
                regexp_replace(regexp_replace(t, '${TextAnalysis.EmailRx}', '<EMAIL>', 'g'),
                  '${TextAnalysis.PhoneRx}', '<PHONE>', 'g') AS red
              FROM p)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
          CAST(sum(ne) AS BIGINT) AS n_emails,
          CAST(sum(np) AS BIGINT) AS n_phones,
          CAST(sum(${rollSql("red")}) AS BIGINT) AS redacted_fp
        FROM r GROUP BY lang ORDER BY lang
      """))
  }

  /** Train/eval decontamination: eval = doc_id % 50 == 0; train = the
    * rest PLUS perturbed eval copies (id + 2e6, ' zz yy xx' tail) so
    * leakage is present and its detection observable. Gate = per-train-doc
    * shared-shingle report (Dedup.contaminationReport — broadcast eval,
    * train side never shuffles).
    */
  private val q25 = Q(
    "q25_decontaminate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val ev = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"), col("text"))
      // tiny single-split scan + heavy shingling → fan out FIRST so the
      // hash work uses every core (same as docs2; bench showed the
      // unfanned version running 1-threaded: wall ≈ exec ≈ 8.5 s)
      val train = d.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("id"), col("text"))
        .unionAll(ev.select((col("id") + 2000000L).as("id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
        .repartition(s.sparkContext.defaultParallelism)
      graft.operators.Dedup.contaminationReport(
          train, ev, "id", "text", n = 3, minShared = 3)
        .orderBy("train_id")
    },
    Some(s"""
      WITH ev AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 = 0),
      tr AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 <> 0
            UNION ALL
            SELECT id + 2000000, text || ' zz yy xx' FROM ev),
      trt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM tr
              WHERE length(trim(text)) > 0),
      trs AS (SELECT DISTINCT id, x FROM (
                SELECT id, ${rollSql("s")} AS x FROM (
                  SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM trt) a) b),
      evt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM ev
              WHERE length(trim(text)) > 0),
      evs AS (SELECT DISTINCT id AS eval_id, x FROM (
                SELECT id, ${rollSql("s")} AS x FROM (
                  SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM evt) a) b)
      SELECT t.id AS train_id,
        count(DISTINCT t.x) AS n_shared_shingles,
        count(DISTINCT e.eval_id) AS n_eval_docs
      FROM trs t JOIN evs e ON t.x = e.x
      GROUP BY t.id HAVING count(DISTINCT t.x) >= 3
      ORDER BY train_id
    """))

  /** Deterministic stratified sampling (domain-mixing weights): keep
    * 50% en / 25% de / 10% zh via the hash gate; es/fr dropped. The
    * id-sum per stratum pins exact membership, not just counts.
    */
  private val q26 = Q(
    "q26_stratified_sample",
    (s, dir) =>
      graft.operators.Sampling.stratified(
          t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang"),
    Some("""
      SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE ((((doc_id % 1000000007) * 2654435761) % 1000000007) % 1000 + 1000) % 1000 <
        CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'zh' THEN 100 ELSE -1 END
      GROUP BY lang ORDER BY lang
    """))

  /** Corpus-wide top-20 bigrams by document frequency — the boilerplate
    * mining pass that feeds dedup's maxDocFreq caps. One shuffle
    * (partial-aggregated map-side); top-k is per-partition take + driver
    * merge, no global sort.
    */
  private val q27 = Q(
    "q27_top_ngrams",
    (s, dir) =>
      // fan out the single-split scan before the ngram explode (1-threaded
      // otherwise: bench wall ≈ exec ≈ 6 s)
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(array_distinct(
          wordNgrams(wsTokens(lower(cleanAscii(col("text")))), 2))).as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(20),
    Some("""
      WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0),
      ng AS (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ngram
            FROM toks)
      SELECT ngram, count(*) AS df FROM ng
      GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20
    """))

  /** Exact per-stratum length quantiles (p50/p90/p99, discrete): corpus
    * length profiling for filter-threshold tuning. percentile_disc
    * semantics implemented with ONE sort-shuffle per stratum (window
    * rank + conditional aggregate) — exact and type-preserving, unlike
    * interpolating percentile() whose float arithmetic is engine-
    * specific. At scale the stratum count bounds parallelism here;
    * for global quantiles over 100 TB the move is quantile sketches —
    * this operator is the exact per-group profile.
    */
  private val q28 = Q(
    "q28_length_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val cw = Window.partitionBy("lang")
      def pick(p: Double) =
        max(when(col("rn") === ceil(col("n") * p), col("n_chars")))
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(cw))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
        .orderBy("lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50,
        percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90,
        percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS p99
      FROM documents GROUP BY lang ORDER BY lang
    """))

  /** Repetition metrics per doc — the duplicate-n-gram fractions used
    * by published corpus-quality rule sets to catch degenerate/looping
    * text. 1 − distinct/total for words, 2-grams, 3-grams; micro-exact
    * (integer counts, one IEEE divide). Narrow projection.
    */
  private val q46 = Q(
    "q46_repetition",
    (s, dir) => {
      // long form, not array HOFs: the first cut computed the token
      // chain 5× per row through interpreted transform/slice lambdas
      // (67 s exec at sf0.1, single-threaded to boot). Here the chain
      // runs once into an explode, n-grams come from window leads over
      // (doc, pos) — one shuffle the aggregation then rides — and
      // everything stays codegen. 67 s exec → ~2 s.
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val tok = d.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          posexplode(wsTokens(lower(cleanAscii(col("text"))))).as(Seq("pos", "w")))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      // concat (not concat_ws): a null lead must void the n-gram, not
      // shorten it
      val grams = tok
        .withColumn("w2", concat(col("w"), lit(" "), lead("w", 1).over(byDoc)))
        .withColumn("w3", concat(col("w2"), lit(" "), lead("w", 2).over(byDoc)))
      def frac(total: org.apache.spark.sql.Column, distinct: org.apache.spark.sql.Column) =
        when(total === 0, 0.0)
          .otherwise(lit(1.0) - distinct.cast("double") / total)
      val metrics = grams.groupBy("doc_id").agg(
        frac(count(col("w")), countDistinct(col("w"))).as("f1"),
        frac(count(col("w2")), countDistinct(col("w2"))).as("f2"),
        frac(count(col("w3")), countDistinct(col("w3"))).as("f3"))
      // explode drops token-less docs; restore them with zero fractions
      d.select(col("doc_id"))
        .join(metrics, Seq("doc_id"), "left")
        .select(col("doc_id"),
          micro(coalesce(col("f1"), lit(0.0))).as("dup_word_micro"),
          micro(coalesce(col("f2"), lit(0.0))).as("dup_2gram_micro"),
          micro(coalesce(col("f3"), lit(0.0))).as("dup_3gram_micro"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH cl AS (SELECT doc_id,
              trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))) AS c
            FROM documents),
      tk AS (SELECT doc_id,
              CASE WHEN length(c) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(c, '\\s+') END AS w
            FROM cl),
      ng AS (SELECT doc_id, w,
              list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]) AS w2,
              list_transform(range(1, CAST(len(w) AS INT) - 1),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]) AS w3
            FROM tk)
      SELECT doc_id,
        ${microSql("CASE WHEN len(w) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END")} AS dup_word_micro,
        ${microSql("CASE WHEN len(w2) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(w2)) AS DOUBLE) / len(w2) END")} AS dup_2gram_micro,
        ${microSql("CASE WHEN len(w3) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(w3)) AS DOUBLE) / len(w3) END")} AS dup_3gram_micro
      FROM ng ORDER BY doc_id
    """))

  /** Composite rule-based quality filter (the published-rule-set shape:
    * token-count bounds, mean word length, stopword floor, alpha-word
    * fraction): per-lang funnel of docs surviving each rule and all
    * rules — ONE conditional-aggregation pass, no per-rule jobs (the
    * q36 lesson applied to filtering).
    */
  private val q47 = Q(
    "q47_rule_filter",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // long form (the q46 lesson): explode the cleaned-token chain ONCE
      // and aggregate the per-doc stats; inlining it into each rule
      // boolean would re-run the regex+split+HOF chain ~6× per row.
      // stopwordHits stays a single per-row filter (raw-text
      // tokenization, matching the oracle's stopSql).
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val tokAgg = d
        .select(col("doc_id"),
          posexplode(wsTokens(lower(cleanAscii(col("text"))))).as(Seq("p", "w")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(length(col("w"))).as("len_sum"),
          sum(when(col("w").rlike("[a-z]"), 1L).otherwise(0L)).as("n_alpha"))
      val rules = d
        .select(col("lang"), col("doc_id"),
          TextAnalysis.stopwordHits(col("text"), "en").as("stops"))
        .join(tokAgg, Seq("doc_id"), "left")
        .select(col("lang"),
          (coalesce(col("n_tok"), lit(0L)) >= 30 &&
            coalesce(col("n_tok"), lit(0L)) <= 50000).as("ok_tok_b"),
          (col("n_tok").isNotNull &&
            col("len_sum").cast("double") / col("n_tok") >= 3.0 &&
            col("len_sum").cast("double") / col("n_tok") <= 10.0).as("ok_len_b"),
          (col("stops") >= 2).as("ok_stop_b"),
          (col("n_alpha").isNotNull &&
            col("n_alpha").cast("double") / col("n_tok") >= 0.8).as("ok_alpha_b"))
      def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      rules
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          n(col("ok_tok_b")).as("ok_tok"), n(col("ok_len_b")).as("ok_len"),
          n(col("ok_stop_b")).as("ok_stop"), n(col("ok_alpha_b")).as("ok_alpha"),
          n(col("ok_tok_b") && col("ok_len_b") && col("ok_stop_b") &&
            col("ok_alpha_b")).as("kept"))
        .orderBy("lang")
    },
    Some(s"""
      WITH cl AS (SELECT lang,
              trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))) AS c,
              text
            FROM documents),
      m AS (SELECT lang,
              CASE WHEN length(c) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(c, '\\s+') END AS w,
              text
            FROM cl),
      f AS (SELECT lang,
              len(w) AS n_tok,
              CASE WHEN len(w) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) END AS mean_len,
              CASE WHEN len(w) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w) END AS alpha_frac,
              ${stopSql("en")} AS stops
            FROM m)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN n_tok BETWEEN 30 AND 50000 THEN 1 ELSE 0 END) AS BIGINT) AS ok_tok,
        CAST(sum(CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS ok_len,
        CAST(sum(CASE WHEN stops >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ok_stop,
        CAST(sum(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS ok_alpha,
        CAST(sum(CASE WHEN n_tok BETWEEN 30 AND 50000 AND mean_len BETWEEN 3.0 AND 10.0
                       AND stops >= 2 AND alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS kept
      FROM f GROUP BY lang ORDER BY lang
    """))

  /** Top-5 distinctive terms per lang: term frequency weighted by
    * cross-stratum rarity (tf × (n_strata − df)) — TF-IDF's shape with
    * integer arithmetic instead of ln(), so the score is engine-exact.
    * Shuffle budget: token explode → (lang, term) count, a vocab-sized
    * df aggregate joined back, one window over per-lang vocab for the
    * top-k. The boilerplate/contamination cousin of q27.
    */
  private val q37 = Q(
    "q37_distinctive_terms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("lang"),
          explode(wsTokens(lower(cleanAscii(col("text"))))).as("term"))
      val tf = tok.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nLangs = lit(5L)
      val w = Window.partitionBy("lang")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df_, "term")
        .withColumn("score", col("tf") * (nLangs - col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
        .orderBy("lang", "rnk")
    },
    Some("""
      WITH cl AS (SELECT lang,
              trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))) AS c
            FROM documents),
      -- guard on the CLEANED text: a doc that is non-empty but has no
      -- printable ASCII would otherwise fabricate a '' term (split of ''
      -- yields ['']) that Spark's wsTokens never produces
      tok AS (SELECT lang, unnest(string_split_regex(c, '\s+')) AS term
            FROM cl WHERE length(c) > 0),
      tf AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      sc AS (SELECT lang, term, tf, df, tf * (5 - df) AS score,
               row_number() OVER (PARTITION BY lang
                 ORDER BY tf * (5 - df) DESC, term) AS rnk
             FROM tf JOIN df USING (term))
      SELECT lang, rnk, term, tf, df, score
      FROM sc WHERE rnk <= 5 ORDER BY lang, rnk
    """))

  /** Sequence packing into 2048-token context windows, sharded by lang
    * (Packing.packByBudget): per-pack doc counts and token totals. The
    * deterministic running-sum assignment makes the pack layout itself
    * oracle-checkable.
    */
  private val q29 = Q(
    "q29_seq_packing",
    (s, dir) =>
      graft.operators.Packing.packByBudget(
          t(s, dir, "documents").select(col("lang"), col("doc_id"), col("text")),
          "lang", "doc_id", tokenCount(col("text")).cast("long"), capacity = 2048L)
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "pack_id"),
    Some("""
      WITH dt AS (SELECT lang, doc_id,
              CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok
            FROM documents),
      cb AS (SELECT lang, doc_id, n_tok,
              COALESCE(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
            FROM dt)
      SELECT lang, cum_before // 2048 AS pack_id, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS tok_sum,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM cb GROUP BY lang, cum_before // 2048 ORDER BY lang, pack_id
    """))

  /** Incremental dedup gate: the "ingested" half is docs with
    * doc_id < 250, the arriving batch is the rest PLUS exact copies of
    * ingested docs under new ids (exact dedup can only catch exact
    * text) — kept = batch docs whose text is new to the corpus, first
    * of their digest in-batch.
    */
  private val q39 = Q(
    "q39_incremental_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val ingested = d.filter(col("doc_id") < 250)
        .select(col("doc_id").as("id"), col("text"))
      val batch = d.filter(col("doc_id") >= 250)
        .select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") < 250 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3000000L).as("id"), col("text")))
      // Bloom-fronted path (exact — no false negatives): bloom-negative
      // batch rows bypass the index entirely; the positive sliver is
      // checked via broadcast semi/anti joins, never an index shuffle
      val seen = Dedup.digests(ingested, "text")
      Dedup.incrementalExactBloom(batch, seen, "id", "text",
          Dedup.digestBloom(seen, expectedItems = 1000))
        .groupBy()
        .agg(count(lit(1)).as("n_kept"), sum(col("id")).as("id_sum"))
    },
    Some("""
      WITH ingested AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
      batch AS (SELECT doc_id AS id, text FROM documents WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 3000000, text FROM documents
                WHERE doc_id < 250 AND doc_id % 5 = 0),
      firstb AS (SELECT md5(text) AS h, min(id) AS id FROM batch GROUP BY md5(text)),
      kept AS (SELECT b.id FROM batch b
               JOIN firstb f ON f.h = md5(b.text) AND f.id = b.id
               WHERE md5(b.text) NOT IN (SELECT DISTINCT md5(text) FROM ingested))
      SELECT count(*) AS n_kept, CAST(sum(id) AS BIGINT) AS id_sum FROM kept
    """))

  // ---- dedup ----------------------------------------------------------

  private val q30 = Q(
    "q30_exact_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val both = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), col("text")))
      Dedup.exact(both, "id", "text")
        .filter(col("dup_count") > 1)
        .select(col("id").as("keep_id"), col("dup_count").as("n"))
        .orderBy("keep_id")
    },
    Some("""
      WITH docs2 AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 10 = 0)
      SELECT min(id) AS keep_id, count(*) AS n
      FROM docs2 GROUP BY md5(text) HAVING count(*) > 1
      ORDER BY keep_id
    """))

  private val q31 = Q(
    "q31_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(docs2(s, dir), "id", "text", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), micro(col("jaccard")).as("jac_micro"))
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $docs2Sql, $shxSql,
      sizes AS (SELECT id, count(*) AS n_sh FROM shx GROUP BY id),
      inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
                FROM shx a JOIN shx b ON a.x = b.x AND a.id < b.id
                GROUP BY 1, 2),
      j AS (SELECT id_a, id_b,
              CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) AS jaccard
            FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b)
      SELECT id_a, id_b, ${microSql("jaccard")} AS jac_micro
      FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b
    """))

  /** Verbatim shared-span pairs (Dedup.sharedSpanPairs) — the
    * ExactSubstr-style detector for long quotes/boilerplate that
    * jaccard under-reports on long docs: docs sharing ≥ 3 distinct
    * 5-token spans. Same equi-join-on-hash shape as q31; the oracle
    * replays 5-token windows with the same rolling hash.
    */
  private val q85 = Q(
    "q85_shared_spans",
    (s, dir) =>
      Dedup.sharedSpanPairs(docs2(s, dir), "id", "text", span = 5, minShared = 3)
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $docs2Sql,
      toks5 AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM docs2),
      spans AS (SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 3),
          i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' ||
               w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3] || ' ' ||
               w[CAST(i AS INT) + 4])) AS s
        FROM toks5),
      spx AS (SELECT DISTINCT id, ${rollSql("s")} AS x FROM spans)
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
      FROM spx a JOIN spx b ON a.x = b.x AND a.id < b.id
      GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY id_a, id_b
    """))

  /** DuckDB CTE chain `mh → bands → cand`: minhash-LSH candidate pairs
    * over `shx` (shared by q32 and q38's clustering oracle).
    */
  private val mhCandSql = {
    val bands = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
      s"${cols.mkString(" || '_' || ")} AS b$b"
    }
    val mins = MinhashA.indices.map(j =>
      s"min((x * ${MinhashA(j)} + ${MinhashB(j)}) % 1000000007) AS m$j")
    val unions = (0 until 4).map(b =>
      s"SELECT a.id AS id_a, b.id AS id_b FROM bands a JOIN bands b ON a.id < b.id AND a.b$b = b.b$b")
    s"""mh AS (SELECT id, ${mins.mkString(", ")} FROM shx GROUP BY id),
        bands AS (SELECT id, ${bands.mkString(", ")} FROM mh),
        cand AS (${unions.mkString(" UNION ")})"""
  }

  private val q32 = Q(
    "q32_minhash_lsh",
    (s, dir) =>
      Dedup.minhashLshPairs(docs2(s, dir), "id", "text", n = 3, bands = 4)
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $docs2Sql, $shxSql, $mhCandSql
      SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
    """))

  /** Near-dup clustering: minhash-LSH pairs → connected components →
    * per-cluster summary. Closes the dedup loop: transitive a↔b↔c
    * groups become ONE cluster (one survivor), which pair lists alone
    * can't express. Oracle = recursive reachability in DuckDB (min
    * reachable id ≡ the component's min-id label).
    */
  private val q38 = Q(
    "q38_dedup_cluster",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(docs2(s, dir), "id", "text", n = 3, bands = 4)
      Dedup.connectedComponents(pairs)
        .groupBy(col("comp").as("cluster"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_sum"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH RECURSIVE $docs2Sql, $shxSql, $mhCandSql,
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION SELECT id_b, id_a FROM cand),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      SELECT comp AS cluster, count(*) AS n_members,
        CAST(sum(id) AS BIGINT) AS id_sum
      FROM cc GROUP BY comp ORDER BY cluster
    """))

  /** DuckDB twin of Dedup.simhashTable's 64-bit construction: bits 0-29
    * from the rolling hash, 30-59 / 60-63 from two affine rehashes mod
    * 999999937; the unsigned value is accumulated as HUGEINT and
    * converted two's-complement to signed BIGINT (bit 63 = sign) to
    * match Spark's LongType exactly. `usim` (the unsigned HUGEINT) is
    * kept for sign-safe banding in q35.
    */
  private val simSql =
    // the WHERE guard mirrors Spark's wsTokens: an empty/whitespace-only
    // doc has NO tokens (DuckDB's split of '' yields [''], which would
    // fabricate a hash-0 token and a spurious simhash row)
    s"""toks AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w
               FROM docs2 WHERE length(trim(text)) > 0),
      tokh AS (SELECT DISTINCT id, ${rollSql("s")} AS x1
               FROM (SELECT id, unnest(w) AS s FROM toks) u),
      tokh3 AS (SELECT id, x1, (x1 * 48271 + 11) % 999999937 AS x2,
                  (((x1 * 48271 + 11) % 999999937) * 48271 + 11) % 999999937 AS x3
                FROM tokh),
      bits AS (SELECT unnest(range(0, 64)) AS b),
      votes AS (SELECT id, b,
                  SUM(CASE WHEN (CASE WHEN b < 30 THEN x1 >> CAST(b AS INT)
                                      WHEN b < 60 THEN x2 >> CAST(b - 30 AS INT)
                                      ELSE x3 >> CAST(b - 60 AS INT) END) & 1 = 1
                           THEN 1 ELSE -1 END) AS v
                FROM tokh3 CROSS JOIN bits GROUP BY id, b),
      simu AS (SELECT id,
                 SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
                          ELSE CAST(0 AS HUGEINT) END) AS usim
               FROM votes GROUP BY id),
      sim AS (SELECT id, usim,
                CAST(CASE WHEN usim >= CAST(1 AS HUGEINT) << 63
                          THEN usim - (CAST(1 AS HUGEINT) << 64)
                          ELSE usim END AS BIGINT) AS simhash
              FROM simu)"""

  private val q33 = Q(
    "q33_simhash",
    (s, dir) =>
      Dedup.simhashTable(docs2(s, dir), "id", "text").orderBy("id"),
    Some(s"""
      WITH $docs2Sql,
      $simSql
      SELECT id, simhash FROM sim ORDER BY id
    """))

  /** SimHash near-dup pairs via 16-bit banding + exact hamming filter.
    * The gate aggregates the pair distribution rather than materializing
    * pair rows (the operator itself returns pairs). Banding happens on
    * the unsigned HUGEINT (`usim`) because DuckDB's BIGINT >> is an
    * arithmetic (sign-extending) shift.
    */
  private val q35 = Q(
    "q35_simhash_pairs",
    (s, dir) =>
      Dedup.simhashNearDupPairs(docs2(s, dir), "id", "text", maxHamming = 6)
        .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
        .orderBy("hamming"),
    Some(s"""
      WITH $docs2Sql,
      $simSql,
      banded AS (SELECT id, simhash,
                   CAST((usim >> CAST(band * 16 AS INT)) & 65535 AS BIGINT) AS key, band
                 FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb),
      cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.key = b.key AND a.id < b.id)
      SELECT hamming, count(*) AS n_pairs FROM cand
      WHERE hamming <= 6 GROUP BY hamming ORDER BY hamming
    """))

  /** End-to-end corpus cleaning: exact-dedup (keep min id per digest)
    * then quality filter — the composed pipeline shape, with a funnel
    * summary as output.
    *
    * ONE lazy plan, ONE pass over the corpus: the per-digest aggregate
    * carries each stage's contribution (dup_count for the pre-dedup
    * total, the row itself for post-dedup, a conditional flag for
    * post-quality), and a final global aggregate rolls the funnel up.
    * No driver actions inside the builder — the round-2 version ran
    * three count() jobs, recomputing the union+dedup lineage thrice
    * (3× the I/O at 100 TB). CorpusCleanSpec pins the zero-action
    * contract.
    */
  private val q36 = Q(
    "q36_corpus_clean",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val both = d.select(col("doc_id").as("id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), col("text")))
      both
        .groupBy(Dedup.contentHash(col("text")).as("__h"))
        // texts within a digest group are identical, so first() is
        // deterministic here; dup_count feeds the pre-dedup total
        .agg(count(lit(1)).as("__dups"), first(col("text")).as("text"))
        .agg(
          sum(col("__dups")).as("n_total"),
          count(lit(1)).as("n_after_dedup"),
          sum(when(tokenCount(col("text")) >= lit(30), 1L).otherwise(0L))
            .as("n_after_quality"))
    },
    Some("""
      WITH both_docs AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 10 = 0),
      deduped AS (
        SELECT min(id) AS id, any_value(text) AS text
        FROM both_docs GROUP BY md5(text)),
      kept AS (SELECT * FROM deduped
        WHERE len(string_split_regex(trim(text), '\s+')) >= 30)
      SELECT (SELECT count(*) FROM both_docs) AS n_total,
             (SELECT count(*) FROM deduped) AS n_after_dedup,
             (SELECT count(*) FROM kept) AS n_after_quality
    """))

  // ---- similarity -----------------------------------------------------

  /** DuckDB double dot product of list expressions (dim 64). */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, 65), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])),
          (x, y) -> x + y)"""

  private val embSql =
    """emb2 AS (
         SELECT vec_id AS id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.02 + 0.01) AS v
         FROM embeddings WHERE vec_id % 20 = 0)"""

  private def emb2(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    e.select(col("vec_id").as("id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .unionAll(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("id"), col("label"),
          transform(col("embedding"), x => x.cast("double") * 1.02 + 0.01).as("v")))
  }

  private val q34 = Q(
    "q34_embed_neardup",
    (s, dir) =>
      Dedup.embeddingNearDupPairs(emb2(s, dir), "id", "v", "label", threshold = 0.8)
        .select(col("id_a"), col("id_b"), micro(col("cosine")).as("cos_micro"))
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $embSql,
      en AS (SELECT id, label, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb2),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b,
                  ${dotSql("a.v", "b.v")} / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) AS cosine
                FROM en a JOIN en b ON a.label = b.label AND a.id < b.id)
      SELECT id_a, id_b, ${microSql("cosine")} AS cos_micro
      FROM pairs WHERE cosine >= 0.8 ORDER BY id_a, id_b
    """))

  private val q40 = Q(
    "q40_cosine_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .select(col("probe_id"), col("cand_id"), col("rnk"),
          micro(col("cosine")).as("cos_micro"))
        .orderBy("probe_id", "rnk")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      pr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      rk AS (SELECT probe_id, cand_id, cosine,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM pr)
      SELECT probe_id, cand_id, rnk, ${microSql("cosine")} AS cos_micro
      FROM rk WHERE rnk <= 10 ORDER BY probe_id, rnk
    """))

  /** LSH-bucketed ANN (the scale path next to q40's brute force):
    * 6 random-hyperplane sign bits → 64 buckets; probes only scan their
    * bucket. Plane values come from one integer formula so both engines
    * build bit-identical planes: plane[p][i] = ((p*7+i*13)%17 - 8)/8.
    */
  private val LshPlanes: Seq[Seq[Double]] = (0 until 6).map(p =>
    (0 until 64).map(i => ((p * 7 + i * 13) % 17 - 8) / 8.0))

  /** Spark side of the LSH-ANN search: bucket everything, each probe
    * scans the buckets at `bucket XOR flip` for every flip (flip 0 = its
    * own bucket; one-bit flips = Hamming-1 multi-probe), top-k by cosine
    * with id tiebreak. Single-probe q41 and multi-probe q45 are the same
    * builder with different flip sets — they can't drift apart.
    * Buckets partition the corpus and flips are distinct, so a candidate
    * appears under at most one probed bucket: no dedup before ranking.
    */
  private def lshTopK(
      s: SparkSession, dir: String, k: Int,
      flips: Seq[Long] = Seq(0L)): DataFrame = {
    val e = t(s, dir, "embeddings").select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), LshPlanes))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        explode(array(flips.map(f => col("bucket").bitwiseXOR(lit(f))): _*)).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id").asc)
    e.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", Similarity.cosine(col("v"), col("pv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("cand_id"), col("rnk"), col("cosine"))
  }

  /** DuckDB CTE chain `e → eb → lpr → lrk`: LSH-bucketed top-k ranking
    * (bucket = Σ_p (dot(v, plane_p) > 0 ? 2^p : 0), dot as an ordered
    * fold to match Spark). Shared by q41 and q44.
    */
  private val lshRankSql = {
    def planeDotSql(p: Int): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 65),
              i -> v[CAST(i AS INT)] * (CAST((($p * 7 + (CAST(i AS INT) - 1) * 13) % 17) - 8 AS DOUBLE) / 8.0))),
            (x, y) -> x + y)"""
    val bucketSql = (0 until 6).map(p =>
      s"CASE WHEN ${planeDotSql(p)} > 0 THEN ${1L << p} ELSE 0 END").mkString(" + ")
    s"""eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        lpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
               FROM eb c JOIN (SELECT * FROM eb WHERE vec_id < 5) p USING (bucket)
               WHERE c.vec_id <> p.vec_id),
        lrk AS (SELECT probe_id, cand_id, cosine,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
               FROM lpr)"""
  }

  /** Hamming-1 multi-probe flip set: own bucket + one sign-bit flip per
    * plane (7 buckets/probe) — the recall lever q44's measurement calls
    * for; probe side fans out 7× but stays broadcast, the corpus is
    * still scanned once, narrowly.
    */
  private val MultiProbeFlips: Seq[Long] =
    0L +: (0 until LshPlanes.size).map(p => 1L << p)

  private val q41 = Q(
    "q41_lsh_ann",
    (s, dir) =>
      lshTopK(s, dir, 5)
        .select(col("probe_id"), col("cand_id"), col("rnk"),
          micro(col("cosine")).as("cos_micro"))
        .orderBy("probe_id", "rnk"),
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      $lshRankSql
      SELECT probe_id, cand_id, rnk, ${microSql("cosine")} AS cos_micro
      FROM lrk WHERE rnk <= 5 ORDER BY probe_id, rnk
    """))

  /** ANN quality evaluation: recall@5 of the LSH index against the
    * brute-force ground truth, per probe — the metric that decides
    * whether a bucketing scheme is shippable. Both sides reuse the
    * gate-checked search paths; matching is an equi-join on
    * (probe, candidate).
    */
  private val q44 = Q(
    "q44_ann_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .select(col("probe_id"), col("cand_id"))
      val lsh = lshTopK(s, dir, 5).select(col("probe_id"), col("cand_id"))
      val matches = brute.join(lsh, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      $lshRankSql,
      l5 AS (SELECT probe_id, cand_id FROM lrk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM l5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** IVF nprobe=2 recall@5: probes scan their TWO nearest cells instead
    * of one — the IVF counterpart of q45's multi-probe flip set, closing
    * the evaluation loop for the coarse quantizer too. Probe-side cell
    * fan-out only (2 rows per probe, broadcast); the corpus is still
    * assigned narrowly and scanned once.
    */
  private val q48 = Q(
    "q48_ivf_nprobe_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .select(col("probe_id"), col("cand_id"))

      val ev = e.select(col("vec_id"), col("embedding").as("v"))
      val cents = ev.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = Similarity.ivfAssign(ev, cents)
      val probes2 = Similarity.ivfAssignTopN(
          ev.filter(col("vec_id") < 5), cents, nprobe = 2)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cell"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id").asc)
      val ivf5 = assigned.join(broadcast(probes2), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cosine", Similarity.cosine(col("v"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("probe_id"), col("vec_id").as("cand_id"))

      val matches = brute.join(ivf5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH $ivfAsgSql,
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      p2 AS (SELECT vec_id AS probe_id, v AS pv, cid AS cell FROM (
               SELECT e.vec_id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c WHERE e.vec_id < 5) x WHERE rn <= 2),
      ipr AS (SELECT p.probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.pv")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.pv", "p.pv")})) AS cosine
             FROM asg c JOIN p2 p USING (cell)
             WHERE c.vec_id <> p.probe_id),
      irk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM ipr),
      i5 AS (SELECT probe_id, cand_id FROM irk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM i5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** Multi-probe LSH recall@5: q44's metric re-measured with Hamming-1
    * bucket probing — the tuning move q44's low recall calls for,
    * verified to help by the same ground-truth comparison.
    */
  private val q45 = Q(
    "q45_multiprobe_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
        .select(col("probe_id"), col("cand_id"))
      val multi = lshTopK(s, dir, 5, MultiProbeFlips)
        .select(col("probe_id"), col("cand_id"))
      val matches = brute.join(multi, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      $lshRankSql,
      flips AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS f),
      mpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM (SELECT * FROM eb WHERE vec_id < 5) p
             CROSS JOIN flips
             JOIN eb c ON c.bucket = xor(p.bucket, flips.f)
             WHERE c.vec_id <> p.vec_id),
      mrk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
             FROM mpr),
      m5 AS (SELECT probe_id, cand_id FROM mrk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM m5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** IVF ANN (nprobe=1): 8 fixed centroids (vec_id 100..107), every
    * vector assigned to its nearest cell by L2, probes scan only their
    * own cell. The coarse-quantizer shape of a production ANN index,
    * fully oracle-checked.
    */
  /** DuckDB CTE chain `e → cent → asg`: IVF cell assignment (nearest
    * centroid by L2, cid tiebreak) — shared by q42 and q43.
    */
  /** DuckDB ordered-fold squared L2 (dim 64) — matches VectorExprs.l2sq. */
  private def l2Sql(a: String, b: String): String = l2DimSql(a, b, 64)

  /** DuckDB ordered-fold squared L2 over the first `dim` components —
    * the same left fold (0.0-seeded, index order) VectorExprs.l2sq
    * runs, so IEEE bits agree.
    */
  private def l2DimSql(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, ${dim + 1}),
            i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))),
          (x, y) -> x + y)"""

  // lazy: referenced by q48, which is declared earlier in the file
  private lazy val ivfAsgSql = {
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id BETWEEN 100 AND 107),
        asg AS (SELECT vec_id, v, cid AS cell FROM (
                  SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
                  FROM e CROSS JOIN cent c) x WHERE rn = 1)"""
  }

  private val q42 = {
    Q(
      "q42_ivf_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(
          col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        val cents = e.filter(col("vec_id").between(100, 107))
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val assigned = Similarity.ivfAssign(e, cents)
        val probes = assigned.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("cell"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id").asc)
        assigned.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cosine", Similarity.cosine(col("v"), col("pv")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("probe_id"), col("vec_id").as("cand_id"), col("rnk"),
            micro(col("cosine")).as("cos_micro"))
          .orderBy("probe_id", "rnk")
      },
      Some(s"""
        WITH $ivfAsgSql,
        pr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
               FROM asg c JOIN (SELECT * FROM asg WHERE vec_id < 5) p USING (cell)
               WHERE c.vec_id <> p.vec_id),
        rk AS (SELECT probe_id, cand_id, cosine,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
               FROM pr)
        SELECT probe_id, cand_id, rnk, ${microSql("cosine")} AS cos_micro
        FROM rk WHERE rnk <= 5 ORDER BY probe_id, rnk
      """))
  }

  /** One Lloyd iteration of IVF centroid training (Similarity.kmeansStep):
    * long-form per-(cell, dim) means with decimal-exact sums so the
    * result is bit-deterministic under any partitioning.
    */
  private val q43 = Q(
    "q43_kmeans_step",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = e.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      Similarity.kmeansStep(e, cents)
        .select(col("cell"), col("dim"), col("n"), micro(col("c")).as("c_micro"))
        .orderBy("cell", "dim")
    },
    Some(s"""
      WITH $ivfAsgSql,
      grid AS (SELECT unnest(range(1, 65)) AS dim),
      lf AS (SELECT cell, CAST(dim AS INT) AS dim,
               CAST(v[CAST(dim AS INT)] AS DECIMAL(18,6)) AS x
             FROM asg CROSS JOIN grid)
      SELECT cell, dim, count(*) AS n,
        ${microSql(avg6Sql("sum(x)", "count(*)"))} AS c_micro
      FROM lf GROUP BY cell, dim ORDER BY cell, dim
    """))

  /** DuckDB ordered-fold squared L2 over a 16-dim subvector slice. */
  private def l2Slice16Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, 17),
            i -> ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) * ($a[CAST(i AS INT)] - $b[CAST(i AS INT)]))),
          (x, y) -> x + y)"""

  /** Product-quantization recall@5: the corpus PQ-encoded into 4 codes
    * of 8 codewords (seed rows 200-207, like IVF's seeded centroids),
    * probes searched via ADC table lookups only, measured against exact
    * L2 ground truth — the memory-bound index variant's ship/no-ship
    * gate next to q44 (LSH), q45 (multi-probe), q48 (IVF nprobe).
    */
  private val q65 = Q(
    "q65_pq_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val books = Similarity.pqCodebooks(
        e.filter(col("vec_id").between(200, 207)), m = 4)
      val codes = Similarity.pqEncode(e, books)
      val pq5 = Similarity.pqAdcTopK(codes, e.filter(col("vec_id") < 5), books, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      cw AS (SELECT vec_id - 200 AS k, v FROM e WHERE vec_id BETWEEN 200 AND 207),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      cdist AS (SELECT e.vec_id, ms.m, cw.k,
               ${l2Slice16Sql("list_slice(e.v, ms.m * 16 + 1, ms.m * 16 + 16)",
                              "list_slice(cw.v, ms.m * 16 + 1, ms.m * 16 + 16)")} AS d
             FROM e CROSS JOIN ms CROSS JOIN cw),
      ccode AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
               FROM cdist) x WHERE rn = 1),
      adc AS (SELECT pd.vec_id AS probe_id, cc.vec_id AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccode cc
             JOIN (SELECT * FROM cdist WHERE vec_id < 5) pd
               ON pd.m = cc.m AND pd.k = cc.k
             WHERE cc.vec_id <> pd.vec_id
             GROUP BY pd.vec_id, cc.vec_id),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${l2Sql("c.v", "p.v")} AS d
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** One DuckDB Lloyd step over PQ codebooks: assignment under the
    * previous books (`tcw${i-1}`) → decimal-exact per-(m, k, dim)
    * means → refreshed `tcw$i` (empty cells keep the old codeword).
    * Mirrors [[Similarity.pqTrainStep]] CTE for CTE.
    */
  private def pqTrainCteSql(i: Int): String =
    s"""cd$i AS (SELECT e.vec_id, t.m, t.k,
             ${l2Slice16Sql(s"list_slice(e.v, t.m * 16 + 1, t.m * 16 + 16)", "t.v")} AS d
           FROM e CROSS JOIN tcw${i - 1} t),
        cc$i AS (SELECT vec_id, m, k FROM (
             SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
             FROM cd$i) x WHERE rn = 1),
        mean$i AS (SELECT cc$i.m, cc$i.k, dims.dim, count(*) AS n,
             ${avg6Sql(s"sum(CAST(e.v[cc$i.m * 16 + dims.dim] AS DECIMAL(18,6)))", "count(*)")} AS c
           FROM cc$i JOIN e USING (vec_id) CROSS JOIN dims
           GROUP BY cc$i.m, cc$i.k, dims.dim),
        tcw$i AS (SELECT t.m, t.k, list(COALESCE(mn.c, t.v[d.dim]) ORDER BY d.dim) AS v
           FROM tcw${i - 1} t CROSS JOIN dims d
           LEFT JOIN mean$i mn ON mn.m = t.m AND mn.k = t.k AND mn.dim = d.dim
           GROUP BY t.m, t.k)"""

  /** Trained-PQ recall@5: three per-subspace Lloyd iterations refine
    * the seed codebooks (decimal-exact means — bit-deterministic),
    * then the SAME encode/ADC/recall pipeline as q65 re-measures:
    * recall@5 triples vs q65's seeded books (0.04 → 0.12 at sf0.001).
    * The tuning loop q65's low seeded recall calls for, closed and
    * oracle-checked end to end — DuckDB recomputes all three training
    * steps too (generated CTE chain, one per step).
    */
  private val PqTrainSteps = 3
  private val q66 = Q(
    "q66_pq_trained_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      var books = Similarity.pqCodebooks(
        e.filter(col("vec_id").between(200, 207)), m = 4)
      for (_ <- 0 until PqTrainSteps) books = Similarity.pqTrainStep(e, books)
      val codes = Similarity.pqEncode(e, books)
      val pq5 = Similarity.pqAdcTopK(codes, e.filter(col("vec_id") < 5), books, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      cw AS (SELECT vec_id - 200 AS k, v FROM e WHERE vec_id BETWEEN 200 AND 207),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      dims AS (SELECT CAST(unnest(range(1, 17)) AS INT) AS dim),
      tcw0 AS (SELECT ms.m, cw.k,
                list_slice(cw.v, ms.m * 16 + 1, ms.m * 16 + 16) AS v
              FROM ms CROSS JOIN cw),
      ${(1 to PqTrainSteps).map(pqTrainCteSql).mkString(",\n      ")},
      cdF AS (SELECT e.vec_id, t.m, t.k,
               ${l2Slice16Sql("list_slice(e.v, t.m * 16 + 1, t.m * 16 + 16)", "t.v")} AS d
             FROM e CROSS JOIN tcw$PqTrainSteps t),
      ccF AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
               FROM cdF) x WHERE rn = 1),
      adc AS (SELECT pd.vec_id AS probe_id, cc.vec_id AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccF cc
             JOIN (SELECT * FROM cdF WHERE vec_id < 5) pd
               ON pd.m = cc.m AND pd.k = cc.k
             WHERE cc.vec_id <> pd.vec_id
             GROUP BY pd.vec_id, cc.vec_id),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${l2Sql("c.v", "p.v")} AS d
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** IVF+PQ composed recall@5 — the production billion-vector layout,
    * measured: corpus assigned to IVF cells (seed centroids 100-107,
    * like q42) AND PQ-encoded (seed books 200-207, like q65); search =
    * probe's top-2 cells (exact probe→centroid L2) + ADC restricted to
    * those cells (Similarity.pqAdcTopKInCells — probe side broadcast,
    * corpus never re-shuffles). Gated against exact L2 ground truth;
    * the spec additionally gates it ≥ plain-PQ q65 on the same data —
    * the cell restriction prunes quantization false-positives, so
    * composing the two indexes must not cost recall here.
    */
  private val q67 = Q(
    "q67_ivfpq_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = e.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val books = Similarity.pqCodebooks(
        e.filter(col("vec_id").between(200, 207)), m = 4)
      // assign + encode compose into ONE narrow projection chain: the
      // corpus is scanned once and never shuffled
      val codes = Similarity.pqEncode(
        Similarity.ivfAssign(e, cents), books, keep = Seq("cell"))
      val probes = Similarity.ivfAssignTopN(
        e.filter(col("vec_id") < 5), cents, nprobe = 2)
      val pq5 = Similarity.pqAdcTopKInCells(codes, probes, books, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH $ivfAsgSql,
      pcell AS (SELECT probe_id, cell FROM (
               SELECT e.vec_id AS probe_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c WHERE e.vec_id < 5) x WHERE rn <= 2),
      cw AS (SELECT vec_id - 200 AS k, v FROM e WHERE vec_id BETWEEN 200 AND 207),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      cdist AS (SELECT e.vec_id, ms.m, cw.k,
               ${l2Slice16Sql("list_slice(e.v, ms.m * 16 + 1, ms.m * 16 + 16)",
                              "list_slice(cw.v, ms.m * 16 + 1, ms.m * 16 + 16)")} AS d
             FROM e CROSS JOIN ms CROSS JOIN cw),
      ccode AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
               FROM cdist) x WHERE rn = 1),
      adc AS (SELECT pd.vec_id AS probe_id, cc.vec_id AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccode cc
             JOIN asg a ON a.vec_id = cc.vec_id
             JOIN pcell pc ON pc.cell = a.cell
             JOIN (SELECT * FROM cdist WHERE vec_id < 5) pd
               ON pd.vec_id = pc.probe_id AND pd.m = cc.m AND pd.k = cc.k
             WHERE cc.vec_id <> pc.probe_id
             GROUP BY pd.vec_id, cc.vec_id),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${l2Sql("c.v", "p.v")} AS d
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** RESIDUAL IVF+PQ recall@5 — q67 upgraded to the encoding every
    * production IVF+PQ index actually uses: corpus vectors PQ-encode
    * their residual v − c[cell] (via per-cell SHIFTED codebooks, so the
    * whole path stays inlined-argmin codegen — no array-HOF residual
    * materialization), seeds' codewords are their own residuals, and
    * ADC looks up ‖probe − (c[cell] + r[code])‖². Residuals cluster far
    * tighter than raw vectors, so recall must not drop vs q67 at the
    * same M×K budget (spec-gated).
    */
  private val q69 = Q(
    "q69_ivfpq_residual_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // hoist the centroid collect: the five centroid-consuming ops
      // below each re-collect their centroid argument at plan-build
      // time, and against the parquet-derived frame that was five tiny
      // jobs re-scanning embeddings; against the LocalRelation re-wrap
      // it is driver-side and free (same values, same freeze semantics)
      val cents = Similarity.centroidFrame(s, Similarity.collectCentroids(
        e.filter(col("vec_id").between(100, 107))
          .select(col("vec_id").as("cid"), col("v").as("cv"))))
      // residual seed books: each seed's codeword is (seed − its own
      // cell centroid), the residual-space analogue of pqCodebooks
      val books = Similarity.seedResidualBooks(
        e.filter(col("vec_id").between(200, 207)), cents, m = 4)
      val codes = Similarity.pqEncodeResidual(
        Similarity.ivfAssign(e, cents), cents, books)
      val probes = Similarity.ivfAssignTopN(
        e.filter(col("vec_id") < 5), cents, nprobe = 2)
      val pq5 = Similarity.pqAdcTopKResidual(codes, probes, cents, books, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH $ivfAsgSql,
      pcell AS (SELECT probe_id, cell FROM (
               SELECT e.vec_id AS probe_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c WHERE e.vec_id < 5) x WHERE rn <= 2),
      scell AS (SELECT vec_id, cid FROM (
               SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c
               WHERE e.vec_id BETWEEN 200 AND 207) x WHERE rn = 1),
      rcw AS (SELECT s.vec_id - 200 AS k,
               list_transform(range(1, 65),
                 i -> s.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS rv
             FROM e s
             JOIN scell sc ON sc.vec_id = s.vec_id
             JOIN cent c ON c.cid = sc.cid
             WHERE s.vec_id BETWEEN 200 AND 207),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      scw AS (SELECT c.cid, ms.m, r.k,
               list_transform(range(1, 17),
                 i -> c.cv[CAST(ms.m * 16 + i AS INT)] + r.rv[CAST(ms.m * 16 + i AS INT)]) AS v
             FROM cent c CROSS JOIN ms CROSS JOIN rcw r),
      cdist AS (SELECT a.vec_id, s.m, s.k,
               ${l2Slice16Sql("list_slice(a.v, s.m * 16 + 1, s.m * 16 + 16)", "s.v")} AS d
             FROM asg a JOIN scw s ON s.cid = a.cell),
      ccode AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
               FROM cdist) x WHERE rn = 1),
      pd AS (SELECT pc.probe_id, pc.cell, s.m, s.k,
               ${l2Slice16Sql("list_slice(p.v, s.m * 16 + 1, s.m * 16 + 16)", "s.v")} AS d
             FROM pcell pc
             JOIN e p ON p.vec_id = pc.probe_id
             JOIN scw s ON s.cid = pc.cell),
      adc AS (SELECT pd.probe_id, cc.vec_id AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccode cc
             JOIN asg a ON a.vec_id = cc.vec_id
             JOIN pd ON pd.cell = a.cell AND pd.m = cc.m AND pd.k = cc.k
             WHERE cc.vec_id <> pd.probe_id
             GROUP BY pd.probe_id, cc.vec_id),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${l2Sql("c.v", "p.v")} AS d
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** One DuckDB Lloyd step over RESIDUAL PQ codebooks: the previous
    * books (`tcw${i-1}`) shift per cell (`scw$i = c + r`), assignment
    * runs on the ORIGINAL vectors against the shifted codewords — the
    * exact formulation the Spark codegen uses, so IEEE bits agree —
    * and re-estimation takes decimal-exact means of the residual
    * components (`rsd`). Mirrors [[Similarity.pqTrainStepResidual]]
    * CTE for CTE.
    */
  private def pqResidTrainCteSql(i: Int): String =
    s"""scw$i AS (SELECT c.cid, t.m, t.k,
             list_transform(range(1, 17),
               j -> c.cv[CAST(t.m * 16 + j AS INT)] + t.v[CAST(j AS INT)]) AS v
           FROM cent c CROSS JOIN tcw${i - 1} t),
        cd$i AS (SELECT a.vec_id, s.m, s.k,
             ${l2Slice16Sql("list_slice(a.v, s.m * 16 + 1, s.m * 16 + 16)", "s.v")} AS d
           FROM asg a JOIN scw$i s ON s.cid = a.cell),
        cc$i AS (SELECT vec_id, m, k FROM (
             SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
             FROM cd$i) x WHERE rn = 1),
        mean$i AS (SELECT cc$i.m, cc$i.k, dims.dim, count(*) AS n,
             ${avg6Sql(s"sum(CAST(rsd.rv[cc$i.m * 16 + dims.dim] AS DECIMAL(18,6)))", "count(*)")} AS c
           FROM cc$i JOIN rsd USING (vec_id) CROSS JOIN dims
           GROUP BY cc$i.m, cc$i.k, dims.dim),
        tcw$i AS (SELECT t.m, t.k, list(COALESCE(mn.c, t.v[d.dim]) ORDER BY d.dim) AS v
           FROM tcw${i - 1} t CROSS JOIN dims d
           LEFT JOIN mean$i mn ON mn.m = t.m AND mn.k = t.k AND mn.dim = d.dim
           GROUP BY t.m, t.k)"""

  /** TRAINED residual IVF+PQ recall@5 — q69's seed residual books
    * refined by [[Similarity.pqTrainStepResidual]] Lloyd iterations
    * (q66's training loop lifted into residual space; still ONE corpus
    * scan per iteration, no residual vector ever materialized), then
    * re-measured with the same composed search and recall gate. This is
    * the full production IVF+PQ build path: coarse quantizer → residual
    * codebook training → residual encode → cell-restricted ADC. DuckDB
    * replays the training chain CTE for CTE; the spec gates the Lloyd
    * objective itself (quantization error monotone non-increasing per
    * step) — recall@5 with 5 probes moves in 0.04 quanta, too noisy to
    * gate training on at this scale.
    */
  private val ResidTrainSteps = 3
  private val q70 = Q(
    "q70_ivfpq_trained_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // hoist the centroid collect (see q69): one job instead of ~8 —
      // assign, the three train steps, encode, probe assign and ADC
      // each re-collect the centroid argument at plan-build time, and
      // the LocalRelation re-wrap makes those driver-side and free
      val cents = Similarity.centroidFrame(s, Similarity.collectCentroids(
        e.filter(col("vec_id").between(100, 107))
          .select(col("vec_id").as("cid"), col("v").as("cv"))))
      // seed books exactly as q69: each seed's codeword is its own
      // residual vs its cell centroid
      var books = Similarity.seedResidualBooks(
        e.filter(col("vec_id").between(200, 207)), cents, m = 4)
      val asg = Similarity.ivfAssign(e, cents)
      for (_ <- 0 until ResidTrainSteps)
        books = Similarity.pqTrainStepResidual(asg, cents, books)
      val codes = Similarity.pqEncodeResidual(asg, cents, books)
      val probes = Similarity.ivfAssignTopN(
        e.filter(col("vec_id") < 5), cents, nprobe = 2)
      val pq5 = Similarity.pqAdcTopKResidual(codes, probes, cents, books, k = 5)
        .select(col("probe_id"), col("cand_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH $ivfAsgSql,
      pcell AS (SELECT probe_id, cell FROM (
               SELECT e.vec_id AS probe_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c WHERE e.vec_id < 5) x WHERE rn <= 2),
      scell AS (SELECT vec_id, cid FROM (
               SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c
               WHERE e.vec_id BETWEEN 200 AND 207) x WHERE rn = 1),
      rcw AS (SELECT s.vec_id - 200 AS k,
               list_transform(range(1, 65),
                 i -> s.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS rv
             FROM e s
             JOIN scell sc ON sc.vec_id = s.vec_id
             JOIN cent c ON c.cid = sc.cid
             WHERE s.vec_id BETWEEN 200 AND 207),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      dims AS (SELECT CAST(unnest(range(1, 17)) AS INT) AS dim),
      rsd AS (SELECT a.vec_id,
               list_transform(range(1, 65),
                 i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS rv
             FROM asg a JOIN cent c ON c.cid = a.cell),
      tcw0 AS (SELECT ms.m, rcw.k,
                list_slice(rcw.rv, ms.m * 16 + 1, ms.m * 16 + 16) AS v
              FROM ms CROSS JOIN rcw),
      ${(1 to ResidTrainSteps).map(pqResidTrainCteSql).mkString(",\n      ")},
      scw AS (SELECT c.cid, t.m, t.k,
               list_transform(range(1, 17),
                 j -> c.cv[CAST(t.m * 16 + j AS INT)] + t.v[CAST(j AS INT)]) AS v
             FROM cent c CROSS JOIN tcw$ResidTrainSteps t),
      cdist AS (SELECT a.vec_id, s.m, s.k,
               ${l2Slice16Sql("list_slice(a.v, s.m * 16 + 1, s.m * 16 + 16)", "s.v")} AS d
             FROM asg a JOIN scw s ON s.cid = a.cell),
      ccode AS (SELECT vec_id, m, k FROM (
               SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
               FROM cdist) x WHERE rn = 1),
      pd AS (SELECT pc.probe_id, pc.cell, s.m, s.k,
               ${l2Slice16Sql("list_slice(p.v, s.m * 16 + 1, s.m * 16 + 16)", "s.v")} AS d
             FROM pcell pc
             JOIN e p ON p.vec_id = pc.probe_id
             JOIN scw s ON s.cid = pc.cell),
      adc AS (SELECT pd.probe_id, cc.vec_id AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccode cc
             JOIN asg a ON a.vec_id = cc.vec_id
             JOIN pd ON pd.cell = a.cell AND pd.m = cc.m AND pd.k = cc.k
             WHERE cc.vec_id <> pd.probe_id
             GROUP BY pd.probe_id, cc.vec_id),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${l2Sql("c.v", "p.v")} AS d
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** Media embedding ANN recall@5 under the ORACLE (was spec-only): a
    * media table derived deterministically from `documents` (bytes =
    * the UTF-8 text, so DuckDB replays [[Multimodal.FakeDecoder]]'s
    * dim-8 byte histogram as unicode()%8 character counts — the corpus
    * text is ASCII, so character codes ARE bytes), indexed by
    * [[Multimodal.mediaAnnIndex]] with ZERO training iterations —
    * centroids = the 4 lexicographically-first items' features,
    * codebooks = the first 8 items' residuals — and searched by
    * [[Multimodal.mediaAnnTopK]] (nprobe=2 cell-restricted residual
    * ADC). Training-loop replay is q70's job; what THIS gate pins
    * hash-exact is the multimodal composition q70 can't see: per-
    * partition decode → feature vectors → residual encode → ADC search,
    * scored as recall@5 vs exact-L2 brute force over the same decoded
    * features.
    */
  private val q86 = Q(
    "q86_media_ann_recall",
    (s, dir) => {
      def mediaOf(df: DataFrame): DataFrame = df.select(
        format_string("m%06d", col("doc_id")).as("media_id"),
        lit("image").as("modality"),
        encode(col("text"), "UTF-8").as("bytes"),
        map(lit("src"), lit("documents")).as("meta"))
      val docs = t(s, dir, "documents")
      val media = mediaOf(docs)
      val (cents, books, codes) = Multimodal.mediaAnnIndex(
        media, nlist = 4, m = 4, bookK = 8, kmeansIters = 0, pqIters = 0)
      val probes = mediaOf(docs.filter(col("doc_id") < 5))
      val pq5 = Multimodal.mediaAnnTopK(codes, cents, books, probes,
          k = 5, nprobe = 2)
        .select(col("probe_id"), col("cand_id"))
      val e = Multimodal.mediaFeatures(media)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("d").asc, col("cand_id").asc)
      val brute = e.select(col("media_id").as("cand_id"), col("fv").as("cv"))
        .crossJoin(broadcast(Multimodal.mediaFeatures(probes)
          .select(col("media_id").as("probe_id"), col("fv").as("pv"))))
        .filter(col("cand_id") =!= col("probe_id"))
        .withColumn("d", Similarity.l2sq(col("cv"), col("pv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("probe_id", "cand_id")
      val matches = brute.join(pq5, Seq("probe_id", "cand_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
      brute.select("probe_id").distinct()
        .join(matches, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
        .orderBy("probe_id")
    },
    Some(s"""
      WITH dd AS (SELECT doc_id, printf('m%06d', doc_id) AS mid, text
             FROM documents),
      ch AS (SELECT mid, unnest(list_transform(range(1, len(text) + 1),
               i -> unicode(substr(text, CAST(i AS INT), 1)) % 8)) AS b
             FROM dd),
      hc AS (SELECT mid, b, count(*) AS c FROM ch GROUP BY 1, 2),
      dim8 AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS b),
      e AS (SELECT dd.mid,
               list(CAST(COALESCE(hc.c, 0) AS DOUBLE) ORDER BY dim8.b) AS v
             FROM dd CROSS JOIN dim8
             LEFT JOIN hc ON hc.mid = dd.mid AND hc.b = dim8.b
             GROUP BY 1),
      rk AS (SELECT mid, v, row_number() OVER (ORDER BY mid) - 1 AS r FROM e),
      cent AS (SELECT r AS cid, v AS cv FROM rk WHERE r < 4),
      asg AS (SELECT mid, v, cid AS cell FROM (
               SELECT e.mid, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.mid
                   ORDER BY ${l2DimSql("e.v", "c.cv", 8)} ASC, c.cid ASC) AS rn
               FROM e CROSS JOIN cent c) x WHERE rn = 1),
      rcw AS (SELECT s.r AS k,
               list_transform(range(1, 9),
                 i -> s.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS rv
             FROM rk s
             JOIN asg a ON a.mid = s.mid
             JOIN cent c ON c.cid = a.cell
             WHERE s.r < 8),
      ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      scw AS (SELECT c.cid, ms.m, r.k,
               list_transform(range(1, 3),
                 j -> c.cv[CAST(ms.m * 2 + j AS INT)] + r.rv[CAST(ms.m * 2 + j AS INT)]) AS v
             FROM cent c CROSS JOIN ms CROSS JOIN rcw r),
      cdist AS (SELECT a.mid, s.m, s.k,
               ${l2DimSql("list_slice(a.v, s.m * 2 + 1, s.m * 2 + 2)", "s.v", 2)} AS d
             FROM asg a JOIN scw s ON s.cid = a.cell),
      ccode AS (SELECT mid, m, k FROM (
               SELECT mid, m, k,
                 row_number() OVER (PARTITION BY mid, m ORDER BY d, k) AS rn
               FROM cdist) x WHERE rn = 1),
      pset AS (SELECT e.mid, e.v FROM dd JOIN e ON e.mid = dd.mid
             WHERE dd.doc_id < 5),
      pcell AS (SELECT probe_id, cell FROM (
               SELECT p.mid AS probe_id, c.cid AS cell,
                 row_number() OVER (PARTITION BY p.mid
                   ORDER BY ${l2DimSql("p.v", "c.cv", 8)} ASC, c.cid ASC) AS rn
               FROM pset p CROSS JOIN cent c) x WHERE rn <= 2),
      pd AS (SELECT pc.probe_id, pc.cell, s.m, s.k,
               ${l2DimSql("list_slice(p.v, s.m * 2 + 1, s.m * 2 + 2)", "s.v", 2)} AS d
             FROM pcell pc
             JOIN pset p ON p.mid = pc.probe_id
             JOIN scw s ON s.cid = pc.cell),
      adc AS (SELECT pd.probe_id, cc.mid AS cand_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(pd.d ORDER BY pd.m)), (x, y) -> x + y) AS adc
             FROM ccode cc
             JOIN asg a ON a.mid = cc.mid
             JOIN pd ON pd.cell = a.cell AND pd.m = cc.m AND pd.k = cc.k
             WHERE cc.mid <> pd.probe_id
             GROUP BY pd.probe_id, cc.mid),
      prk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) AS rnk
             FROM adc),
      p5 AS (SELECT probe_id, cand_id FROM prk WHERE rnk <= 5),
      bpr AS (SELECT p.mid AS probe_id, c.mid AS cand_id,
               ${l2DimSql("c.v", "p.v", 8)} AS d
             FROM e c CROSS JOIN pset p
             WHERE c.mid <> p.mid),
      brk AS (SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rnk
             FROM bpr),
      b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
      mc AS (SELECT probe_id, count(*) AS n_match
             FROM (SELECT * FROM b5 INTERSECT SELECT * FROM p5) i GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
        ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
      FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
      ORDER BY probe_id
    """))

  /** One BM25 per-term micro-score block (term index i): mirrors
    * TextAnalysis.bm25TopK's operation order exactly — rational idf
    * (N − df + 0.5)/(df + 0.5), then ((idf · tf·(k1+1)) / den) · 1e6,
    * floored to BIGINT micros per term BEFORE the integer sum.
    */
  private def bm25TermSql(i: Int): String =
    s"""CAST(floor((s.n - f.df$i + 0.5) / (f.df$i + 0.5) * (c.tf$i * (1.2 + 1.0))
           / (c.tf$i + 1.2 * ((1.0 - 0.75) + 0.75 * c.dl / s.avgdl))
           * 1000000.0) AS BIGINT)"""

  /** The bm25 scoring CTE chain (ends at `sc`: (id, score_micro)) —
    * shared by the q87/q92 oracle and q151's sparse fusion arm.
    */
  private lazy val bm25CoreCtes = s"""d AS (SELECT doc_id AS id,
               CASE WHEN length(trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')))) = 0
                    THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))), '\\s+')
               END AS w
             FROM documents),
      dd AS (SELECT id, w, len(w) AS dl FROM d),
      stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dd),
      cand AS (SELECT id, dl,
               len(list_filter(w, t -> t = 'spark')) AS tf0,
               len(list_filter(w, t -> t = 'join')) AS tf1,
               len(list_filter(w, t -> t = 'window')) AS tf2
             FROM dd
             WHERE len(list_filter(w, t -> t IN ('spark', 'join', 'window'))) > 0),
      f AS (SELECT count(*) FILTER (WHERE tf0 > 0) AS df0,
               count(*) FILTER (WHERE tf1 > 0) AS df1,
               count(*) FILTER (WHERE tf2 > 0) AS df2 FROM cand),
      sc AS (SELECT c.id,
               ${bm25TermSql(0)} + ${bm25TermSql(1)} + ${bm25TermSql(2)} AS score_micro
             FROM cand c CROSS JOIN stats s CROSS JOIN f)"""

  /** Shared by q87 (direct) and q92 (indexed) — the two paths are
    * score-identical by construction, so they answer to ONE oracle.
    */
  private lazy val bm25OracleSql = s"""
      WITH $bm25CoreCtes
      SELECT id, score_micro FROM sc
      ORDER BY score_micro DESC, id ASC LIMIT 10
    """

  /** BM25 top-k retrieval (TextAnalysis.bm25TopK) — the text-side
    * similarity-search gate: fixed query terms, rational idf, per-term
    * micro-floored scores summed as integers (order-free, hash-exact),
    * ties by id. DuckDB replays tokenization, df/N/avgdl, and the
    * score chain operation for operation.
    */
  private val q87 = Q(
    "q87_bm25_topk",
    (s, dir) => TextAnalysis.bm25TopK(
      t(s, dir, "documents"), "doc_id", "text",
      Seq("spark", "join", "window"), k = 10),
    Some(bm25OracleSql))

  /** BM25 over the PERSISTED inverted index (TextAnalysis.termPostings
    * + corpusStats + bm25TopKIndexed): the index-once/probe-forever
    * retrieval path — the query reads posting lists, never the corpus.
    * Score-identical to q87 by construction, so it answers to the SAME
    * oracle; the parquet-landing pushdown is spec-pinned.
    */
  private val q92 = Q(
    "q92_bm25_indexed",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bm25TopKIndexed(
        TextAnalysis.termPostings(docs, "doc_id", "text"),
        TextAnalysis.corpusStats(docs, "doc_id", "text"),
        Seq("spark", "join", "window"), k = 10)
    },
    Some(bm25OracleSql))

  /** Containment near-dup pairs (Dedup.containmentPairs, Broder's
    * asymmetric measure): |∩| / min(|A|, |B|) — flags short-in-long
    * quoting jaccard's symmetric union denominator hides. Same shingle
    * chain as q31, different ratio; DuckDB replays both from the same
    * CTEs, which is itself the regression check that the two measures
    * share one evidence table.
    */
  private val q94 = Q(
    "q94_containment",
    (s, dir) =>
      Dedup.containmentPairs(docs2(s, dir), "id", "text", n = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), micro(col("containment")).as("cont_micro"))
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $docs2Sql, $shxSql,
      sizes AS (SELECT id, count(*) AS n_sh FROM shx GROUP BY id),
      inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
                FROM shx a JOIN shx b ON a.x = b.x AND a.id < b.id
                GROUP BY 1, 2),
      j AS (SELECT id_a, id_b,
              CAST(c AS DOUBLE) / least(na.n_sh, nb.n_sh) AS containment
            FROM inter
            JOIN sizes na ON na.id = id_a
            JOIN sizes nb ON nb.id = id_b)
      SELECT id_a, id_b, ${microSql("containment")} AS cont_micro
      FROM j WHERE containment >= 0.8 ORDER BY id_a, id_b
    """))

  /** Corpus snapshot diff (Dedup.corpusDiff): v2 derives from the
    * documents table with deterministic removals (id % 7 = 0), text
    * revisions (id % 5 = 0 among survivors), and additions (id % 11 = 0
    * cloned to id + 5000000). Per-status counts + id-sums pin the exact
    * classification. The operator classifies by FINGERPRINT equality,
    * the oracle by the texts themselves — their agreement is the
    * fingerprint-faithfulness check (the q23 contract applied to
    * versioning).
    */
  private val q95 = Q(
    "q95_corpus_diff",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val v2 = d.filter(col("id") % 7 =!= 0)
        .select(col("id"),
          when(col("id") % 5 === 0, concat(col("text"), lit(" revision 2")))
            .otherwise(col("text")).as("text"))
        .unionAll(d.filter(col("id") % 11 === 0)
          .select((col("id") + 5000000L).as("id"),
            concat(lit("new doc "), col("id").cast("string")).as("text")))
      Dedup.corpusDiff(d, v2, "id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
        .orderBy("status")
    },
    Some("""
      WITH v1 AS (SELECT doc_id AS id, text FROM documents),
      v2 AS (
        SELECT id,
               CASE WHEN id % 5 = 0 THEN text || ' revision 2' ELSE text END AS text
        FROM v1 WHERE id % 7 <> 0
        UNION ALL
        SELECT id + 5000000 AS id, 'new doc ' || CAST(id AS VARCHAR) AS text
        FROM v1 WHERE id % 11 = 0),
      d AS (SELECT COALESCE(a.id, b.id) AS id,
              CASE WHEN a.id IS NULL THEN 'added'
                   WHEN b.id IS NULL THEN 'removed'
                   WHEN a.text IS NOT DISTINCT FROM b.text THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM v1 a FULL OUTER JOIN v2 b ON a.id = b.id)
      SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
      FROM d GROUP BY status ORDER BY status
    """))

  /** Per-doc duplicated-shingle fraction (Dedup.dupFraction) over the
    * planted-near-dup corpus: the copies and their originals score high
    * (nearly every shingle shared), originals without copies score by
    * whatever boilerplate they share organically. dup_micro is the
    * exact integer ⌊10⁶·shared/total⌋ — integer division on both
    * engines, no float in the output.
    */
  private val q96 = Q(
    "q96_dup_fraction",
    (s, dir) =>
      Dedup.dupFraction(docs2(s, dir), "id", "text", n = 3)
        .orderBy("id"),
    Some(s"""
      WITH $docs2Sql, $shxSql,
      dfq AS (SELECT x, count(*) AS df FROM shx GROUP BY x),
      per AS (SELECT s.id, count(*) AS n_shingles,
                SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_shared
              FROM shx s JOIN dfq d ON d.x = s.x
              GROUP BY s.id)
      SELECT id, CAST(n_shingles AS BIGINT) AS n_shingles,
             CAST(n_shared AS BIGINT) AS n_shared,
             CAST((n_shared * 1000000) // n_shingles AS BIGINT) AS dup_micro
      FROM per ORDER BY id
    """))

  /** Leakage-free train/test split (Dedup.leakFreeSplit over q38's
    * minhash-LSH clusters, 200‰ test): whole near-dup clusters assign
    * to one side by a two-round MCG hash of the CLUSTER label
    * (decorrelated from the q26 sampling gate), so a test doc's
    * near-copy can never land in train — leakage prevented by
    * construction rather than detected after the fact (q25). Counts,
    * id-sums, and distinct-cluster counts per side pin the exact
    * assignment; DuckDB replays the recursive CC labeling (q88's CTEs)
    * and the same cluster-hash draw.
    */
  private val q99 = Q(
    "q99_leak_free_split",
    (s, dir) => {
      val corpus = docs2(s, dir)
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text", n = 3, bands = 4)
      val cc = Dedup.connectedComponents(pairs)
      Dedup.leakFreeSplit(corpus, cc, "id", testPermille = 200)
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          countDistinct(col("cluster")).as("n_clusters"))
        .orderBy("split")
    },
    Some(s"""
      WITH RECURSIVE $docs2Sql, $shxSql, $mhCandSql,
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION SELECT id_b, id_a FROM cand),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      lab AS (SELECT d.id, COALESCE(cc.comp, d.id) AS cluster
              FROM docs2 d LEFT JOIN cc ON cc.id = d.id),
      sp AS (SELECT id, cluster,
              CASE WHEN ((((((cluster % 1000000007) * 2654435761) % 1000000007)
                          * 69621) % 1000000007) % 1000) < 200
                   THEN 'test' ELSE 'train' END AS split
             FROM lab)
      SELECT split, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
             count(DISTINCT cluster) AS n_clusters
      FROM sp GROUP BY split ORDER BY split
    """))

  /** Duplicate-aware downweighting (Dedup.dupWeights) over the
    * documents table with planted exact copies (×2 for id % 10 = 0,
    * ×3 for id % 20 = 0): every row keeps its content-hash cluster
    * size and the exact integer weight ⌊10⁶/size⌋. The operator
    * clusters by md5; the oracle clusters by the text itself —
    * agreement is the digest-faithfulness check.
    */
  private val q98 = Q(
    "q98_dup_weights",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val withDups = d
        .unionAll(d.filter(col("id") % 10 === 0)
          .select((col("id") + 1000000L).as("id"), col("text")))
        .unionAll(d.filter(col("id") % 20 === 0)
          .select((col("id") + 2000000L).as("id"), col("text")))
      Dedup.dupWeights(withDups, "id", "text").orderBy("id")
    },
    Some("""
      WITH v AS (
        SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS id, text FROM documents WHERE doc_id % 20 = 0),
      w AS (SELECT id, count(*) OVER (PARTITION BY text) AS cluster_size FROM v)
      SELECT id, CAST(cluster_size AS BIGINT) AS cluster_size,
             CAST(1000000 // cluster_size AS BIGINT) AS weight_micro
      FROM w ORDER BY id
    """))

  /** TOKEN-budget temperature mixing (Sampling.temperatureMixTokens,
    * α = 0.5, cost = n_chars, 60 000-char budget): stratum masses,
    * weights, and cutoffs all in cost units — each language keeps docs
    * in the MCG-hash order while its inclusive running cost stays
    * within target. sqrt is IEEE-exact, targets replay in DuckDB via
    * the same lang-ascending weight fold as q89, and the running-cost
    * window is the identical (hash, id) total order.
    */
  private val q97 = Q(
    "q97_token_mix",
    (s, dir) =>
      graft.operators.Sampling.temperatureMixTokens(
          t(s, dir, "documents"), "lang", "doc_id", "n_chars",
          budget = 60000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("cost_kept"))
        .orderBy("lang"),
    Some("""
      WITH mass AS (SELECT lang, sum(n_chars) AS m FROM documents GROUP BY lang),
      wt AS (SELECT lang, sqrt(CAST(m AS DOUBLE)) AS w FROM mass),
      tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY lang)), (a, b) -> a + b) AS wtot FROM wt),
      tgt AS (SELECT lang, CAST(floor(CAST(60000 AS DOUBLE) * w / tot.wtot) AS BIGINT) AS t
              FROM wt CROSS JOIN tot),
      rnk AS (SELECT doc_id, lang, n_chars,
               sum(n_chars) OVER (PARTITION BY lang
                 ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007 ASC,
                   doc_id ASC ROWS UNBOUNDED PRECEDING) AS ct
             FROM documents)
      SELECT r.lang, count(*) AS n_kept, CAST(sum(r.doc_id) AS BIGINT) AS id_sum,
        CAST(sum(r.n_chars) AS BIGINT) AS cost_kept
      FROM rnk r JOIN tgt ON tgt.lang = r.lang
      WHERE r.ct <= tgt.t AND tgt.t > 0
      GROUP BY r.lang ORDER BY r.lang
    """))

  /** Quality-aware dedup-cluster representative election
    * (Dedup.bestPerCluster over q38's minhash-LSH clusters): within
    * each near-dup cluster keep the member with the most tokens (ties
    * to the lowest id); singletons elect themselves. Token count is the
    * quality score precisely because it is integer-exact — the policy
    * generalizes to any score column. DuckDB replays the recursive CC
    * labeling and the same (score DESC, id) window.
    */
  private val q88 = Q(
    "q88_best_per_cluster",
    (s, dir) => {
      val corpus = docs2(s, dir)
      val pairs = Dedup.minhashLshPairs(corpus, "id", "text", n = 3, bands = 4)
      val cc = Dedup.connectedComponents(pairs)
      val scored = corpus.select(col("id"),
        tokenCount(col("text")).cast("long").as("n_tok"))
      Dedup.bestPerCluster(scored, cc, "id", "n_tok")
        .select(col("cluster"), col("id").as("rep_id"),
          col("n_tok").as("rep_tokens"), col("n_members"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH RECURSIVE $docs2Sql, $shxSql, $mhCandSql,
      edges AS (SELECT id_a AS src, id_b AS dst FROM cand
                UNION SELECT id_b, id_a FROM cand),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      ql AS (SELECT id, CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
             FROM docs2),
      lab AS (SELECT q.id, COALESCE(cc.comp, q.id) AS cluster, q.n_tok
              FROM ql q LEFT JOIN cc ON cc.id = q.id),
      rep AS (SELECT cluster, id, n_tok,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY n_tok DESC, id ASC) AS rn,
               count(*) OVER (PARTITION BY cluster) AS nm
             FROM lab)
      SELECT cluster, id AS rep_id, CAST(n_tok AS BIGINT) AS rep_tokens,
        CAST(nm AS BIGINT) AS n_members
      FROM rep WHERE rn = 1 ORDER BY cluster
    """))

  /** Temperature-scaled language mixing (Sampling.temperatureMix,
    * α = 0.5, 200-doc budget): head languages sample down, tail
    * languages up, per-stratum draws are the deterministic MCG-hash
    * rank order. sqrt is IEEE-correctly-rounded so DuckDB reproduces
    * every target count; the weight total folds in lang-ascending
    * order on both engines.
    */
  private val q89 = Q(
    "q89_temperature_mix",
    (s, dir) =>
      graft.operators.Sampling.temperatureMix(
          t(s, dir, "documents"), "lang", "doc_id", budget = 200L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang"),
    Some("""
      WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      wt AS (SELECT lang, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
      tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY lang)), (a, b) -> a + b) AS wtot FROM wt),
      tgt AS (SELECT lang, CAST(floor(CAST(200 AS DOUBLE) * w / tot.wtot) AS BIGINT) AS t
              FROM wt CROSS JOIN tot),
      rnk AS (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007 ASC,
                   doc_id ASC) AS rn
             FROM documents)
      SELECT r.lang, count(*) AS n_kept, CAST(sum(r.doc_id) AS BIGINT) AS id_sum
      FROM rnk r JOIN tgt ON tgt.lang = r.lang
      WHERE r.rn <= tgt.t
      GROUP BY r.lang ORDER BY r.lang
    """))

  /** Semantic dedup (Dedup.semanticDedup over the planted-near-dup
    * embedding corpus, 8 fixed cells, τ = 0.9): per-cell kept counts +
    * id-sums pin the exact keep-set. DuckDB replays the IVF assignment
    * (ordered-fold L2, cid tiebreak), the in-cell cosine pairs, and the
    * any-lower-id-neighbor drop rule. Integer-only output — the cosines
    * stay internal, and both engines' fold orders are bit-identical
    * (the q34/q42 pattern).
    */
  private val q90 = Q(
    "q90_semantic_dedup",
    (s, dir) => {
      val e = emb2(s, dir)
      val cents = e.filter(col("id").between(100, 107))
        .select(col("id").as("cid"), col("v").as("cv"))
      Dedup.semanticDedup(e, cents, tau = 0.9, idCol = "id", vecCol = "v")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_kept"), sum(col("id")).as("id_sum"))
        .orderBy("cell")
    },
    Some(s"""
      WITH $embSql,
      cent2 AS (SELECT id AS cid, v AS cv FROM emb2 WHERE id BETWEEN 100 AND 107),
      asg2 AS (SELECT id, v, cell FROM (
          SELECT e.id, e.v, c.cid AS cell,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${l2Sql("e.v", "c.cv")} ASC, c.cid ASC) AS rn
          FROM emb2 e CROSS JOIN cent2 c) x WHERE rn = 1),
      drp AS (SELECT DISTINCT b.id FROM asg2 a JOIN asg2 b
              ON a.cell = b.cell AND a.id < b.id
              WHERE ${dotSql("a.v", "b.v")}
                / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) >= 0.9)
      SELECT a.cell, count(*) AS n_kept, CAST(sum(a.id) AS BIGINT) AS id_sum
      FROM asg2 a LEFT JOIN drp ON drp.id = a.id
      WHERE drp.id IS NULL
      GROUP BY a.cell ORDER BY a.cell
    """))

  /** Reference-corpus n-gram FAMILIARITY score — the LM-free stand-in
    * for perplexity filtering (the CCNet/Gopher-style "does this text
    * look like the curated corpus" signal): the top-200 bigrams by doc
    * frequency over a curated subset become the reference vocabulary
    * (driver-small, broadcast), and every doc scores the fraction of
    * its bigram OCCURRENCES found in that vocabulary. Integer-exact
    * end to end — no engine-variant ln/float-prob arithmetic — with a
    * deterministic (df DESC, ngram) cutoff, so DuckDB reproduces the
    * vocabulary and every score bit-for-bit. Distinct from q21 (surface
    * statistics) and q22 (language ID): this is quality relative to a
    * REFERENCE corpus, the signal that catches fluent-but-off-domain
    * text those two pass.
    */
  private val q71 = Q(
    "q71_ngram_familiarity",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val ngrams = docs.select(col("doc_id"),
        explode(wordNgrams(wsTokens(lower(cleanAscii(col("text")))), 2)).as("ngram"))
      // curated subset = deterministic id gate; vocabulary = top-200 by
      // DOC frequency (array_distinct before the explode), total-order
      // cutoff so the boundary tie breaks identically in DuckDB
      val ref = docs.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id"), explode(array_distinct(
          wordNgrams(wsTokens(lower(cleanAscii(col("text")))), 2))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram")).limit(200)
      ngrams
        .join(broadcast(ref.select(col("ngram"), lit(1L).as("__hit"))),
          Seq("ngram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_familiar"))
        .select(col("doc_id"), col("n_ngrams"), col("n_familiar"),
          micro(col("n_familiar") / col("n_ngrams")).as("familiarity_micro"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0),
      ng AS (SELECT doc_id,
              unnest(list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ngram
            FROM toks),
      refng AS (SELECT DISTINCT doc_id, ngram FROM ng WHERE doc_id % 10 < 3),
      ref AS (SELECT ngram FROM (
              SELECT ngram, count(*) AS df FROM refng GROUP BY ngram
              ORDER BY df DESC, ngram LIMIT 200) r),
      sc AS (SELECT ng.doc_id, count(*) AS n_ngrams,
              CAST(sum(CASE WHEN ref.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_familiar
            FROM ng LEFT JOIN ref ON ref.ngram = ng.ngram
            GROUP BY ng.doc_id)
      SELECT doc_id, n_ngrams, n_familiar,
        CAST(floor((n_familiar / n_ngrams) * 1000000.0) AS BIGINT) AS familiarity_micro
      FROM sc ORDER BY doc_id
    """))

  /** The COMPOSED pretraining-data pipeline, one oracled gate — the
    * "switch your whole pipeline to this library" statement: raw
    * arrivals (with planted exact dups) → min-id dedup → quality gate →
    * decontamination vs an eval set (≥3 shared distinct shingles) →
    * stratified mixing sample, with the funnel count after every stage
    * and the sampled id-sum pinning exact final membership. Staged as
    * FLAGS on the dedup representatives so the whole funnel is ONE
    * declarative plan (one dedup shuffle, one broadcast contamination
    * join, one final aggregate) — no per-stage materialization, no
    * driver loop; the individually-gated operators (q30, q36, q25, q26)
    * prove each stage alone, this proves they compose.
    */
  private val q73 = Q(
    "q73_pipeline_funnel",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val both = d.select(col("doc_id").as("id"), col("text"), col("lang"))
        .unionAll(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), col("text"), col("lang")))
      val reps = both
        .groupBy(graft.operators.Dedup.contentHash(col("text")).as("__h"))
        // identical texts within a digest group: first(text) is
        // deterministic; the representative is the min-id DOC, so its
        // lang comes from that same row (min_by) — independent min(id)/
        // min(lang) could stitch id from one doc and lang from another,
        // mis-stratifying the sample stage
        .agg(count(lit(1)).as("__dups"), min(col("id")).as("id"),
          first(col("text")).as("text"), min_by(col("lang"), col("id")).as("lang"))
        // fan out the heavy shingling off the tiny scan (q25's lesson)
        .repartition(s.sparkContext.defaultParallelism)
      val ev = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"), col("text"))
      val contam = graft.operators.Dedup.contaminationReport(
          reps, ev, "id", "text", n = 3, minShared = 3)
        .select(col("train_id").as("id"), lit(true).as("__ct"))
      reps.join(contam, Seq("id"), "left")
        .select(col("id"), col("__dups"),
          (tokenCount(col("text")) >= lit(30)).as("__q"),
          coalesce(col("__ct"), lit(false)).as("__c"),
          graft.operators.Sampling.stratifiedFlag(col("lang"), col("id"),
            Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1)).as("__s"))
        .agg(
          sum(col("__dups")).as("n_total"),
          count(lit(1)).as("n_after_dedup"),
          sum(when(col("__q"), 1L).otherwise(0L)).as("n_after_quality"),
          sum(when(col("__q") && !col("__c"), 1L).otherwise(0L)).as("n_after_decontam"),
          sum(when(col("__q") && !col("__c") && col("__s"), 1L).otherwise(0L)).as("n_sampled"),
          coalesce(sum(when(col("__q") && !col("__c") && col("__s"), col("id"))), lit(0L))
            .as("sampled_id_sum"))
    },
    Some(s"""
      WITH both_docs AS (
        SELECT doc_id AS id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text, lang FROM documents WHERE doc_id % 10 = 0),
      reps AS (
        SELECT min(id) AS id, any_value(text) AS text, arg_min(lang, id) AS lang,
               count(*) AS dups
        FROM both_docs GROUP BY md5(text)),
      trc AS (SELECT id, lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM reps),
      trt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM trc
              WHERE length(trim(text)) > 0),
      trs AS (SELECT DISTINCT id, x FROM (
                SELECT id, ${rollSql("s")} AS x FROM (
                  SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM trt) a) b),
      ev AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 = 0),
      evt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM ev
              WHERE length(trim(text)) > 0),
      evs AS (SELECT DISTINCT x FROM (
                SELECT ${rollSql("s")} AS x FROM (
                  SELECT unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM evt) a) b),
      contam AS (SELECT t.id FROM trs t JOIN evs e ON t.x = e.x
                 GROUP BY t.id HAVING count(DISTINCT t.x) >= 3),
      flags AS (SELECT r.id, r.dups,
                 (len(string_split_regex(trim(r.text), '\\s+')) >= 30) AS q,
                 (c.id IS NOT NULL) AS ct,
                 (((((r.id % 1000000007) * 2654435761) % 1000000007) % 1000 + 1000) % 1000 <
                   CASE r.lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'zh' THEN 100 ELSE -1 END) AS sm
               FROM reps r LEFT JOIN contam c ON c.id = r.id)
      SELECT CAST(sum(dups) AS BIGINT) AS n_total,
             count(*) AS n_after_dedup,
             CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
             CAST(sum(CASE WHEN q AND NOT ct THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam,
             CAST(sum(CASE WHEN q AND NOT ct AND sm THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             CAST(coalesce(sum(CASE WHEN q AND NOT ct AND sm THEN id END), 0) AS BIGINT) AS sampled_id_sum
      FROM flags
    """))

  /** Cross-batch incremental MINHASH near-dup — q39's exact-dedup
    * pattern lifted to near-dups: the original corpus's band rows are
    * the persisted index, the planted near-dup batch probes it, and
    * candidates are exactly the cross-batch (index, batch) pairs — the
    * index never recomputes signatures. Land the index bucketed by
    * (band, key) at scale and only the batch side shuffles
    * (DedupSimilaritySpec proves the one-sided exchange).
    */
  private val q74 = Q(
    "q74_incremental_minhash",
    (s, dir) => {
      val d2 = docs2(s, dir)
      val index = graft.operators.Dedup.minhashBands(
        d2.filter(col("id") <= 1000000L), "id", "text", n = 3, bands = 4)
      graft.operators.Dedup.incrementalMinhashCandidates(
          index, d2.filter(col("id") > 1000000L), "id", "text", n = 3, bands = 4)
        .orderBy("index_id", "batch_id")
    },
    Some(s"""
      WITH $docs2Sql, $shxSql, $mhCandSql
      SELECT id_a AS index_id, id_b AS batch_id FROM cand
      WHERE id_a <= 1000000 AND id_b > 1000000
      ORDER BY index_id, batch_id
    """))

  /** Cross-batch incremental SIMHASH near-dup — q74's banded-index
    * pattern with EXACT in-join verification: the corpus's persisted
    * (id, simhash, band, key) rows are probed by the planted batch,
    * and every candidate's hamming distance is computed from the two
    * stored hashes right in the join projection (no estimate, no text
    * revisit). DuckDB rebuilds the 64-bit simhashes (q33's CTE), bands
    * them on the unsigned HUGEINT, and replays the cross-batch join +
    * bit_count verification.
    */
  private val q76 = Q(
    "q76_incremental_simhash",
    (s, dir) => {
      val d2 = docs2(s, dir)
      val index = Dedup.simhashBands(
        d2.filter(col("id") <= 1000000L), "id", "text")
      Dedup.incrementalSimhashCandidates(
          index, d2.filter(col("id") > 1000000L), "id", "text", maxHamming = 6)
        .orderBy("index_id", "batch_id")
    },
    Some(s"""
      WITH $docs2Sql,
      $simSql,
      banded AS (SELECT id, simhash,
                   CAST((usim >> CAST(band * 16 AS INT)) & 65535 AS BIGINT) AS key, band
                 FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb),
      cand AS (SELECT DISTINCT a.id AS index_id, b.id AS batch_id,
                 bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.key = b.key
                AND a.id <= 1000000 AND b.id > 1000000)
      SELECT index_id, batch_id, hamming FROM cand
      WHERE hamming <= 6 ORDER BY index_id, batch_id
    """))

  /** Sliding-window token chunking — the context-length preprocessor
    * (docs over the window split with overlap so boundary context
    * survives). Narrow generator per doc, no shuffle; DuckDB replays
    * the window arithmetic, the list slices, and the chunk fingerprint
    * hash. Empty-after-canonicalization docs are filtered on BOTH
    * sides (DuckDB's split('') fabricates [''], Spark's wsTokens
    * rightly yields []).
    */
  private val q77 = Q(
    "q77_doc_chunking",
    (s, dir) => {
      val d2 = docs2(s, dir).filter(length(trim(col("text"))) > 0)
      graft.operators.TextAnalysis
        .chunkTokens(d2, "id", "text", chunk = 40, stride = 30)
        .select(col("id"), col("chunk_idx"), col("n_tokens"),
          graft.functions.TextFunctions.rollingHash(col("chunk_text")).as("chunk_fp"))
        .orderBy("id", "chunk_idx")
    },
    Some(s"""
      WITH $docs2Sql,
      dt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w
             FROM docs2 WHERE length(trim(text)) > 0),
      ch AS (SELECT id, w, unnest(range(0,
               CASE WHEN len(w) <= 40 THEN 1
                    ELSE CAST(ceil((len(w) - 40) / 30.0) AS BIGINT) + 1 END)) AS chunk_idx
             FROM dt),
      cw AS (SELECT id, chunk_idx,
               w[CAST(chunk_idx * 30 + 1 AS INT):CAST(chunk_idx * 30 + 40 AS INT)] AS c
             FROM ch)
      SELECT id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(len(c) AS INT) AS n_tokens,
             ${rollSql("array_to_string(c, ' ')")} AS chunk_fp
      FROM cw ORDER BY id, chunk_idx
    """))

  /** Deterministic global training-order shuffle: two MCG mixing rounds
    * give every row a reproducible (shard, order) position — no rand(),
    * so retries/repartitioning/other engines reproduce the exact
    * training sequence. The gate pins per-shard membership (count +
    * id-sum), the key range, and the ORDER itself (first/last id by
    * key); distinct ids get distinct keys, so no tie can flip a bit.
    */
  private val q78 = Q(
    "q78_shard_shuffle",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id").as("id"))
      graft.operators.Sampling.shardShuffle(d, "id", shards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("id")).as("id_sum"),
          min(col("shuffle_key")).as("min_key"),
          max(col("shuffle_key")).as("max_key"),
          min_by(col("id"), col("shuffle_key")).as("first_id"),
          max_by(col("id"), col("shuffle_key")).as("last_id"))
        .orderBy("shard")
    },
    Some(s"""
      WITH sh AS (SELECT doc_id AS id,
          (((((doc_id % 1000000007) * 2654435761) % 1000000007) * 48271) % 1000000007) AS shuffle_key
        FROM documents)
      SELECT CAST(shuffle_key % 8 AS INT) AS shard,
             count(*) AS n_rows,
             CAST(sum(id) AS BIGINT) AS id_sum,
             min(shuffle_key) AS min_key,
             max(shuffle_key) AS max_key,
             arg_min(id, shuffle_key) AS first_id,
             arg_max(id, shuffle_key) AS last_id
      FROM sh GROUP BY 1 ORDER BY shard
    """))

  /** Prefix-perturbed corpus for the CDC gate: documents ∪ copies of
    * every 7th doc with a 9-char prefix prepended — the SHIFTED
    * duplicate (every byte moves) that whole-text hashing and
    * fixed-size blocking both miss structurally, and the case
    * content-defined boundaries exist to catch.
    */
  private def docsShifted(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    d.select(col("doc_id").as("id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("id"),
          concat(lit("qq ww ee "), col("text")).as("text")))
  }

  private val docsShiftedSql =
    """dsh AS (
         SELECT doc_id AS id, text FROM documents
         UNION ALL
         SELECT doc_id + 2000000 AS id, 'qq ww ee ' || text AS text
         FROM documents WHERE doc_id % 7 = 0)"""

  /** Content-defined-chunking dedup stats (Dedup.cdcDupStats over the
    * prefix-shifted corpus): per doc, its CDC chunk count and how many
    * chunk instances recur in ≥1 other doc. Every shifted copy shares
    * nearly all its chunks with its original (the boundaries re-sync
    * within ~one 8-char window of the 9-char prefix) — the evidence
    * neither exact (q30) nor fixed blocks could produce. The oracle
    * replays the chunker from the PUBLIC polynomial alone: window
    * hashes via substr+rollSql, cut list per doc, chunk substrings
    * between cuts, chunk rollSql, then the same distinct-doc-frequency
    * fold — an independent O(L·w) reimplementation checking the O(L)
    * rolling kernel cut-for-cut and hash-for-hash.
    */
  private val q109 = Q(
    "q109_cdc_dedup",
    (s, dir) =>
      Dedup.cdcDupStats(docsShifted(s, dir), "id", "text",
        window = 8, modulus = 32).orderBy("id"),
    Some(s"""
      WITH $docsShiftedSql,
      ct AS (SELECT id, lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS t
             FROM dsh),
      cuts AS (SELECT id, t,
                 list_filter(range(8, CAST(length(t) AS BIGINT)), p ->
                   ${rollSql("substr(t, CAST(p AS INT) - 7, 8)")} % 32 = 0) AS cl
               FROM ct),
      ch AS (SELECT id, ${rollSql("c")} AS chash FROM (
               SELECT id, unnest(list_transform(
                 range(1, CAST(len(cl) AS BIGINT) + 2), j ->
                   substr(t,
                     CAST(CASE WHEN j = 1 THEN 1
                          ELSE cl[CAST(j AS INT) - 1] + 1 END AS INT),
                     CAST((CASE WHEN j <= len(cl) THEN cl[CAST(j AS INT)]
                           ELSE length(t) END)
                        - (CASE WHEN j = 1 THEN 1
                           ELSE cl[CAST(j AS INT) - 1] + 1 END) + 1 AS INT)))) AS c
               FROM cuts) u
             WHERE length(c) > 0),
      dfq AS (SELECT chash, count(DISTINCT id) AS nd FROM ch GROUP BY chash),
      per AS (SELECT c.id, count(*) AS n_chunks,
                SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
              FROM ch c JOIN dfq d ON d.chash = c.chash
              GROUP BY c.id)
      SELECT id, CAST(n_chunks AS BIGINT) AS n_chunks,
             CAST(n_dup AS BIGINT) AS n_dup_chunks,
             CAST((n_dup * 1000000) // n_chunks AS BIGINT) AS dup_micro
      FROM per ORDER BY id
    """))

  /** DSIR hashed-ngram importance weights (Sampling.dsirLogWeights,
    * Xie et al. 2023): every doc scored by Σ cnt_b · ⌊10⁶·ln λ_b⌋ with
    * λ_b the add-one-smoothed target/raw bucket ratio over 64 hashed
    * unigram+bigram buckets — target = the 'src0' source. λ's numerator
    * and denominator are exact int64 products, ln is taken once per
    * BUCKET (64 values) and micro-floored there, and everything after
    * is exact integer arithmetic — the engine-portable rendering of the
    * paper's log-importance. DuckDB replays tokenization, both hash
    * streams, the histograms, and the identical ln spelling.
    */
  private val q110 = Q(
    "q110_dsir_weights",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      graft.operators.Sampling
        .dsirLogWeights(d, "doc_id", "text", col("source") === "src0")
        .orderBy("id")
    },
    Some(s"""
      WITH tok AS (SELECT doc_id AS id, source,
             string_split_regex(trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))), '\\s+') AS w
           FROM documents),
      feats AS (
        SELECT id, source, ${rollSql("g")} % 64 AS b FROM (
          SELECT id, source, unnest(w) AS g FROM tok
          UNION ALL
          SELECT id, source, unnest(list_transform(
            range(1, CAST(len(w) AS BIGINT)), q ->
              w[CAST(q AS INT)] || ' ' || w[CAST(q AS INT) + 1])) AS g
          FROM tok) u),
      tb AS (SELECT b, count(*) AS tn FROM feats WHERE source = 'src0' GROUP BY b),
      rb AS (SELECT b, count(*) AS rn FROM feats GROUP BY b),
      lam AS (SELECT g.b, coalesce(tn, 0) AS tn, coalesce(rn, 0) AS rn
              FROM (SELECT unnest(range(0, 64)) AS b) g
              LEFT JOIN tb ON tb.b = g.b LEFT JOIN rb ON rb.b = g.b),
      tot AS (SELECT sum(tn) AS tt, sum(rn) AS rr FROM lam),
      llr AS (SELECT b,
               CAST(floor(ln(CAST((tn + 1) * (rr + 64) AS DOUBLE)
                             / CAST((rn + 1) * (tt + 64) AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS llr_micro
              FROM lam, tot),
      pd AS (SELECT id, b, count(*) AS cnt FROM feats GROUP BY id, b)
      SELECT id, CAST(sum(cnt) AS BIGINT) AS n_feats,
             CAST(sum(cnt * llr_micro) AS BIGINT) AS logw_micro
      FROM pd JOIN llr USING (b) GROUP BY id ORDER BY id
    """))

  /** CLUSTER-BALANCED embedding sampling — the diversity-sampling
    * recipe (SemDeDup/DoReMi-adjacent: cap dominant semantic clusters,
    * oversample the tail): IVF-assign the corpus to cells
    * (Similarity.ivfAssign, the q42 substrate), then draw a
    * √-temperature mix over CELLS as strata (Sampling.temperatureMix,
    * α = 0.5) — big clusters contribute ~√ their share, rare clusters
    * survive. Pure composition of two shipped operators; per-cell kept
    * counts + id-sums pin the exact draw. DuckDB replays the ordered-
    * fold assignment, the √-weight targets (stratum-ascending fold),
    * and the MCG rank order.
    */
  private val q112 = Q(
    "q112_cluster_sample",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val cents = e.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = Similarity.ivfAssign(e, cents)
        .withColumn("cell_s", col("cell").cast("string"))
      graft.operators.Sampling
        .temperatureMix(assigned, "cell_s", "vec_id", budget = 200L)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("id_sum"))
        .orderBy("cell")
    },
    Some(s"""
      WITH $ivfAsgSql,
      cnt AS (SELECT cell, count(*) AS n FROM asg GROUP BY cell),
      wt AS (SELECT cell, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
      tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list(w ORDER BY CAST(cell AS VARCHAR))), (a, b) -> a + b) AS wtot
              FROM wt),
      tgt AS (SELECT cell, CAST(floor(CAST(200 AS DOUBLE) * w / tot.wtot) AS BIGINT) AS t
              FROM wt CROSS JOIN tot),
      rnk AS (SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell
                 ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007 ASC,
                   vec_id ASC) AS rn
             FROM asg)
      SELECT r.cell, count(*) AS n_kept, CAST(sum(r.vec_id) AS BIGINT) AS id_sum
      FROM rnk r JOIN tgt ON tgt.cell = r.cell
      WHERE r.rn <= tgt.t
      GROUP BY r.cell ORDER BY r.cell
    """))

  /** Gopher-style composite QUALITY GATE
    * ([[graft.operators.TextAnalysis.qualityGate]], Rae et al. 2021
    * Appendix A): per-doc rule flags + keep over word-count bounds,
    * mean word length, alphabetic-word fraction, distinct-stopword
    * floor, and the top-word repetition screen — every rule an exact
    * integer comparison, the reported ratios micro-floored. Thresholds
    * tuned so each rule discriminates on this corpus (minWords 30
    * fails ~20%, stop ≥ 2 fails ~35%, top-word ≤ 0.12 fails ~20%).
    * DuckDB replays tokenization, the intersect-dedup stopword count,
    * and the unnest-groupBy top-word count.
    */
  private val q120 = {
    val rules = TextAnalysis.QualityRules(
      minWords = 30, minStopHits = 2, maxTopWordMicro = 120000L)
    Q(
      "q120_quality_gate",
      (s, dir) =>
        TextAnalysis
          .qualityGate(t(s, dir, "documents"), "doc_id", "text", rules)
          .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, text,
               string_split_regex(trim(text), '\\s+') AS w FROM documents),
        m AS (SELECT doc_id,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(w) AS BIGINT) END AS n,
            CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS sumlen,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) END AS alpha,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                   ['the', 'a', 'of', 'and', 'to', 'is'])) AS BIGINT) END AS stop_hits
          FROM t),
        tw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS topc FROM (
                 SELECT doc_id, w2, count(*) AS c
                 FROM (SELECT doc_id, unnest(w) AS w2 FROM t
                       WHERE length(trim(text)) > 0) u
                 GROUP BY doc_id, w2) g GROUP BY doc_id),
        j AS (SELECT m.*, coalesce(tw.topc, 0) AS topc
              FROM m LEFT JOIN tw USING (doc_id))
        SELECT doc_id, n AS n_words, stop_hits,
          CASE WHEN n = 0 THEN 0 ELSE CAST(floor(CAST(sumlen AS DOUBLE) / n * 1000000.0) AS BIGINT) END AS mean_len_micro,
          CASE WHEN n = 0 THEN 0 ELSE CAST(floor(CAST(alpha AS DOUBLE) / n * 1000000.0) AS BIGINT) END AS alpha_micro,
          CASE WHEN n = 0 THEN 0 ELSE CAST(floor(CAST(topc AS DOUBLE) / n * 1000000.0) AS BIGINT) END AS top_word_micro,
          (n >= 30 AND n <= 100000) AS r_words,
          (n > 0 AND sumlen >= 3 * n AND sumlen <= 10 * n) AS r_mean_len,
          (n > 0 AND alpha * 1000000 >= 800000 * n) AS r_alpha,
          (stop_hits >= 2) AS r_stop,
          (n > 0 AND topc * 1000000 <= 120000 * n) AS r_top_word,
          (n >= 30 AND n <= 100000
            AND n > 0 AND sumlen >= 3 * n AND sumlen <= 10 * n
            AND alpha * 1000000 >= 800000 * n
            AND stop_hits >= 2
            AND topc * 1000000 <= 120000 * n) AS keep
        FROM j ORDER BY doc_id
      """))
  }

  /** INT8 scalar quantization ([[Similarity.sqTrain]]/[[Similarity
    * .sqEncode]], the SQ8 rung below the PQ ladder): per-dim corpus
    * min/max bounds (exact float SELECTION — engine-identical), codes
    * clamp₂₅₅⌊(x−min)/scale + ½⌋ with half-up rounding spelled
    * explicitly (round()'s half semantics differ across engines), and
    * the reconstruction error through the l2sq kernel. The gate pins
    * EVERY code position via an index-weighted dot (exact integers in
    * double) plus the micro-floored error. DuckDB recomputes the
    * bounds, the identical scale/round/clamp chain, and the same
    * index-ordered error sum.
    */
  private val q121 = Q(
    "q121_sq8_quant",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val (mins, maxs) = Similarity.sqTrain(e, "v")
      val wts = typedLit((1 to mins.length).map(_.toDouble))
      Similarity.sqEncode(e, "vec_id", "v", mins, maxs)
        .select(
          col("vec_id"),
          Similarity.dot(col("code").cast("array<double>"), wts)
            .cast("long").as("code_dot"),
          micro(col("err")).as("err_micro"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
      u AS (SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
      mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
      b AS (SELECT list(mn ORDER BY i) AS mins,
                   list((mx - mn) / 255.0 ORDER BY i) AS scales FROM mm),
      enc AS (SELECT vec_id, v, mins, scales,
               list_transform(range(1, 65), i ->
                 CASE WHEN scales[CAST(i AS INT)] = 0.0 THEN 0
                 ELSE least(255, CAST(floor(
                   (v[CAST(i AS INT)] - mins[CAST(i AS INT)])
                   / scales[CAST(i AS INT)] + 0.5) AS BIGINT)) END) AS code
             FROM e CROSS JOIN b),
      rc AS (SELECT vec_id, v, code,
               list_transform(range(1, 65), i ->
                 mins[CAST(i AS INT)] + CAST(code[CAST(i AS INT)] AS DOUBLE)
                   * scales[CAST(i AS INT)]) AS recon
             FROM enc),
      dd AS (SELECT vec_id,
               list_transform(range(1, 65), i ->
                 CAST(code[CAST(i AS INT)] AS DOUBLE) * CAST(i AS DOUBLE)) AS cw,
               list_transform(range(1, 65), i ->
                 (v[CAST(i AS INT)] - recon[CAST(i AS INT)])
                 * (v[CAST(i AS INT)] - recon[CAST(i AS INT)])) AS sq
             FROM rc)
      SELECT vec_id,
        CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cw),
          (x, y) -> x + y) AS BIGINT) AS code_dot,
        ${microSql("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), sq), (x, y) -> x + y)")} AS err_micro
      FROM dd ORDER BY vec_id
    """))

  /** Mergeable HEAVY-HITTER summaries
    * ([[graft.operators.Sketches.heavyHitters]]/
    * [[graft.operators.Sketches.mergeHeavyHitters]], Misra-Gries with
    * the Agarwal et al. 2012 merge): per-(lang, source) top-token
    * summaries at capacity 10 built as independent "batches", then
    * MERGED to per-lang summaries at the same capacity — the exact
    * incremental-state path (old summary ∪ new batch, never a
    * re-scan). Fully relational and integer-exact, so unlike the HLL
    * gate the oracle replays BOTH levels bit-for-bit (window cut,
    * boundary subtraction, merge re-cut). The merged counts are lower
    * bounds within N/(cap+1) — spec-asserted; the gate pins the exact
    * summary rows.
    */
  private val q122 = Q(
    "q122_heavy_hitters",
    (s, dir) => {
      import graft.operators.Sketches
      val tok = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("lang"), col("source"),
          explode(wsTokens(col("text"))).as("tok"))
      val batches = Sketches.heavyHitters(tok, "tok", Seq("lang", "source"), 10)
      Sketches.mergeHeavyHitters(Seq(batches), Seq("lang"), 10)
        .orderBy("lang", "item")
    },
    Some(s"""
      WITH tok AS (SELECT lang, source,
             unnest(string_split_regex(trim(text), '\\s+')) AS item
           FROM documents WHERE length(trim(text)) > 0),
      c1 AS (SELECT lang, source, item, count(*) AS cnt
             FROM tok GROUP BY 1, 2, 3),
      r1 AS (SELECT *, row_number() OVER (PARTITION BY lang, source
               ORDER BY cnt DESC, item ASC) AS rn FROM c1),
      s1 AS (SELECT *, max(CASE WHEN rn = 11 THEN cnt ELSE 0 END)
               OVER (PARTITION BY lang, source) AS sub
             FROM r1 WHERE rn <= 11),
      b1 AS (SELECT lang, source, item, cnt - sub AS cnt_lo
             FROM s1 WHERE rn <= 10 AND cnt - sub > 0),
      c2 AS (SELECT lang, item, CAST(sum(cnt_lo) AS BIGINT) AS cnt
             FROM b1 GROUP BY 1, 2),
      r2 AS (SELECT *, row_number() OVER (PARTITION BY lang
               ORDER BY cnt DESC, item ASC) AS rn FROM c2),
      s2 AS (SELECT *, max(CASE WHEN rn = 11 THEN cnt ELSE 0 END)
               OVER (PARTITION BY lang) AS sub
             FROM r2 WHERE rn <= 11),
      b2 AS (SELECT lang, item, cnt - sub AS cnt_lo
             FROM s2 WHERE rn <= 10 AND cnt - sub > 0)
      SELECT lang, item, cnt_lo FROM b2 ORDER BY lang, item
    """))

  /** Mergeable HISTOGRAM quantiles
    * ([[graft.operators.Sketches.histogramSketch]]/mergeHistograms/
    * histogramQuantiles): per-(lang, source) token-count histograms at
    * bin width 8 built as independent batches, merged LOSSLESSLY to
    * per-lang tables (histogram merge is exact — spec-pinned identity
    * with the single pass), then p50/p90/p99 read off with exact
    * integer rank arithmetic (⌈q·n⌉ via DIV — q·n overflows double's
    * mantissa at real counts). True quantile ∈ [est, est+8). DuckDB
    * replays binning, merge, cumsum, and the rank pick bit-for-bit.
    */
  private val q128 = Q(
    "q128_token_histogram",
    (s, dir) => {
      import graft.operators.Sketches
      val tc = t(s, dir, "documents").select(
        col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("v"))
      val batches = Sketches.histogramSketch(tc, "v", Seq("lang", "source"), 8L)
      val merged = Sketches.mergeHistograms(Seq(batches), Seq("lang"))
      Sketches
        .histogramQuantiles(merged, Seq("lang"),
          Seq(500000L, 900000L, 990000L), 8L)
        .orderBy("lang", "q_micro")
    },
    Some(s"""
      WITH tc AS (SELECT lang, source,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             END AS v
           FROM documents),
      h1 AS (SELECT lang, source, v // 8 AS bin, count(*) AS cnt
             FROM tc GROUP BY 1, 2, 3),
      hm AS (SELECT lang, bin, CAST(sum(cnt) AS BIGINT) AS cnt
             FROM h1 GROUP BY 1, 2),
      cum AS (SELECT lang, bin, cnt,
               CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bin
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
               CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
             FROM hm),
      qq AS (SELECT lang, bin, c, n,
               CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS q_micro
             FROM cum)
      SELECT lang, q_micro, max(n) AS n,
        CAST(min(CASE WHEN c >= (q_micro * n + 999999) // 1000000
                      THEN bin END) * 8 AS BIGINT) AS est
      FROM qq GROUP BY 1, 2 ORDER BY lang, q_micro
    """))

  /** LINE-LEVEL boilerplate removal
    * ([[graft.operators.Dedup.dropBoilerplateLines]], the CCNet/
    * RefinedWeb sub-document dedup step): footer lines are PLANTED
    * deterministically (every even doc gets a universal subscribe
    * footer → doc-frequency 250, dropped at maxDocs 40; every 5th doc
    * gets one of three promo variants → df ≈ 33 each, kept), so both
    * the deletion and the survival threshold are observable while the
    * reassembled text stays hash-exact. DuckDB replays the plant, the
    * distinct-doc line frequency, the > threshold cut, and the
    * order-preserving reassembly.
    */
  private val q129 = Q(
    "q129_line_dedup",
    (s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit("\nsubscribe to our newsletter")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit("\npromo "), (col("doc_id") % 3).cast("string")))
            .otherwise(lit(""))).as("text"))
      Dedup.dropBoilerplateLines(planted, "doc_id", "text", maxDocs = 40L)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH planted AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 2 = 0
               THEN chr(10) || 'subscribe to our newsletter' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0
               THEN chr(10) || 'promo ' || CAST(doc_id % 3 AS VARCHAR)
               ELSE '' END AS text
        FROM documents),
      l AS (SELECT doc_id, generate_subscripts(ls, 1) AS idx, unnest(ls) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                  FROM planted) t),
      dfq AS (SELECT line, count(DISTINCT doc_id) AS dfc FROM l GROUP BY line),
      kept AS (SELECT l.* FROM l JOIN dfq USING (line) WHERE dfc <= 40),
      re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
             FROM kept GROUP BY doc_id)
      SELECT p.doc_id, coalesce(re.text, '') AS text
      FROM planted p LEFT JOIN re USING (doc_id)
      ORDER BY doc_id
    """))

  /** Mergeable COUNT-MIN frequency sketches
    * ([[graft.operators.Sketches.cmsSketch]]/mergeCms/cmsEstimate,
    * Cormode & Muthukrishnan 2005): per-(lang, source) token grids
    * built as independent batches, merged LOSSLESSLY to per-lang grids
    * (counters add — the merge ≡ one pass, spec-pinned), then
    * point-queried for a fixed probe vocabulary NEXT TO the exact
    * counts — est ≥ exact by construction, and width 64 is small
    * enough that real collisions make the overestimate visible while
    * staying hash-exact (the grid is deterministic integers). DuckDB
    * replays the rolling hash, the affine hash bank (the shared
    * MinHash constants), the grid build, and the min-of-rows read.
    */
  private val q130 = {
    val probeToks =
      Seq("the", "of", "and", "der", "und", "le", "la", "el")
    def cellSql(r: Int) =
      s"((x * ${MinhashA(r)} + ${MinhashB(r)}) % 1000000007) " +
        "* 2654435761 % 1000000007 % 64"
    val cmsArmsSql = (0 until 4).map(r =>
      s"SELECT lang, $r AS r, ${cellSql(r)} AS c FROM hx")
      .mkString("\n        UNION ALL ")
    val probeArmsSql = (0 until 4).map(r =>
      s"SELECT lang, tok, $r AS r, ${cellSql(r)} AS c FROM px")
      .mkString("\n        UNION ALL ")
    Q(
      "q130_cms_freq",
      (s, dir) => {
        import graft.operators.Sketches
        val tok = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("lang"), col("source"),
            explode(wsTokens(col("text"))).as("tok"))
        val batches = Sketches.cmsSketch(tok, "tok", Seq("lang", "source"))
        val merged = Sketches.mergeCms(Seq(batches), Seq("lang"))
        val probes = t(s, dir, "documents").select(col("lang")).distinct()
          .select(col("lang"), explode(typedLit(probeToks)).as("tok"))
        val exact = tok.filter(col("tok").isin(probeToks: _*))
          .groupBy("lang", "tok").agg(count(lit(1)).as("__exact"))
        Sketches.cmsEstimate(merged, probes, "tok", Seq("lang"))
          .join(exact, Seq("lang", "tok"), "left")
          .select(col("lang"), col("tok"), col("est"),
            coalesce(col("__exact"), lit(0L)).as("exact"))
          .orderBy("lang", "tok")
      },
      Some(s"""
        WITH tok AS (SELECT lang,
               unnest(string_split_regex(trim(text), '\\s+')) AS item
             FROM documents WHERE length(trim(text)) > 0),
        hx AS (SELECT lang, item, ${rollSql("item")} AS x FROM tok),
        cells AS (
          $cmsArmsSql),
        grid AS (SELECT lang, r, c, count(*) AS cnt FROM cells GROUP BY 1, 2, 3),
        pt AS (SELECT unnest([${inList(probeToks)}]) AS tok),
        px AS (SELECT lang, tok, ${rollSql("tok")} AS x
               FROM (SELECT DISTINCT lang FROM documents) dl CROSS JOIN pt),
        pc AS (
          $probeArmsSql),
        est AS (SELECT p.lang, p.tok, min(coalesce(g.cnt, 0)) AS est
                FROM pc p LEFT JOIN grid g
                  ON g.lang = p.lang AND g.r = p.r AND g.c = p.c
                GROUP BY 1, 2),
        ex AS (SELECT lang, item AS tok, count(*) AS exact
               FROM tok GROUP BY 1, 2)
        SELECT e.lang, e.tok, CAST(e.est AS BIGINT) AS est,
               CAST(coalesce(x.exact, 0) AS BIGINT) AS exact
        FROM est e LEFT JOIN ex x ON x.lang = e.lang AND x.tok = e.tok
        ORDER BY e.lang, e.tok
      """))
  }

  /** DOMAIN-level quality gate
    * ([[graft.operators.TextAnalysis.domainQualityGate]] — the
    * RefinedWeb/CCNet bad-domain layer over q120's per-document
    * rules): per-source document fail fractions in exact integer
    * micro-arithmetic, sources above the 45% threshold BLOCKED — their
    * passing pages drop too, the decision no per-doc rule expresses —
    * and n_kept counting survivors of BOTH gates. The testdata's 20
    * sources land on both sides of the threshold at every SF
    * (measured: fail_micro spreads 240 000–640 000), so blocking and
    * survival are both observable. DuckDB replays q120's rule chain
    * plus the per-source aggregation and the integer-DIV fraction.
    */
  private val q133 = Q(
    "q133_domain_gate",
    (s, dir) =>
      TextAnalysis.domainQualityGate(
          t(s, dir, "documents"), "doc_id", "text", "source",
          TextAnalysis.QualityRules(
            minWords = 30, minStopHits = 2, maxTopWordMicro = 120000L),
          maxFailMicro = 450000L)
        .orderBy("source"),
    Some(s"""
      WITH t AS (SELECT doc_id, source, text,
             string_split_regex(trim(text), '\\s+') AS w FROM documents),
      m AS (SELECT doc_id, source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE CAST(len(w) AS BIGINT) END AS n,
          CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS sumlen,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) END AS alpha,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                 ['the', 'a', 'of', 'and', 'to', 'is'])) AS BIGINT) END AS stop_hits
        FROM t),
      tw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS topc FROM (
               SELECT doc_id, w2, count(*) AS c
               FROM (SELECT doc_id, unnest(w) AS w2 FROM t
                     WHERE length(trim(text)) > 0) u
               GROUP BY doc_id, w2) g GROUP BY doc_id),
      k AS (SELECT m.source,
              (m.n >= 30 AND m.n <= 100000
                AND m.n > 0 AND m.sumlen >= 3 * m.n AND m.sumlen <= 10 * m.n
                AND m.alpha * 1000000 >= 800000 * m.n
                AND m.stop_hits >= 2
                AND coalesce(tw.topc, 0) * 1000000 <= 120000 * m.n) AS keep
            FROM m LEFT JOIN tw USING (doc_id)),
      g AS (SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
            FROM k GROUP BY source)
      SELECT source, n_docs, n_fail,
        n_fail * 1000000 // n_docs AS fail_micro,
        (n_fail * 1000000 // n_docs > 450000) AS blocked,
        CASE WHEN n_fail * 1000000 // n_docs > 450000 THEN 0
             ELSE n_docs - n_fail END AS n_kept
      FROM g ORDER BY source
    """))

  /** Systematic PPS sampling
    * ([[graft.operators.Sampling.ppsSystematic]], Madow 1949) — the
    * weighted member of the mixing family: per-lang draws with
    * inclusion probability exactly ∝ n_chars, heavy docs drawing
    * multiple times (n_draws reported — honest PPS multiplicity),
    * the whole draw int64 ceil-division over an MCG-ordered weight
    * line: no floats, retry-stable, Σ n_draws = k per stratum
    * (spec-pinned). DuckDB replays the MCG order, both window sums,
    * and the ceil-div arithmetic.
    */
  private lazy val q135 = Q(
    "q135_pps_sample",
    (s, dir) =>
      graft.operators.Sampling
        .ppsSystematic(t(s, dir, "documents"), "lang", "doc_id",
          "n_chars", k = 20)
        .select(col("lang"), col("doc_id"), col("weight"), col("n_draws"))
        .orderBy("lang", "doc_id"),
    Some(s"""
      WITH d AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w
                 FROM documents WHERE n_chars > 0),
      o AS (SELECT lang, doc_id, w,
              CAST(coalesce(sum(w) OVER (PARTITION BY lang
                ORDER BY (doc_id % 1000000007) * 2654435761 % 1000000007 ASC,
                  doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c,
              CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
            FROM d)
      SELECT lang, doc_id, w AS weight,
        CAST(((c + w) * 20 + tot - 1) // tot
          - (c * 20 + tot - 1) // tot AS BIGINT) AS n_draws
      FROM o
      WHERE ((c + w) * 20 + tot - 1) // tot - (c * 20 + tot - 1) // tot > 0
      ORDER BY lang, doc_id
    """))

  /** MATRYOSHKA-style two-stage retrieval audit — the
    * dimension-truncation rung of the ANN evaluation family (q44 LSH,
    * q45 multiprobe, q48 nprobe): first stage shortlists m = 20 by
    * cosine over the FIRST 16 of 64 dims (the cheap representation a
    * 100 TB first pass scans — 4× less arithmetic and I/O), second
    * stage reranks ONLY the shortlist at full dimension, recall@5
    * measured against the full-dim brute force. The rerank join is
    * |probes|·m rows — the corpus is touched once per stage, never
    * quadratically at full width. Deterministic: cosine ties broken by
    * cand_id everywhere, and both engines fold the dot products in
    * index order so the doubles agree bit-for-bit; DuckDB replays both
    * stages and the intersect. The measured recall is LOW (20–60%) and
    * honestly so: the synthetic embeddings are near-isotropic, so the
    * first 16 dims carry no preferential energy and full-dim top-5
    * neighbors are near-ties — the audit exists exactly to expose that
    * (Matryoshka-TRAINED embeddings concentrate energy in the prefix;
    * random ones don't, and a pipeline should measure before
    * truncating).
    */
  private lazy val q139 = {
    // dotSql is pinned to dim 64; the truncated stage folds 16 — out-of-
    // range list indexes would NULL the whole product silently
    def dot16(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 17), i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])),
            (x, y) -> x + y)"""
    val trkSql =
      s"""spr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${dot16("c.t", "p.t")} / (sqrt(${dot16("c.t", "c.t")}) * sqrt(${dot16("p.t", "p.t")})) AS cosine
             FROM et c CROSS JOIN (SELECT * FROM et WHERE vec_id < 5) p
             WHERE c.vec_id <> p.vec_id),
        srk AS (SELECT probe_id, cand_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
               FROM spr),
        s20 AS (SELECT probe_id, cand_id FROM srk WHERE rnk <= 20)"""
    Q(
      "q139_matryoshka_recall",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val et = e.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val shortlist = Similarity
          .bruteForceTopK(et, et.filter(col("vec_id") < 5), k = 20)
          .select("probe_id", "cand_id")
        val cand = e.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
        val prb = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
        val w = Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("cand_id").asc)
        val rerank5 = shortlist
          .join(cand, "cand_id").join(broadcast(prb), "probe_id")
          .withColumn("cosine",
            graft.expressions.VectorExprs.cosine(col("cv"), col("pv")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select("probe_id", "cand_id")
        val brute5 = Similarity
          .bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 5)
          .select("probe_id", "cand_id")
        val matches = brute5.join(rerank5, Seq("probe_id", "cand_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("n_match"))
        brute5.select("probe_id").distinct()
          .join(matches, Seq("probe_id"), "left")
          .select(col("probe_id"),
            coalesce(col("n_match"), lit(0L)).as("n_match"),
            micro(coalesce(col("n_match"), lit(0L)) / 5.0).as("recall_micro"))
          .orderBy("probe_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        et AS (SELECT vec_id, v[1:16] AS t FROM e),
        $trkSql,
        rr AS (SELECT s.probe_id, s.cand_id,
                ${dotSql("ec.v", "ep.v")} / (sqrt(${dotSql("ec.v", "ec.v")}) * sqrt(${dotSql("ep.v", "ep.v")})) AS cosine
              FROM s20 s JOIN e ec ON ec.vec_id = s.cand_id
              JOIN e ep ON ep.vec_id = s.probe_id),
        rrk AS (SELECT probe_id, cand_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
               FROM rr),
        r5 AS (SELECT probe_id, cand_id FROM rrk WHERE rnk <= 5),
        bpr AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
                 ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")}) * sqrt(${dotSql("p.v", "p.v")})) AS cosine
               FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 5) p
               WHERE c.vec_id <> p.vec_id),
        brk AS (SELECT probe_id, cand_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
               FROM bpr),
        b5 AS (SELECT probe_id, cand_id FROM brk WHERE rnk <= 5),
        mc AS (SELECT probe_id, count(*) AS n_match
               FROM (SELECT * FROM b5 INTERSECT SELECT * FROM r5) i GROUP BY probe_id)
        SELECT p.probe_id,
          CAST(COALESCE(mc.n_match, 0) AS BIGINT) AS n_match,
          ${microSql("COALESCE(mc.n_match, 0) / 5.0")} AS recall_micro
        FROM (SELECT DISTINCT probe_id FROM b5) p LEFT JOIN mc USING (probe_id)
        ORDER BY probe_id
      """))
  }

  /** BPE MERGE-CANDIDATE mining
    * ([[graft.operators.TextAnalysis.bpePairCounts]], Sennrich et al.
    * 2016) — the first byte-pair-encoding training step over the
    * corpus being assembled: adjacent character-pair counts within
    * word boundaries, top-20 by (cnt desc, pair asc). The pair count
    * is the only part of tokenizer training that touches all the
    * data; the merge loop runs on this tiny aggregate. DuckDB replays
    * tokenization, the substr pair derivation, and the ranked cut.
    */
  private lazy val q140 = Q(
    "q140_bpe_pairs",
    (s, dir) =>
      TextAnalysis.bpePairCounts(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism), "text", topK = 20),
    Some(s"""
      WITH w AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
                 FROM documents WHERE length(trim(text)) > 0),
      p AS (SELECT unnest(list_transform(range(1, CAST(length(word) AS BIGINT)),
               i -> substr(word, CAST(i AS INT), 2))) AS pair
            FROM w)
      SELECT pair, count(*) AS cnt FROM p
      GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """))

  /** WINNOWING near-dup pairs
    * ([[graft.operators.Dedup.winnowingPairs]], Schleimer/Wilkerson/
    * Aiken 2003 — the MOSS fingerprinting algorithm): per-window
    * minimum shingle hashes (n = 3, w = 4) as a ~2/(w+1)-size
    * sub-linear sketch with the shared-run guarantee (any common token
    * run ≥ w+n−1 = 6 forces a shared fingerprint), then the equi-join
    * pair shape at minShared = 2 over the planted near-dup corpus.
    * DuckDB replays positional shingling, the range-frame window min,
    * the tail guard, and the join.
    */
  private lazy val q141 = Q(
    "q141_winnowing",
    (s, dir) =>
      Dedup.winnowingPairs(docs2(s, dir), "id", "text",
          n = 3, w = 4, minShared = 2)
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $docs2Sql,
      tok AS (SELECT id, string_split_regex(trim(text), '\\s+') AS wv FROM docs2),
      shl AS (SELECT id, list_transform(range(1, CAST(len(wv) AS INT) - 1),
                i -> wv[CAST(i AS INT)] || ' ' || wv[CAST(i AS INT) + 1] || ' ' || wv[CAST(i AS INT) + 2]) AS sl
              FROM tok),
      shp AS (SELECT id, generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS s
              FROM shl),
      hs AS (SELECT id, pos, ${rollSql("s")} AS h FROM shp),
      win AS (SELECT id, pos,
               min(h) OVER (PARTITION BY id ORDER BY pos
                 RANGE BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               max(pos) OVER (PARTITION BY id) AS mx
             FROM hs),
      fps AS (SELECT DISTINCT id, fp FROM win WHERE pos <= mx - 3)
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY id_a, id_b
    """))

  /** LINE-level language purity
    * ([[graft.operators.TextAnalysis.lineLangPurity]] — the CCNet
    * per-line language pass): foreign-language lines PLANTED
    * deterministically (every 4th doc gets a strongly-German line,
    * every 10th a French one) so mixed-language docs exist and purity
    * drops are observable while staying hash-exact; per-line langid,
    * majority line-language and agreement fraction per doc. DuckDB
    * replays the plant, the line split, the per-line stopword argmax
    * (q22's spelling), and the majority window.
    */
  private lazy val q142 = {
    def stopLine(lang: String) =
      s"""len(list_filter(string_split_regex(trim(lower(line)), '\\s+'),
            t -> t IN (${inList(TextAnalysis.Stopwords.toMap.apply(lang))})))"""
    Q(
      "q142_line_langid",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0,
              lit("\nder die das und ist der die")).otherwise(lit("")),
            when(col("doc_id") % 10 === 0,
              lit("\nle la les et est le")).otherwise(lit(""))).as("text"))
        TextAnalysis.lineLangPurity(planted, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH planted AS (SELECT doc_id, text ||
            CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || 'der die das und ist der die' ELSE '' END ||
            CASE WHEN doc_id % 10 = 0
                 THEN chr(10) || 'le la les et est le' ELSE '' END AS text
          FROM documents),
        ls AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
               FROM planted),
        lf AS (SELECT doc_id, line FROM ls WHERE length(trim(line)) > 0),
        hh AS (SELECT doc_id,
                ${stopLine("en")} AS h_en, ${stopLine("de")} AS h_de,
                ${stopLine("fr")} AS h_fr, ${stopLine("es")} AS h_es
              FROM lf),
        lid AS (SELECT doc_id,
                 CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                      WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                      WHEN h_fr >= h_es THEN 'fr' ELSE 'es' END AS ll
               FROM hh),
        c AS (SELECT doc_id, ll, count(*) AS n FROM lid GROUP BY 1, 2),
        r AS (SELECT doc_id, ll, n,
               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, ll) AS rn,
               CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS tot
             FROM c)
        SELECT doc_id, tot AS n_lines, ll AS major_lang,
          CAST(n * 1000000 // tot AS BIGINT) AS purity_micro
        FROM r WHERE rn = 1 ORDER BY doc_id
      """))
  }

  /** CORPUS CARD — the per-snapshot DATASHEET a training-data pipeline
    * publishes (Gebru et al. 2021 "Datasheets for Datasets", the
    * composition layer over the engine's own substrates): per language,
    * document count and corpus share, token mass, quality-gate pass
    * rate (q120's rules), and exact-duplicate rate — every number a
    * one-line read for the consumer deciding whether to train on the
    * snapshot. Exact copies are PLANTED (every 9th doc) so the dup
    * column is observably non-zero. Pure composition: qualityGate +
    * md5 digest counts + token counts, joined doc-keyed, ONE per-lang
    * aggregation, shares from an unbounded window over |langs| rows.
    * DuckDB replays the plant, all three substrates, and the integer
    * micro-rates.
    */
  private lazy val q143 = {
    val rules = TextAnalysis.QualityRules(
      minWords = 30, minStopHits = 2, maxTopWordMicro = 120000L)
    Q(
      "q143_corpus_card",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val raw = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
        val d = raw.select(col("doc_id"), col("lang"), col("text"))
          .unionAll(raw.filter(col("doc_id") % 9 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
              col("text")))
        val gate = TextAnalysis.qualityGate(d, "doc_id", "text", rules)
          .select(col("doc_id"), col("keep"))
        val dig = d.select(col("doc_id"), md5(col("text")).as("__dg"))
        val flags = dig
          .join(dig.groupBy("__dg").agg(count(lit(1)).as("__dn")), "__dg")
          .select(col("doc_id"), (col("__dn") > 1).as("__dup"))
        d.select(col("doc_id"), col("lang"),
            tokenCount(col("text")).cast("long").as("__tok"))
          .join(gate, "doc_id").join(flags, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__tok")).as("n_tokens"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("__nk"),
            sum(when(col("__dup"), 1L).otherwise(0L)).as("__nd"))
          .withColumn("__total",
            sum(col("n_docs")).over(
              Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("lang"), col("n_docs"),
            expr("n_docs * 1000000 DIV __total").as("share_micro"),
            col("n_tokens"),
            expr("__nk * 1000000 DIV n_docs").as("keep_micro"),
            expr("__nd * 1000000 DIV n_docs").as("dup_micro"))
          .orderBy("lang")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000, lang, text FROM documents WHERE doc_id % 9 = 0),
        t AS (SELECT doc_id, lang, text,
               string_split_regex(trim(text), '\\s+') AS w FROM d),
        m AS (SELECT doc_id,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(w) AS BIGINT) END AS n,
            CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS sumlen,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) END AS alpha,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                   ['the', 'a', 'of', 'and', 'to', 'is'])) AS BIGINT) END AS stop_hits
          FROM t),
        tw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS topc FROM (
                 SELECT doc_id, w2, count(*) AS c
                 FROM (SELECT doc_id, unnest(w) AS w2 FROM t
                       WHERE length(trim(text)) > 0) u
                 GROUP BY doc_id, w2) g GROUP BY doc_id),
        k AS (SELECT m.doc_id,
                (m.n >= 30 AND m.n <= 100000
                  AND m.n > 0 AND m.sumlen >= 3 * m.n AND m.sumlen <= 10 * m.n
                  AND m.alpha * 1000000 >= 800000 * m.n
                  AND m.stop_hits >= 2
                  AND coalesce(tw.topc, 0) * 1000000 <= 120000 * m.n) AS keep
              FROM m LEFT JOIN tw USING (doc_id)),
        dg AS (SELECT doc_id, md5(text) AS g FROM d),
        dn AS (SELECT g, count(*) AS c FROM dg GROUP BY g),
        fl AS (SELECT dg.doc_id, (dn.c > 1) AS dup FROM dg JOIN dn USING (g)),
        base AS (SELECT t.doc_id, t.lang,
                  CASE WHEN length(trim(t.text)) = 0 THEN 0
                       ELSE CAST(len(t.w) AS BIGINT) END AS tok
                FROM t),
        per AS (SELECT base.lang, count(*) AS n_docs,
                 CAST(sum(base.tok) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
                 CAST(sum(CASE WHEN fl.dup THEN 1 ELSE 0 END) AS BIGINT) AS nd
               FROM base JOIN k USING (doc_id) JOIN fl USING (doc_id)
               GROUP BY base.lang),
        tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM per)
        SELECT lang, n_docs,
          n_docs * 1000000 // tot.total AS share_micro,
          n_tokens,
          nk * 1000000 // n_docs AS keep_micro,
          nd * 1000000 // n_docs AS dup_micro
        FROM per, tot ORDER BY lang
      """))
  }

  /** Batch NOVELTY audit through the count-min state — the ORACLED
    * twin of [[graft.streaming.DocStreams.cmsNoveltyStream]] (the
    * probe is a stateless projection, so the SAME function serves
    * batch and stream — called here on a batch frame): the reference
    * grid is built from the src0 slice (the "corpus so far"), every
    * doc scores its rare-token fraction against it. Closes the CMS
    * write+read loop under the hash oracle: q130 pins the grid and
    * point reads, this pins the inlined literal-map read path and the
    * per-doc fold. DuckDB replays grid, per-(doc, token) min-read,
    * occurrence-weighted rare counts, and the micro-floored fraction.
    */
  private lazy val q146 = {
    def cellSql(r: Int) =
      s"((x * ${MinhashA(r)} + ${MinhashB(r)}) % 1000000007) " +
        "* 2654435761 % 1000000007 % 64"
    val gridArms = (0 until 4).map(r =>
      s"SELECT $r AS r, ${cellSql(r)} AS c FROM hx")
      .mkString("\n        UNION ALL ")
    val probeArms = (0 until 4).map(r =>
      s"SELECT doc_id, item, $r AS r, ${cellSql(r)} AS c FROM dix")
      .mkString("\n        UNION ALL ")
    Q(
      "q146_cms_novelty",
      (s, dir) => {
        import graft.operators.Sketches
        val docs = t(s, dir, "documents")
        val refToks = docs.filter(col("source") === "src0")
          .select(explode(wsTokens(col("text"))).as("tok"))
        val grid = Sketches.cmsSketch(refToks, "tok", Seq.empty)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
        graft.streaming.DocStreams
          .cmsNoveltyStream(
            docs.select(col("doc_id"), col("text"))
              // the probe is a heavy narrow projection (per-token CMS
              // fold); fan out past the parquet's few input splits or
              // the whole scan runs on 2-3 cores (the q25/q27 lesson)
              .repartition(s.sparkContext.defaultParallelism),
            grid, rareMax = 1L)
          .orderBy("doc_id")
      },
      Some(s"""
        WITH rt AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS item
               FROM documents WHERE source = 'src0' AND length(trim(text)) > 0),
        hx AS (SELECT item, ${rollSql("item")} AS x FROM rt),
        cells AS (
          $gridArms),
        grid AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
        dt AS (SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS item
               FROM documents WHERE length(trim(text)) > 0),
        tc AS (SELECT doc_id, item, count(*) AS occ FROM dt GROUP BY 1, 2),
        dix AS (SELECT DISTINCT doc_id, item, ${rollSql("item")} AS x FROM dt),
        pc AS (
          $probeArms),
        est AS (SELECT p.doc_id, p.item, min(coalesce(g.cnt, 0)) AS est
                FROM pc p LEFT JOIN grid g ON g.r = p.r AND g.c = p.c
                GROUP BY 1, 2),
        per AS (SELECT t.doc_id,
                 CAST(sum(t.occ) AS BIGINT) AS n_toks,
                 CAST(sum(CASE WHEN e.est <= 1 THEN t.occ ELSE 0 END) AS BIGINT) AS n_rare
               FROM tc t JOIN est e ON e.doc_id = t.doc_id AND e.item = t.item
               GROUP BY 1)
        SELECT d.doc_id,
          CAST(coalesce(per.n_toks, 0) AS INT) AS n_toks,
          CAST(coalesce(per.n_rare, 0) AS BIGINT) AS n_rare,
          CASE WHEN coalesce(per.n_toks, 0) = 0 THEN 0
               ELSE ${microSql("CAST(per.n_rare AS DOUBLE) / per.n_toks")}
          END AS novelty_micro
        FROM documents d LEFT JOIN per USING (doc_id)
        ORDER BY d.doc_id
      """))
  }

  /** Batch HOT-TOKEN audit through the Misra-Gries state — the ORACLED
    * twin of [[graft.streaming.DocStreams.mgHotStream]] (the probe is a
    * stateless projection, so the SAME function serves batch and
    * stream — called here on a batch frame): the reference summary is
    * built from the src0 slice at capacity 10
    * ([[graft.operators.Sketches.heavyHitters]] — the q122 write side),
    * every doc scores the fraction of its token occurrences the
    * summary GUARANTEES frequent (MG counts are lower bounds — the
    * conservative complement of q146's CMS rarity read). Closes the
    * MG write+read loop under the hash oracle: q122 pins the summary
    * rows and the merge; this pins the inlined literal-map read path
    * and the per-doc occurrence fold. DuckDB replays the capacity cut,
    * the membership probe, and the micro-floored fraction.
    */
  private lazy val q147 = Q(
    "q147_mg_hot",
    (s, dir) => {
      import graft.operators.Sketches
      val docs = t(s, dir, "documents")
      val refToks = docs.filter(col("source") === "src0")
        .select(explode(wsTokens(col("text"))).as("tok"))
      val summary = Sketches.heavyHitters(refToks, "tok", Seq.empty, 10)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.streaming.DocStreams
        .mgHotStream(docs.select(col("doc_id"), col("text")), summary)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS item
             FROM documents WHERE source = 'src0' AND length(trim(text)) > 0),
      c1 AS (SELECT item, count(*) AS cnt FROM tok GROUP BY 1),
      r1 AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, item ASC) AS rn
             FROM c1),
      s1 AS (SELECT *, max(CASE WHEN rn = 11 THEN cnt ELSE 0 END) OVER () AS sub
             FROM r1 WHERE rn <= 11),
      hh AS (SELECT item FROM s1 WHERE rn <= 10 AND cnt - sub > 0),
      dt AS (SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS item
             FROM documents WHERE length(trim(text)) > 0),
      per AS (SELECT dt.doc_id, count(*) AS n_toks,
               CAST(sum(CASE WHEN hh.item IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hot
             FROM dt LEFT JOIN hh USING (item) GROUP BY 1)
      SELECT d.doc_id,
        CAST(coalesce(per.n_toks, 0) AS INT) AS n_toks,
        CAST(coalesce(per.n_hot, 0) AS BIGINT) AS n_hot,
        CASE WHEN coalesce(per.n_toks, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(per.n_hot AS DOUBLE) / per.n_toks
               * 1000000.0) AS BIGINT)
        END AS hot_micro
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id
    """))

  /** MEDIA corpus card — the multimodal twin of q143's text datasheet
    * (the documentation artifact a media-corpus release ships): per
    * MODALITY, item/byte volume, exact-duplicate payload fraction
    * (whole-payload digest — the media rung below
    * [[graft.operators.Multimodal.mediaCdcDupStats]]' shifted-byte
    * detector), and decoded-dimension totals from the per-partition
    * decoder ([[graft.operators.Multimodal.extractFeatures]] — one
    * decoder per partition, the real mapInPandas-shaped plumbing).
    * The media table derives deterministically from `documents`
    * (bytes = UTF-8 text, modality = doc_id mod 3, a dup slice
    * unioned in like q143), so DuckDB replays the
    * [[graft.operators.Multimodal.FakeDecoder]] hash fold
    * character-by-character (ASCII corpus: unicode() IS the byte) and
    * the card is hash-exact — decode plumbing under the oracle, not
    * just spec'd. All integer sums; fraction micro-floored by DIV.
    * Scale shape: one narrow decode projection + one digest groupBy +
    * one per-modality agg — no corpus shuffle beyond the digest count.
    */
  private lazy val q148 = Q(
    "q148_media_card",
    (s, dir) => {
      val raw = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      // the dup-slice offset must be ≡ 0 mod 3 so a planted copy KEEPS
      // its source's modality — dup detection groups per (modality,
      // digest), and a modality-shifting offset would make the planted
      // dups invisible to the metric they exist to exercise
      val d = raw.select(col("doc_id"), col("text"))
        .unionAll(raw.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000001L).as("doc_id"), col("text")))
      val media = d.select(
        format_string("m%07d", col("doc_id")).as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3).cast("int") + 1).as("modality"),
        encode(col("text"), "UTF-8").as("bytes"),
        map(lit("src"), lit("documents")).as("meta"))
      val feats = Multimodal.extractFeatures(media)
        .select(col("media_id"), col("modality"), col("bytes"),
          col("width"), col("height"),
          coalesce(col("n_frames"), lit(0)).as("frames"),
          md5(col("bytes")).as("__dg"))
      val dupFlags = feats
        .join(feats.groupBy("modality", "__dg")
          .agg(count(lit(1)).as("__dn")), Seq("modality", "__dg"))
      dupFlags.groupBy("modality")
        .agg(count(lit(1)).as("n_items"),
          sum(length(col("bytes"))).as("n_bytes"),
          sum(when(col("__dn") > 1, 1L).otherwise(0L)).as("n_dup"),
          sum(col("width").cast("long")).as("sum_width"),
          sum(col("height").cast("long")).as("sum_height"),
          sum(col("frames").cast("long")).as("sum_frames"))
        .withColumn("dup_micro", expr("n_dup * 1000000 DIV n_items"))
        .select("modality", "n_items", "n_bytes", "n_dup", "dup_micro",
          "sum_width", "sum_height", "sum_frames")
        .orderBy("modality")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000001, text FROM documents WHERE doc_id % 9 = 0),
      m AS (SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             text,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
               list_transform(range(1, strlen(text) + 1),
                 i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS h
           FROM d),
      feat AS (SELECT doc_id, modality, text,
               16 + h % 1024 AS w,
               16 + (h // 1024) % 1024 AS hgt,
               CASE WHEN modality = 'video' THEN 1 + h % 32 ELSE 0 END AS frames
             FROM m),
      dg AS (SELECT modality, md5(text) AS g, count(*) AS c
             FROM feat GROUP BY 1, 2),
      fl AS (SELECT f.modality, f.text, f.w, f.hgt, f.frames,
               (dg.c > 1) AS dup
             FROM feat f JOIN dg
               ON dg.modality = f.modality AND dg.g = md5(f.text))
      SELECT modality,
        count(*) AS n_items,
        CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000 // count(*) AS dup_micro,
        CAST(sum(w) AS BIGINT) AS sum_width,
        CAST(sum(hgt) AS BIGINT) AS sum_height,
        CAST(sum(frames) AS BIGINT) AS sum_frames
      FROM fl GROUP BY modality ORDER BY modality
    """))

  /** EPOCH-CAPPED budget waterfill
    * ([[graft.operators.Sampling.epochWaterfill]]) — the allocation
    * step upstream of the q89/q97 temperature draws: per-source token
    * counts, per-source repeat caps (1–3 epochs cycling by source
    * index — quality decides how often a source may be re-seen), and
    * a budget of 1.8× the corpus, solved for the one common water
    * level t where Σ n_i·min(t, c_i) meets the budget. Low-cap
    * sources pin at their cap; the rest all repeat at exactly t.
    * Everything integer/decimal-exact (level found by exact integral
    * division over decimal prefix sums — int64 would wrap at real
    * token volumes), so DuckDB replays the segment search and the
    * floored allocations bit-for-bit via HUGEINT.
    */
  private lazy val q150 = Q(
    "q150_budget_waterfill",
    (s, dir) => {
      val tc = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
        .withColumn("cap_micro",
          lit(1000000L) +
            expr("CAST(substr(source, 4) AS INT) % 5") * lit(500000L))
      val total = tc.agg(sum("n_tokens")).collect()(0).getLong(0)
      graft.operators.Sampling
        .epochWaterfill(tc, "source", "n_tokens", "cap_micro",
          total * 9L / 5L)
        .orderBy("source")
    },
    Some(s"""
      WITH tc AS (SELECT source,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
               AS BIGINT) AS n,
             1000000 + (CAST(substr(source, 4) AS INT) % 5) * 500000 AS c
           FROM documents GROUP BY source),
      b AS (SELECT CAST(sum(n) AS BIGINT) * 9 // 5 AS bt FROM tc),
      o AS (SELECT tc.*,
             coalesce(sum(CAST(c AS HUGEINT) * n) OVER (ORDER BY c, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             sum(n) OVER (ORDER BY c, source
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rem,
             coalesce(lag(c) OVER (ORDER BY c, source), 0) AS lo
           FROM tc),
      cand AS (SELECT o.*,
               CAST((CAST(b.bt AS HUGEINT) * 1000000 - cb) // rem AS BIGINT) AS t
             FROM o, b),
      lvl AS (SELECT coalesce(min(CASE WHEN lo <= t AND t < c THEN t END),
               max(c)) AS lv FROM cand)
      SELECT tc.source, tc.n AS n_tokens, CAST(tc.c AS BIGINT) AS cap_micro,
        CAST(least(tc.c, lvl.lv) AS BIGINT) AS epochs_micro,
        CAST(CAST(tc.n AS HUGEINT) * least(tc.c, lvl.lv) // 1000000
          AS BIGINT) AS alloc_tokens
      FROM tc, lvl ORDER BY source
    """))

  /** HYBRID retrieval by RECIPROCAL-RANK FUSION
    * ([[graft.operators.TextAnalysis.rrfFuse]], Cormack et al. 2009) —
    * the combiner every BM25 + dense-vector stack ships: the sparse
    * arm is q87's BM25 top-20 (rank by micro score, ties by id), the
    * dense arm a brute-force cosine top-20 over the embedding table,
    * fused as Σ 10⁶ DIV (60 + rank) per candidate and re-ranked. Rank
    * positions, not raw scores, so the incommensurable scales need no
    * calibration; integer fused scores make the gate hash-exact.
    * DuckDB replays BOTH arms (the shared bm25 CTE chain + the q40
    * cosine chain) and the fusion arithmetic. Fusion cost is bounded
    * by k·|rankers| rows per query — independent of corpus size.
    */
  private lazy val q151 = Q(
    "q151_rrf_fusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sparse = TextAnalysis.bm25TopK(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "join", "window"), k = 20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score_micro").desc, col("id").asc)))
        .select(lit(0).as("qid"), col("id"), col("rnk"))
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val dense = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 20)
        .select(lit(0).as("qid"), col("cand_id").as("id"), col("rnk"))
      TextAnalysis.rrfFuse(Seq(sparse, dense), kConst = 60, topK = 10)
        .orderBy("rnk")
    },
    Some(s"""
      WITH $bm25CoreCtes,
      sp AS (SELECT id, rnk FROM (
               SELECT id, row_number() OVER (
                 ORDER BY score_micro DESC, id) AS rnk FROM sc) x
             WHERE rnk <= 20),
      e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
      pr AS (SELECT c.vec_id AS id,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")})
                 * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id = 0) p
             WHERE c.vec_id <> p.vec_id),
      de AS (SELECT id, rnk FROM (
               SELECT id, row_number() OVER (
                 ORDER BY cosine DESC, id) AS rnk FROM pr) x
             WHERE rnk <= 20),
      u AS (SELECT id, 1000000 // (60 + rnk) AS s FROM sp
            UNION ALL SELECT id, 1000000 // (60 + rnk) FROM de),
      f2 AS (SELECT id, CAST(sum(s) AS BIGINT) AS rrf_micro
             FROM u GROUP BY id),
      r AS (SELECT CAST(0 AS INT) AS qid, id, rrf_micro,
             row_number() OVER (ORDER BY rrf_micro DESC, id) AS rnk
           FROM f2)
      SELECT qid, id, rrf_micro, rnk FROM r WHERE rnk <= 10 ORDER BY rnk
    """))

  /** TYPO-NEIGHBOR vocabulary pairs by SymSpell deletion hashing
    * ([[graft.operators.Dedup.deletionNeighborPairs]]): every vocab
    * item emits its single-deletion variants as bucket keys, edit-
    * distance-1 pairs provably share a key, exact levenshtein verifies
    * in-bucket — O(V·maxLen) join input instead of the O(V²) scan.
    * The vocabulary-normalization primitive (fold misspellings into
    * their frequent neighbor before token statistics). The synthetic
    * vocabulary has no natural distance-1 collisions, so a typo slice
    * is PLANTED deterministically (docs with doc_id ≡ 0 mod 11
    * re-emit their tokens with a trailing 'x') — the gate must find
    * exactly the planted insertions plus any true neighbors, not
    * vacuously agree on empty. DuckDB replays the corruption, the
    * deletion-key generation, the bucket join, and its own
    * levenshtein verify.
    */
  private lazy val q153 = Q(
    "q153_typo_pairs",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(wsTokens(lower(col("text")))).as("tok"))
      val toks = base.select("tok").unionAll(
        base.filter(col("doc_id") % 11 === 0)
          .select(concat(col("tok"), lit("x")).as("tok")))
      Dedup.deletionNeighborPairs(toks, "tok")
        .orderBy("item_a", "item_b")
    },
    Some(s"""
      WITH b0 AS (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS item
             FROM documents WHERE length(trim(text)) > 0),
      tok AS (SELECT item FROM b0
              UNION ALL
              SELECT item || 'x' FROM b0 WHERE doc_id % 11 = 0),
      it AS (SELECT item, count(*) AS n FROM tok
             WHERE length(item) BETWEEN 1 AND 32 GROUP BY 1),
      keys AS (SELECT item, n,
               unnest(list_distinct(list_prepend(item,
                 list_transform(range(1, length(item) + 1),
                   i -> substr(item, 1, CAST(i AS INT) - 1)
                     || substr(item, CAST(i AS INT) + 1))))) AS k
             FROM it),
      cand AS (SELECT DISTINCT a.item AS item_a, b.item AS item_b,
               a.n AS n_a, b.n AS n_b
             FROM keys a JOIN keys b ON a.k = b.k AND a.item < b.item)
      SELECT item_a, item_b, n_a, n_b FROM cand
      WHERE levenshtein(item_a, item_b) = 1
      ORDER BY item_a, item_b
    """))

  /** BPE tokenizer APPLY ([[graft.expressions.StringExprs
    * .bpeMergedCount]] — the apply side of q140's pair mining, and the
    * count that matters for budgets: tokens under the tokenizer the
    * model will actually see; whitespace counts mis-budget exactly the
    * high-merge text a tokenizer compresses most): a fixed English
    * merge table (multi-level: t+h → th+e etc.) applied greedily
    * lowest-rank-first per pre-token by ONE codegen'd kernel call per
    * row, ranks riding the generated code as a reference object — a
    * narrow scan-speed projection, zero shuffle. Per-lang report:
    * char-floor tokens, regex pre-tokens, and the per-doc bounds
    * count. Greedy iterative merging is not portably SQL-expressible,
    * but its DERIVED INVARIANTS are: the char floor (non-whitespace
    * code points) and the regex pre-token count are recomputed
    * independently by DuckDB (exact hash compare), and every doc's
    * merged count must land in [pre_tokens, char_tokens] — the true-
    * BPE floor/ceiling theorem (merging only ever shrinks, a pre-token
    * never drops below one) — so n_docs_in_bounds must equal n_docs.
    * A broken scanner, merge loop, or rank table flips a bound and
    * hash-mismatches; BpeApplySpec keeps the exact hand cases and the
    * compression-ratio reading.
    */
  private lazy val q155 = Q(
    "q155_bpe_apply",
    (s, dir) => {
      import graft.expressions.StringExprs.bpeMergedCount
      val merges = Seq(
        ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
        ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
        ("in", "g"), ("t", "o"), ("e", "s"), ("o", "u"), ("i", "s"))
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("lang"),
          bpeMergedCount(col("text"), Seq.empty).cast("long").as("cf"),
          bpeTokenCount(col("text")).cast("long").as("pt"),
          bpeMergedCount(col("text"), merges).cast("long").as("bt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cf")).as("char_tokens"),
          sum(col("pt")).as("pre_tokens"),
          sum(when(col("bt").between(col("pt"), col("cf")), 1L)
            .otherwise(0L)).as("n_docs_in_bounds"))
        .orderBy("lang")
    },
    Some("""
      SELECT lang, count(*) AS n_docs,
        CAST(sum(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')))
          AS BIGINT) AS char_tokens,
        CAST(sum(len(regexp_extract_all(text,
          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')))
          AS BIGINT) AS pre_tokens,
        count(*) AS n_docs_in_bounds
      FROM documents GROUP BY lang ORDER BY lang
    """))

  /** INDEX-RESIDENT hybrid retrieval — q151's RRF with BOTH arms on
    * persisted indexes, the shape a production hybrid stack actually
    * runs (nothing rescans the corpus at query time): sparse = BM25
    * over the persisted posting lists (q92's path — score-identical
    * to q87 by construction, |terms| posting reads), dense = the
    * LSH-bucketed ANN (q41's path — the probe scans its bucket, not
    * the corpus), fused with the same integer RRF arithmetic. The
    * dense arm is APPROXIMATE (bucket-restricted) — RRF degrades
    * gracefully under ranking noise, which is exactly why hybrid
    * stacks fuse ranks instead of scores. DuckDB replays the posting
    * scoring, the hyperplane bucketing, and the fusion.
    */
  private lazy val q158 = Q(
    "q158_rrf_indexed",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val sparse = TextAnalysis.bm25TopKIndexed(
          TextAnalysis.termPostings(docs, "doc_id", "text"),
          TextAnalysis.corpusStats(docs, "doc_id", "text"),
          Seq("spark", "join", "window"), k = 20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score_micro").desc, col("id").asc)))
        .select(lit(0).as("qid"), col("id"), col("rnk"))
      val dense = lshTopK(s, dir, k = 20)
        .filter(col("probe_id") === 0)
        .select(lit(0).as("qid"), col("cand_id").as("id"), col("rnk"))
      TextAnalysis.rrfFuse(Seq(sparse, dense), kConst = 60, topK = 10)
        .orderBy("rnk")
    },
    Some(s"""
      WITH $bm25CoreCtes,
      sp AS (SELECT id, rnk FROM (
               SELECT id, row_number() OVER (
                 ORDER BY score_micro DESC, id) AS rnk FROM sc) x
             WHERE rnk <= 20),
      e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
      $lshRankSql,
      de AS (SELECT cand_id AS id, rnk FROM lrk
             WHERE probe_id = 0 AND rnk <= 20),
      u AS (SELECT id, 1000000 // (60 + rnk) AS s FROM sp
            UNION ALL SELECT id, 1000000 // (60 + rnk) FROM de),
      f2 AS (SELECT id, CAST(sum(s) AS BIGINT) AS rrf_micro
             FROM u GROUP BY id),
      r AS (SELECT CAST(0 AS INT) AS qid, id, rrf_micro,
             row_number() OVER (ORDER BY rrf_micro DESC, id) AS rnk
           FROM f2)
      SELECT qid, id, rrf_micro, rnk FROM r WHERE rnk <= 10 ORDER BY rnk
    """))

  /** WEIGHTED sampling WITHOUT replacement
    * ([[graft.operators.Sampling.weightedSampleWor]], Efraimidis-
    * Spirakis exponential race): exactly k distinct docs per language,
    * inclusion biased by token weight — the no-repeats complement of
    * q135's with-multiplicity PPS. Deterministic u from a dedicated
    * MCG round; the ES key is ln(u) micro-quantized FIRST (one exact
    * long, the q110 log precedent) and only then divided by the
    * weight — quantizing after the divide shrinks resolution by w and
    * collapses heavy strata onto the id tiebreak (regression
    * spec-pinned in SamplingSpec). DuckDB replays hash, ln, floor,
    * the divide, and the per-stratum top-k in that exact order.
    */
  private lazy val q161 = Q(
    "q161_weighted_wor",
    (s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("w"))
      Sampling.weightedSampleWor(d, "lang", "doc_id", "w", k = 5)
        .select(col("lang"), col("doc_id"), col("w").as("weight"))
        .orderBy("lang", "doc_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS w
           FROM documents),
      f AS (SELECT * FROM d WHERE w > 0),
      ky AS (SELECT lang, doc_id, w,
              CAST(floor(ln(
                CAST((doc_id % 1000000007) * 2654435761 % 1000000007
                  * 16807 % 1000000007 + 1 AS DOUBLE) / 1000000008.0)
                * 1000000.0) AS BIGINT) AS lnmicro
            FROM f),
      r AS (SELECT *, row_number() OVER (PARTITION BY lang
             ORDER BY CAST(lnmicro AS DOUBLE) / w DESC, doc_id) AS rn
            FROM ky)
      SELECT lang, doc_id, CAST(w AS BIGINT) AS weight
      FROM r WHERE rn <= 5 ORDER BY lang, doc_id
    """))

  /** K-ANONYMITY over document metadata ([[graft.operators.Privacy
    * .kAnonymize]], Sweeney 2002): the metadata side channel the q24
    * text-PII pass cannot close — any (lang, source, length-band)
    * combination describing fewer than k docs re-identifies them on
    * release. Local recoding up a two-rung ladder (widen the length
    * band ×10, then mask the source), terminal suppression; level is
    * part of the equivalence key, so every surviving class is ≥ k rows
    * of the SAME level. Output is the class audit report (level,
    * quasi-tuple, suppressed, size). DuckDB replays the ladder as a
    * window chain — a wrong promotion rule, class key, or suppression
    * boundary moves rows across classes and hash-mismatches.
    */
  private lazy val q165 = Q(
    "q165_k_anon",
    (s, dir) => {
      import graft.operators.Privacy
      val docs = t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "source", "n_chars div 100 AS lb")
      Privacy.kAnonymize(docs, Seq("lang", "source", "lb"),
          Seq(Map("lb" -> expr("lb div 10")),
              Map("source" -> lit("*"))),
          k = 10)
        .groupBy("anon_level", "lang", "source", "lb", "suppressed")
        .agg(count(lit(1)).as("n"))
        .orderBy("anon_level", "lang", "source", "lb", "suppressed")
    },
    Some("""
      WITH l0 AS (SELECT doc_id, lang, source, n_chars // 100 AS lb
                  FROM documents),
      c0 AS (SELECT *, count(*) OVER (PARTITION BY lang, source, lb) AS c
             FROM l0),
      s1 AS (SELECT doc_id, lang, source,
               CASE WHEN c < 10 THEN lb // 10 ELSE lb END AS lb,
               CASE WHEN c < 10 THEN 1 ELSE 0 END AS lvl
             FROM c0),
      c1 AS (SELECT *, count(*) OVER (PARTITION BY lvl, lang, source, lb) AS c
             FROM s1),
      s2 AS (SELECT doc_id, lang,
               CASE WHEN lvl = 1 AND c < 10 THEN '*' ELSE source END AS source,
               lb,
               CASE WHEN lvl = 1 AND c < 10 THEN 2 ELSE lvl END AS lvl
             FROM c1),
      c2 AS (SELECT *, count(*) OVER (PARTITION BY lvl, lang, source, lb) AS c
             FROM s2),
      fin AS (SELECT doc_id, lvl,
               CASE WHEN c < 10 THEN NULL ELSE lang END AS lang,
               CASE WHEN c < 10 THEN NULL ELSE source END AS source,
               CASE WHEN c < 10 THEN NULL ELSE lb END AS lb,
               (c < 10) AS suppressed
              FROM c2)
      SELECT CAST(lvl AS INT) AS anon_level, lang, source,
        CAST(lb AS BIGINT) AS lb, suppressed, count(*) AS n
      FROM fin GROUP BY 1, 2, 3, 4, 5
      ORDER BY anon_level, lang NULLS FIRST, source NULLS FIRST,
        lb NULLS FIRST, suppressed
    """))

  /** DISTINCT-l-DIVERSITY ([[graft.operators.Privacy.kAnonymize]] with
    * `sensitive`/`l` — Machanavajjhala et al. 2007): q165's k gate
    * alone fails the HOMOGENEITY attack — a class of 50 docs that all
    * share one language still leaks the language; here every surviving
    * (source, length-band) class must ALSO span ≥ l distinct langs, or
    * it climbs the same ladder / suppresses. DuckDB replays distinct-
    * per-class via the dense_rank-max trick (window COUNT(DISTINCT) is
    * unsupported there — an independent spelling of the same count).
    */
  private lazy val q166 = Q(
    "q166_l_diversity",
    (s, dir) => {
      import graft.operators.Privacy
      val docs = t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "source", "n_chars div 100 AS lb")
      Privacy.kAnonymize(docs, Seq("source", "lb"),
          Seq(Map("lb" -> expr("lb div 10")),
              Map("source" -> lit("*"))),
          k = 10, sensitive = Some("lang"), l = 3)
        .groupBy("anon_level", "source", "lb", "suppressed")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("anon_level", "source", "lb", "suppressed")
    },
    Some("""
      WITH l0 AS (SELECT doc_id, lang, source, n_chars // 100 AS lb
                  FROM documents),
      c0 AS (SELECT *, count(*) OVER (PARTITION BY source, lb) AS c,
               max(dr) OVER (PARTITION BY source, lb) AS d
             FROM (SELECT *, dense_rank() OVER (PARTITION BY source, lb
                     ORDER BY lang) AS dr FROM l0)),
      s1 AS (SELECT doc_id, lang, source,
               CASE WHEN c < 10 OR d < 3 THEN lb // 10 ELSE lb END AS lb,
               CASE WHEN c < 10 OR d < 3 THEN 1 ELSE 0 END AS lvl
             FROM c0),
      c1 AS (SELECT *, count(*) OVER (PARTITION BY lvl, source, lb) AS c,
               max(dr) OVER (PARTITION BY lvl, source, lb) AS d
             FROM (SELECT *, dense_rank() OVER (PARTITION BY lvl, source, lb
                     ORDER BY lang) AS dr FROM s1)),
      s2 AS (SELECT doc_id, lang,
               CASE WHEN lvl = 1 AND (c < 10 OR d < 3) THEN '*'
                    ELSE source END AS source,
               lb,
               CASE WHEN lvl = 1 AND (c < 10 OR d < 3) THEN 2
                    ELSE lvl END AS lvl
             FROM c1),
      c2 AS (SELECT *, count(*) OVER (PARTITION BY lvl, source, lb) AS c,
               max(dr) OVER (PARTITION BY lvl, source, lb) AS d
             FROM (SELECT *, dense_rank() OVER (PARTITION BY lvl, source, lb
                     ORDER BY lang) AS dr FROM s2)),
      fin AS (SELECT doc_id, lang, lvl,
               CASE WHEN c < 10 OR d < 3 THEN NULL ELSE source END AS source,
               CASE WHEN c < 10 OR d < 3 THEN NULL ELSE lb END AS lb,
               (c < 10 OR d < 3) AS suppressed
              FROM c2)
      SELECT CAST(lvl AS INT) AS anon_level, source,
        CAST(lb AS BIGINT) AS lb, suppressed, count(*) AS n,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM fin GROUP BY 1, 2, 3, 4
      ORDER BY anon_level, source NULLS FIRST, lb NULLS FIRST, suppressed
    """))

  /** COHEN'S KAPPA ([[graft.operators.TextAnalysis.cohenKappa]]) —
    * chance-corrected agreement, here auditing the q22 langid
    * HEURISTIC against the gold `lang` column (raw accuracy flatters:
    * a majority-class corpus agrees heavily by chance). κ =
    * (N·D − S)/(N² − S) from exact int64 confusion-matrix products,
    * one micro-floored division. DuckDB replays the heuristic, the
    * matrix, the marginals, and the closed form.
    */
  private lazy val q170 = Q(
    "q170_kappa",
    (s, dir) => {
      val rated = t(s, dir, "documents")
        .select(TextAnalysis.langId(col("text")).as("pred"),
          col("lang").as("actual"))
      TextAnalysis.cohenKappa(rated, "pred", "actual")
    },
    Some(s"""
      WITH h AS (SELECT lang,
              ${stopSql("en")} AS h_en, ${stopSql("de")} AS h_de,
              ${stopSql("fr")} AS h_fr, ${stopSql("es")} AS h_es
            FROM documents),
      p AS (SELECT
              CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                   WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                   WHEN h_fr >= h_es THEN 'fr' ELSE 'es' END AS a,
              lang AS b
            FROM h),
      m AS (SELECT a, b, count(*) AS c FROM p GROUP BY 1, 2),
      nd AS (SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
             FROM m),
      sm AS (SELECT CAST(coalesce(sum(ra * cb), 0) AS BIGINT) AS pe_mass
             FROM (SELECT a, sum(c) AS ra FROM m GROUP BY 1) r
             JOIN (SELECT b, sum(c) AS cb FROM m GROUP BY 1) cc
               ON r.a = cc.b)
      SELECT n, n_agree, pe_mass,
        CASE WHEN n * n - pe_mass = 0 THEN 0
             ELSE CAST(floor(CAST(n * n_agree - pe_mass AS DOUBLE)
               / CAST(n * n - pe_mass AS DOUBLE) * 1000000.0) AS BIGINT)
        END AS kappa_micro
      FROM nd, sm
    """))

  /** CALIBRATION audit ([[graft.operators.TextAnalysis
    * .calibrationReport]], ECE per Naeini et al. 2015): treats the
    * q21 English-stopword density as a soft "is English" classifier
    * and scores it against the gold label — per-bin confidence vs
    * accuracy and the mass-weighted expected calibration error, the
    * report a pipeline reads before turning any quality score into a
    * filter threshold. Exact int64 sums; each mean one micro-floored
    * division. DuckDB replays binning, means, gaps, and the ECE fold.
    */
  private lazy val q171 = Q(
    "q171_calibration",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(micro(TextAnalysis.stopwordRatio(col("text"))).as("score_micro"),
          (col("lang") === "en").cast("long").as("label"))
      TextAnalysis.calibrationReport(scored, "score_micro", "label", bins = 10)
        .orderBy("bin")
    },
    Some(s"""
      WITH sc AS (SELECT
              ${microSql(s"CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE CAST(${stopSql("en")} AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) END")} AS score_micro,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
            FROM documents),
      b AS (SELECT least(9, score_micro * 10 // 1000000) AS bin,
              score_micro, label FROM sc),
      g AS (SELECT bin, count(*) AS n,
              CAST(sum(score_micro) AS BIGINT) AS ss,
              CAST(sum(label) AS BIGINT) AS sl
            FROM b GROUP BY 1),
      r AS (SELECT CAST(bin AS BIGINT) AS bin, n,
              CAST(floor(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS conf_micro,
              CAST(floor(CAST(sl AS DOUBLE) * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS acc_micro
            FROM g),
      r2 AS (SELECT *, abs(acc_micro - conf_micro) AS gap_micro FROM r),
      e AS (SELECT CAST(floor(CAST(sum(n * gap_micro) AS DOUBLE)
              / CAST(sum(n) AS DOUBLE)) AS BIGINT) AS ece_micro FROM r2)
      SELECT bin, n, conf_micro, acc_micro, gap_micro, ece_micro
      FROM r2, e ORDER BY bin
    """))

  /** LUHN-VALIDATED card scrubbing ([[graft.expressions.StringExprs
    * .luhnCardCount]]/redactLuhnCards — the checksum-gated upgrade of
    * q24's regex PII pass): maximal digit runs of length 13–19 that
    * pass the ISO/IEC 7812 mod-10 check count as payment cards; a
    * random 16-digit id fails 90% of the time, so validation cuts the
    * false-positive mass an order of magnitude. Planted: a known-valid
    * card on doc_id%10=0, a doc_id-DERIVED 14-digit number on
    * doc_id%10=5 whose validity is data-dependent — DuckDB must
    * implement the checksum itself (nested list lambdas) to agree on
    * which docs carry "cards". Redaction is pinned structurally via
    * the redacted LENGTH (= original − Σ valid-run lengths + 4 per
    * card); the exact strings are spec-pinned.
    */
  private lazy val q172 = {
    val plantedSql =
      """CASE WHEN doc_id % 10 = 0 THEN text || ' card 4532015112830366 ok'
           WHEN doc_id % 10 = 5 THEN text || ' num ' ||
             lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR), 14, '0')
           ELSE text END"""
    val luhnSql =
      """len(x) BETWEEN 13 AND 19 AND
         list_sum(list_transform(range(1, CAST(len(x) + 1 AS BIGINT)), i ->
           CASE WHEN i % 2 = 0 THEN
             CASE WHEN 2 * CAST(substr(x, CAST(len(x) - i + 1 AS INT), 1) AS INT) > 9
                  THEN 2 * CAST(substr(x, CAST(len(x) - i + 1 AS INT), 1) AS INT) - 9
                  ELSE 2 * CAST(substr(x, CAST(len(x) - i + 1 AS INT), 1) AS INT) END
           ELSE CAST(substr(x, CAST(len(x) - i + 1 AS INT), 1) AS INT) END))
           % 10 = 0"""
    Q(
      "q172_luhn_cards",
      (s, dir) => {
        import graft.expressions.StringExprs.{luhnCardCount, redactLuhnCards}
        val planted = when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" card 4532015112830366 ok")))
          .when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" num "),
              lpad(((col("doc_id") * 7919L) % 100000000000000L).cast("string"),
                14, "0")))
          .otherwise(col("text"))
        t(s, dir, "documents")
          .select(col("lang"), luhnCardCount(planted).as("nc"),
            length(redactLuhnCards(planted)).as("rl"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("nc") > 0, 1L).otherwise(0L)).as("n_card_docs"),
            sum(col("nc").cast("long")).as("n_cards"),
            sum(col("rl").cast("long")).as("sum_redacted_len"))
          .orderBy("lang")
      },
      Some(s"""
        WITH p AS (SELECT lang, $plantedSql AS t FROM documents),
        r AS (SELECT lang, t,
                list_filter(regexp_extract_all(t, '[0-9]+'),
                  x -> $luhnSql) AS cards
              FROM p),
        c AS (SELECT lang,
                len(cards) AS nc,
                length(t) - coalesce(list_sum(
                  list_transform(cards, x -> length(x))), 0)
                  + 4 * len(cards) AS rl
              FROM r)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_card_docs,
          CAST(sum(nc) AS BIGINT) AS n_cards,
          CAST(sum(rl) AS BIGINT) AS sum_redacted_len
        FROM c GROUP BY lang ORDER BY lang
      """))
  }

  /** TRAINING-LIST MATERIALIZATION ([[graft.operators.Sampling
    * .materializeMix]]) — the pipeline apex connecting q150 → the run:
    * the waterfill's per-source token allocation becomes actual
    * (source, doc, epoch) rows — ⌊epochs⌋ full passes for every doc,
    * the fractional epoch filled by a deterministic MCG-hash-order
    * prefix of the source (token-cumsum < remainder), so the
    * materialized mass lands within one doc of the allocation and
    * every engine agrees on WHICH docs fill the fraction. The
    * operator's per-source cumsum is the two-phase distributed prefix
    * sum (block totals + within-block windows — no source funnels
    * through one task); DuckDB replays with a plain window cumsum,
    * which the two-phase plan must equal exactly (equivalence also
    * spec-pinned), plus the full q150 waterfill level search.
    */
  private lazy val q173 = Q(
    "q173_mix_materialize",
    (s, dir) => {
      import graft.operators.Sampling
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("tok"))
      val tc = docs.groupBy("source").agg(sum(col("tok")).as("n_tokens"))
        .withColumn("cap_micro",
          lit(1000000L) +
            expr("CAST(substr(source, 4) AS INT) % 5") * lit(500000L))
      val total = tc.agg(sum("n_tokens")).collect()(0).getLong(0)
      val alloc = Sampling.epochWaterfill(
        tc, "source", "n_tokens", "cap_micro", total * 9L / 5L)
      Sampling.materializeMix(docs, "source", "doc_id", "tok", alloc)
        .orderBy("source", "doc_id", "epoch")
    },
    Some(s"""
      WITH tc AS (SELECT source,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
               AS BIGINT) AS n,
             1000000 + (CAST(substr(source, 4) AS INT) % 5) * 500000 AS c
           FROM documents GROUP BY source),
      b AS (SELECT CAST(sum(n) AS BIGINT) * 9 // 5 AS bt FROM tc),
      o AS (SELECT tc.*,
             coalesce(sum(CAST(c AS HUGEINT) * n) OVER (ORDER BY c, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             sum(n) OVER (ORDER BY c, source
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rem,
             coalesce(lag(c) OVER (ORDER BY c, source), 0) AS lo
           FROM tc),
      cand AS (SELECT o.*,
               CAST((CAST(b.bt AS HUGEINT) * 1000000 - cb) // rem AS BIGINT) AS t
             FROM o, b),
      lvl AS (SELECT coalesce(min(CASE WHEN lo <= t AND t < c THEN t END),
               max(c)) AS lv FROM cand),
      al AS (SELECT tc.source, tc.n AS src_tok,
               least(tc.c, lvl.lv) // 1000000 AS f,
               CAST(CAST(tc.n AS HUGEINT) * least(tc.c, lvl.lv) // 1000000
                 AS BIGINT) AS alloc
             FROM tc, lvl),
      dk AS (SELECT source, doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok,
               (doc_id % 1000000007) * 2654435761 % 1000000007
                 * 40692 % 1000000007 AS k
             FROM documents),
      j AS (SELECT dk.*, al.f, al.alloc - al.f * al.src_tok AS rem
            FROM dk JOIN al USING (source)),
      cm AS (SELECT *, coalesce(sum(tok) OVER (PARTITION BY source
               ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             FROM j),
      e AS (SELECT source, doc_id,
              f + CASE WHEN cum < rem THEN 1 ELSE 0 END AS ep
            FROM cm)
      SELECT source, doc_id, CAST(unnest(range(1, ep + 1)) AS BIGINT) AS epoch
      FROM e WHERE ep > 0
      ORDER BY source, doc_id, epoch
    """))

  /** MEDIA CONTENT-TYPE SNIFFING ([[graft.operators.Multimodal
    * .sniffType]], magic bytes — the trust-nothing intake check before
    * any decoder sees a blob: extensions and upstream content-type
    * headers lie): blobs derived from the documents text with a
    * format SIGNATURE planted by doc_id class (JPEG/PNG/GIF/RIFF-WAVE/
    * MP4-ftyp/PDF, one class unprefixed), sniffed back by the binary
    * prefix checks. The planting IS the ground truth — the oracle
    * predicts each doc's class from doc_id arithmetic, so any wrong
    * signature, offset, or precedence order misclassifies some class
    * wholesale and hash-mismatches. Narrow scan-stage projection.
    */
  private lazy val q174 = Q(
    "q174_media_sniff",
    (s, dir) => {
      import graft.operators.Multimodal
      def sig(x: String) =
        lit(x.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val payload = encode(col("text"), "UTF-8")
      val planted =
        when(col("doc_id") % 7 === 0,
          concat(lit(Array(0xFF, 0xD8, 0xFF).map(_.toByte)), payload))
        .when(col("doc_id") % 7 === 1,
          concat(lit(Array[Byte](0x89.toByte) ++ "PNG".getBytes ++
            Array(0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)), payload))
        .when(col("doc_id") % 7 === 2, concat(sig("GIF89a"), payload))
        .when(col("doc_id") % 7 === 3,
          concat(sig("RIFF"), lit(Array[Byte](0, 0, 0, 0)), sig("WAVE"),
            payload))
        .when(col("doc_id") % 7 === 4,
          concat(lit(Array[Byte](0, 0, 0, 0x18)), sig("ftypisom"), payload))
        .when(col("doc_id") % 7 === 5, concat(sig("%PDF-1.7 "), payload))
        .otherwise(payload)
      t(s, dir, "documents")
        .select(col("doc_id"), Multimodal.sniffType(planted).as("kind"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("kind")
    },
    Some("""
      WITH k AS (SELECT doc_id,
              CASE doc_id % 7 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                   WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4'
                   WHEN 5 THEN 'pdf' ELSE 'unknown' END AS kind
            FROM documents)
      SELECT kind, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM k GROUP BY kind ORDER BY kind
    """))

  /** ε-DP COUNT RELEASE ([[graft.operators.Privacy.dpCountRelease]],
    * discrete Laplace — Ghosh et al. 2012): the third privacy rung
    * after q165 k-anonymity and q166 l-diversity — exact histogram
    * counts leak membership under a differencing attack even when
    * every class passes k, so each released (lang, source) cell gets
    * two-sided-geometric integer noise at ε = 0.2. Noise is the
    * difference of two geometric legs G = ⌊ln(u)/ln(α)⌋, each leg its
    * OWN MCG chain over a distinct input (2·rank / 2·rank+1, plus the
    * release seed — the gate runs the default public seed:
    * reproducible-release posture; a fresh draw per retry would spend
    * ε per run, a secret seed is what makes it DP); ln micro-quantized
    * before the one exact-long IEEE divide (the q161 spelling), so
    * DuckDB replays count, rank, both legs, and the zero clamp
    * bit-for-bit — a wrong constant, leg order, or clamp boundary
    * hash-mismatches.
    */
  private lazy val q176 = Q(
    "q176_dp_release",
    (s, dir) => {
      import graft.operators.Privacy
      Privacy.dpCountRelease(t(s, dir, "documents"),
          Seq("lang", "source"), epsilonMicro = 200000L)
        .orderBy("lang", "source")
    },
    Some("""
      WITH c AS (SELECT lang, source, count(*) AS n
                 FROM documents GROUP BY lang, source),
      r AS (SELECT *, row_number() OVER (ORDER BY lang, source) AS rk
            FROM c),
      m AS (SELECT lang, source, n,
              ((rk * 2) % 1000000007) * 2654435761 % 1000000007 AS ma,
              ((rk * 2 + 1) % 1000000007) * 2654435761 % 1000000007 AS mb
            FROM r),
      g AS (SELECT lang, source, n,
              CAST(floor(CAST(CAST(floor(ln(
                CAST(ma * 40014 % 1000000007 + 1 AS DOUBLE) / 1000000008.0)
                * 1000000.0) AS BIGINT) AS DOUBLE) / -200000.0) AS BIGINT) AS g1,
              CAST(floor(CAST(CAST(floor(ln(
                CAST(mb * 45991 % 1000000007 + 1 AS DOUBLE) / 1000000008.0)
                * 1000000.0) AS BIGINT) AS DOUBLE) / -200000.0) AS BIGINT) AS g2
            FROM m)
      SELECT lang, source, greatest(n + g1 - g2, 0) AS noisy_n
      FROM g ORDER BY lang, source
    """))

  /** HARD-NEGATIVE MINING ([[graft.operators.Similarity
    * .hardNegatives]], DPR/ANCE): per probe, the top-k most-similar
    * OTHER-label vectors — the near-misses a contrastive loss needs
    * (random negatives are trivially separable). Same-label and self
    * candidates excluded before ranking so all k slots are true
    * negatives; cosine folds in index order (bit-identical doubles),
    * ties by cand_id. DuckDB replays the label-filtered cross join,
    * the fold-order dot products, and the per-probe top-k.
    */
  private lazy val q177 = Q(
    "q177_hard_negatives",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label"))
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 6), k = 8)
        .select(col("probe_id"), col("probe_label"), col("cand_id"),
          col("cand_label"), col("rnk"), micro(col("cosine")).as("cos_micro"))
        .orderBy("probe_id", "rnk")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      pr AS (SELECT p.vec_id AS probe_id, p.label AS probe_label,
               c.vec_id AS cand_id, c.label AS cand_label,
               ${dotSql("c.v", "p.v")} / (sqrt(${dotSql("c.v", "c.v")})
                 * sqrt(${dotSql("p.v", "p.v")})) AS cosine
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 6) p
             WHERE c.vec_id <> p.vec_id AND c.label <> p.label),
      rk AS (SELECT probe_id, probe_label, cand_id, cand_label, cosine,
               row_number() OVER (PARTITION BY probe_id
                 ORDER BY cosine DESC, cand_id) AS rnk
             FROM pr)
      SELECT probe_id, probe_label, cand_id, cand_label, rnk,
        ${microSql("cosine")} AS cos_micro
      FROM rk WHERE rnk <= 8 ORDER BY probe_id, rnk
    """))

  /** BIGRAM-LM PERPLEXITY scoring ([[graft.operators.TextAnalysis
    * .bigramLmNll]], CCNet — Wenzek et al. 2020): mean NLL of every
    * doc under an add-one bigram LM trained on the curated reference
    * slice (q71's id gate) — the log-prob upgrade of q71's familiar
    * fraction; high mean NLL = off-domain/garbled text the surface
    * rules pass. Model pruned to top-500 bigrams (total-order cutoff
    * — the ref slice holds ~900 distinct bigrams at every SF, so the
    * cap BINDS and the pruned-backoff branch is exercised); each probability one IEEE divide of exact longs, ln
    * micro-floored per bigram before the order-free int64 sum. DuckDB
    * retrains the model and replays every score.
    */
  private lazy val q180 = Q(
    "q180_bigram_ppl",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      TextAnalysis.bigramLmNll(docs, docs.filter(col("doc_id") % 10 < 3),
          maxBigrams = 500)
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0),
      ru AS (SELECT unnest(w) AS a FROM toks WHERE doc_id % 10 < 3),
      refu AS (SELECT a, count(*) AS ca FROM ru GROUP BY a),
      vv AS (SELECT count(*) + 1 AS v FROM refu),
      rb AS (SELECT unnest(list_transform(range(1, CAST(len(w) AS INT)),
               i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks WHERE doc_id % 10 < 3),
      refb AS (SELECT ng, count(*) AS cab FROM rb GROUP BY ng
               ORDER BY cab DESC, ng LIMIT 500),
      dg AS (SELECT doc_id,
              unnest(list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks),
      p AS (SELECT d.doc_id,
              CAST(floor(ln(
                CAST(coalesce(refb.cab, 0) + 1 AS DOUBLE) /
                CAST(coalesce(refu.ca, 0) + vv.v AS DOUBLE)) * 1000000.0)
                AS BIGINT) AS lp
            FROM dg d
            LEFT JOIN refb ON refb.ng = d.ng
            LEFT JOIN refu ON refu.a = string_split(d.ng, ' ')[1]
            CROSS JOIN vv)
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(-sum(lp) AS BIGINT) AS nll_sum_micro,
        CAST((-sum(lp)) // count(*) AS BIGINT) AS nll_mean_micro
      FROM p GROUP BY doc_id ORDER BY doc_id
    """))

  /** INCREMENTAL COMPONENT MAINTENANCE ([[graft.operators.Dedup
    * .mergeComponents]]): fold a new batch of near-dup pairs into the
    * STANDING label table — the closing step of the incremental dedup
    * loop (q74/q76 keep the index current; this keeps the clusters
    * current) without re-running CC over the accumulated pair log.
    * The gate plants consecutive-id chains inside blocks of 8, split
    * into an even-edge batch (labeled first) and an odd-edge batch
    * (merged in) — every merge must BRIDGE two standing components,
    * so the star-edge fold is exercised, not just label carryover.
    * The closure is arithmetically predictable (comp = 8·⌊id/8⌋), so
    * DuckDB states the answer without any graph traversal — an
    * independent spelling, not a replay.
    */
  private lazy val q182 = Q(
    "q182_incremental_cc",
    (s, dir) => {
      import graft.operators.Dedup
      val d = t(s, dir, "documents").select(col("doc_id"))
      val edges = d
        .filter(pmod(col("doc_id"), lit(8)) < 7)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      val state = Dedup.connectedComponents(
        edges.filter(pmod(col("id_a"), lit(2)) === 0))
      Dedup.mergeComponents(state,
          edges.filter(pmod(col("id_a"), lit(2)) === 1))
        .orderBy("id")
    },
    Some("""
      WITH e AS (SELECT a.doc_id AS ida, b.doc_id AS idb
                 FROM documents a JOIN documents b
                   ON b.doc_id = a.doc_id + 1 AND a.doc_id % 8 < 7),
      n AS (SELECT ida AS id FROM e UNION SELECT idb FROM e)
      SELECT id, (id // 8) * 8 AS comp FROM n ORDER BY id
    """))

  /** MMR DIVERSITY RERANKING ([[graft.operators.Similarity.mmrRerank]],
    * Carbonell-Goldstein 1998): the pass between retrieval and RAG
    * context assembly — a plain top-k returns k paraphrases of the
    * best hit; MMR greedily picks argmax λ·rel − (1−λ)·max-sim-to-
    * selected, so each slot is relevant AND far from what's chosen.
    * k = 3 over a top-8 brute pool at λ = 0.7; scores exact int64,
    * penalties micro-floored fold-order cosines, cand_id ties. DuckDB
    * replays the greedy loop UNROLLED (the q136 PageRank posture):
    * per round an anti-join against the selected set, the max-penalty
    * aggregate, and the argmax pick — a wrong penalty set, score
    * weighting, or tiebreak reorders some probe's picks and
    * hash-mismatches.
    */
  private lazy val q183 = Q(
    "q183_mmr_rerank",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val pool = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 8)
        .select(col("probe_id"), col("cand_id"),
          micro(col("cosine")).as("rel_micro"))
        .join(e.select(col("vec_id").as("cand_id"),
          col("embedding").as("cv")), Seq("cand_id"))
      Similarity.mmrRerank(pool, k = 3, lambdaMicro = 700000L)
        .orderBy("probe_id", "rnk")
    },
    Some {
      def cosSql(a: String, b: String) =
        s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      def round(i: Int) = s"""
        r$i AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
                SELECT 1 FROM sel${i - 1} s
                WHERE s.probe_id = c.probe_id AND s.cand_id = c.cand_id)),
        pen$i AS (SELECT r.probe_id, r.cand_id,
                max(CAST(floor(${cosSql("r.cv", "s.cv")} * 1000000.0)
                  AS BIGINT)) AS pen
              FROM r$i r JOIN sel${i - 1} s ON s.probe_id = r.probe_id
              GROUP BY 1, 2),
        p$i AS (SELECT r.*, row_number() OVER (PARTITION BY r.probe_id
                ORDER BY r.rel_micro * 700000 - 300000 * pen.pen DESC,
                  r.cand_id) AS pr
              FROM r$i r JOIN pen$i pen
                ON pen.probe_id = r.probe_id AND pen.cand_id = r.cand_id),
        s$i AS (SELECT probe_id, cand_id, rel_micro, cv FROM p$i WHERE pr = 1),
        sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
      s"""
      WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      bp AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               ${cosSql("c.v", "p.v")} AS cosine, c.v AS cv
             FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) p
             WHERE c.vec_id <> p.vec_id),
      rk AS (SELECT *, row_number() OVER (PARTITION BY probe_id
               ORDER BY cosine DESC, cand_id) AS rnk FROM bp),
      cand AS (SELECT probe_id, cand_id,
                 CAST(floor(cosine * 1000000.0) AS BIGINT) AS rel_micro, cv
               FROM rk WHERE rnk <= 8),
      p1 AS (SELECT *, row_number() OVER (PARTITION BY probe_id
               ORDER BY rel_micro * 700000 DESC, cand_id) AS pr FROM cand),
      s1 AS (SELECT probe_id, cand_id, rel_micro, cv FROM p1 WHERE pr = 1),
      sel1 AS (SELECT * FROM s1),
      ${round(2)},
      ${round(3)}
      SELECT probe_id, cand_id, CAST(1 AS INT) AS rnk, rel_micro FROM s1
      UNION ALL
      SELECT probe_id, cand_id, CAST(2 AS INT), rel_micro FROM s2
      UNION ALL
      SELECT probe_id, cand_id, CAST(3 AS INT), rel_micro FROM s3
      ORDER BY probe_id, rnk
    """
    })

  /** RETRIEVAL RANKING EVALUATION ([[graft.operators.RankEval
    * .rankingMetrics]] — the TREC/BEIR/MTEB nDCG@k / recall@k / MRR
    * battery, the measurement side of the q41/q42/q45/q48 retrieval
    * family): ranked lists and graded judgments derived
    * arithmetically from the embeddings table (some judged docs
    * deliberately NEVER retrieved — recall and IDCG must see them);
    * per-rank discount is a micro-floored constant ⌊10⁶·ln2/ln(i+1)⌋
    * spelled identically in both engines, so DCG/IDCG are exact int64
    * sums and nDCG/recall/MRR single exact integer divisions. DuckDB
    * replays dedup-max judgments, the ideal reranking window, the
    * cutoff, and every division.
    */
  private lazy val q186 = Q(
    "q186_rank_eval",
    (s, dir) => {
      import graft.operators.RankEval
      val e = t(s, dir, "embeddings")
      val ranked = e
        .selectExpr("vec_id % 20 AS probe_id", "vec_id AS cand_id")
        .selectExpr("probe_id", "cand_id",
          "CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cand_id) AS INT) AS rnk")
      val qrels = e.filter(col("vec_id") % 3 === 0)
        .selectExpr("vec_id % 20 AS probe_id",
          "CASE WHEN vec_id % 11 = 0 THEN vec_id + 1000000 ELSE vec_id END AS cand_id",
          "CAST((vec_id * 7) % 4 AS INT) AS rel")
      RankEval.rankingMetrics(ranked, qrels, k = 10)
        .orderBy("probe_id")
    },
    Some("""
      WITH e AS (SELECT vec_id FROM embeddings),
      rk AS (SELECT vec_id % 20 AS probe_id, vec_id AS cand_id,
               row_number() OVER (PARTITION BY vec_id % 20
                                  ORDER BY vec_id) AS rnk
             FROM e),
      qr AS (SELECT vec_id % 20 AS probe_id,
               CASE WHEN vec_id % 11 = 0 THEN vec_id + 1000000
                    ELSE vec_id END AS cand_id,
               CAST((vec_id * 7) % 4 AS INT) AS rel
             FROM e WHERE vec_id % 3 = 0),
      gold AS (SELECT probe_id, cand_id, CAST(max(rel) AS BIGINT) AS rel
               FROM qr GROUP BY 1, 2),
      topk AS (SELECT probe_id, cand_id, CAST(rnk AS BIGINT) AS rnk
               FROM rk WHERE rnk <= 10),
      sc AS (SELECT t.probe_id,
               count(*) AS n_ranked,
               CAST(sum(CASE WHEN coalesce(g.rel, 0) > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS hits,
               min(CASE WHEN coalesce(g.rel, 0) > 0 THEN t.rnk END) AS fh,
               CAST(sum((CAST(power(2, coalesce(g.rel, 0)) AS BIGINT) - 1)
                 * CAST(floor(1000000.0 * ln(2) / ln(t.rnk + 1)) AS BIGINT))
                 AS BIGINT) AS dcg
             FROM topk t LEFT JOIN gold g USING (probe_id, cand_id)
             GROUP BY 1),
      idl AS (SELECT probe_id, count(*) AS n_gold,
               CAST(sum(CASE WHEN irnk <= 10 THEN
                 (CAST(power(2, rel) AS BIGINT) - 1)
                 * CAST(floor(1000000.0 * ln(2) / ln(irnk + 1)) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS idcg
              FROM (SELECT probe_id, rel, cand_id,
                      row_number() OVER (PARTITION BY probe_id
                        ORDER BY rel DESC, cand_id ASC) AS irnk
                    FROM gold WHERE rel > 0) g2
              GROUP BY 1)
      SELECT probe_id,
        coalesce(n_ranked, 0) AS n_ranked,
        coalesce(n_gold, 0) AS n_gold,
        coalesce(hits, 0) AS hits,
        coalesce(hits, 0) * 1000000 // greatest(coalesce(n_gold, 0), 1)
          AS recall_micro,
        coalesce(1000000 // fh, 0) AS mrr_micro,
        coalesce(dcg, 0) AS dcg_micro,
        coalesce(idcg, 0) AS idcg_micro,
        coalesce(dcg, 0) * 1000000 // greatest(coalesce(idcg, 0), 1)
          AS ndcg_micro
      FROM sc FULL JOIN idl USING (probe_id)
      ORDER BY probe_id
    """))

  /** CORPUS DRIFT — Jensen-Shannon divergence between two snapshots'
    * token distributions ([[graft.operators.Drift.vocabularyDrift]],
    * Lin 1991 — the distribution-shift alarm a standing pipeline runs
    * between crawls): src0 vs src1 of the documents table as the two
    * "snapshots"; every log ratio is a ratio of exact int64 products
    * (2·c₁·T₂ / (c₁·T₂+c₂·T₁)) micro-floored once per (token, side),
    * count-weighted exact sums, two exact signed FLOOR divisions
    * (pmod-adjusted in both engines — DuckDB's `//` truncates like
    * Spark's DIV). DuckDB replays counts, the full-outer vocabulary
    * join, every per-token floor, and the vocab overlap stats.
    */
  private lazy val q187 = Q(
    "q187_vocab_drift",
    (s, dir) => {
      import graft.operators.Drift
      val d = t(s, dir, "documents")
      def toks(src: String) = d
        .filter(col("source") === src && length(trim(col("text"))) > 0)
        .select(explode(wsTokens(col("text"))).as("token"))
      Drift.vocabularyDrift(toks("src0"), toks("src1"))
    },
    Some("""
      WITH ta AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
             FROM documents WHERE source = 'src0' AND length(trim(text)) > 0),
      tb AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
             FROM documents WHERE source = 'src1' AND length(trim(text)) > 0),
      ca AS (SELECT token, CAST(count(*) AS BIGINT) AS c1 FROM ta GROUP BY 1),
      cb AS (SELECT token, CAST(count(*) AS BIGINT) AS c2 FROM tb GROUP BY 1),
      j AS (SELECT token, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
            FROM ca FULL JOIN cb USING (token)),
      tt AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
               CAST(sum(c2) AS BIGINT) AS t2 FROM j),
      ag AS (SELECT
               max(tt.t1) AS n_tokens_a, max(tt.t2) AS n_tokens_b,
               CAST(sum(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
               CAST(sum(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
               CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS vocab_shared,
               CAST(sum(CASE WHEN c1 > 0 THEN c1 * CAST(floor(ln(
                 CAST(2 * c1 * tt.t2 AS DOUBLE)
                   / CAST(c1 * tt.t2 + c2 * tt.t1 AS DOUBLE)) * 1000000.0)
                 AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN c2 > 0 THEN c2 * CAST(floor(ln(
                 CAST(2 * c2 * tt.t1 AS DOUBLE)
                   / CAST(c1 * tt.t2 + c2 * tt.t1 AS DOUBLE)) * 1000000.0)
                 AS BIGINT) ELSE 0 END) AS BIGINT) AS s2
             FROM j, tt)
      SELECT n_tokens_a, n_tokens_b, vocab_a, vocab_b, vocab_shared,
        (s1 - ((s1 % greatest(2 * n_tokens_a, 1) + greatest(2 * n_tokens_a, 1))
            % greatest(2 * n_tokens_a, 1))) // greatest(2 * n_tokens_a, 1)
        + (s2 - ((s2 % greatest(2 * n_tokens_b, 1) + greatest(2 * n_tokens_b, 1))
            % greatest(2 * n_tokens_b, 1))) // greatest(2 * n_tokens_b, 1)
          AS jsd_micro
      FROM ag
    """))

  /** DSIR DATA SELECTION ([[graft.operators.TextAnalysis.dsirSelect]],
    * Xie et al. 2023 NeurIPS): choose raw docs that look like a TARGET
    * domain under two add-one bigram LMs (q180's machinery, trained on
    * disjoint source slices) — importance log w = Σ(lp_target − lp_raw)
    * exact int64 per doc, Gumbel-top-n with a DETERMINISTIC
    * −ln(−ln(u)) draw from an MCG chain over the doc id (the q176
    * posture). DuckDB retrains BOTH models, rescoring every bigram,
    * replays the gumbel chain and the top-n cutoff.
    */
  private lazy val q189 = Q(
    "q189_dsir_select",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      TextAnalysis.dsirSelect(docs,
          docs.filter(col("doc_id") % 10 < 3),
          docs.filter(col("doc_id") % 10 >= 7),
          n = 50, maxBigrams = 500)
        .orderBy(col("key_micro").desc, col("doc_id"))
    },
    Some("""
      WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0),
      rut AS (SELECT unnest(w) AS a FROM toks WHERE doc_id % 10 < 3),
      refut AS (SELECT a, count(*) AS ca FROM rut GROUP BY a),
      vvt AS (SELECT count(*) + 1 AS v FROM refut),
      rbt AS (SELECT unnest(list_transform(range(1, CAST(len(w) AS INT)),
               i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks WHERE doc_id % 10 < 3),
      refbt AS (SELECT ng, count(*) AS cab FROM rbt GROUP BY ng
                ORDER BY cab DESC, ng LIMIT 500),
      rur AS (SELECT unnest(w) AS a FROM toks WHERE doc_id % 10 >= 7),
      refur AS (SELECT a, count(*) AS ca FROM rur GROUP BY a),
      vvr AS (SELECT count(*) + 1 AS v FROM refur),
      rbr AS (SELECT unnest(list_transform(range(1, CAST(len(w) AS INT)),
               i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks WHERE doc_id % 10 >= 7),
      refbr AS (SELECT ng, count(*) AS cab FROM rbr GROUP BY ng
                ORDER BY cab DESC, ng LIMIT 500),
      dg AS (SELECT doc_id,
              unnest(list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks),
      p AS (SELECT d.doc_id,
              CAST(floor(ln(
                CAST(coalesce(bt.cab, 0) + 1 AS DOUBLE) /
                CAST(coalesce(ut.ca, 0) + vvt.v AS DOUBLE)) * 1000000.0)
                AS BIGINT)
              - CAST(floor(ln(
                CAST(coalesce(br.cab, 0) + 1 AS DOUBLE) /
                CAST(coalesce(ur.ca, 0) + vvr.v AS DOUBLE)) * 1000000.0)
                AS BIGINT) AS d
            FROM dg d
            LEFT JOIN refbt bt ON bt.ng = d.ng
            LEFT JOIN refut ut ON ut.a = string_split(d.ng, ' ')[1]
            LEFT JOIN refbr br ON br.ng = d.ng
            LEFT JOIN refur ur ON ur.a = string_split(d.ng, ' ')[1]
            CROSS JOIN vvt CROSS JOIN vvr),
      w AS (SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(d) AS BIGINT) AS logw FROM p GROUP BY 1),
      gm AS (SELECT *,
              CAST(floor(-ln(-ln(
                CAST((doc_id % 1000000007) * 2654435761 % 1000000007
                  * 69069 % 1000000007 + 1 AS DOUBLE) / 1000000008.0))
                * 1000000.0) AS BIGINT) AS g
             FROM w)
      SELECT doc_id, n_bigrams, logw AS logw_micro, g AS gumbel_micro,
        logw + g AS key_micro
      FROM gm ORDER BY key_micro DESC, doc_id LIMIT 50
    """))

  /** BPE TOKENIZER TRAINING ([[graft.operators.TextAnalysis
    * .bpeTrainMerges]], Sennrich et al. 2016 — the full merge loop
    * closing the tokenizer family: q140 mines the first merge's
    * statistic, q142 APPLIES a trained list, this TRAINS one): corpus
    * → word histogram in ONE pass (capped top-2000 by frequency),
    * then 6 merge rounds over the bounded symbol table —
    * frequency-weighted adjacent-pair counts, (count desc, pair asc)
    * argmax, non-overlapping left-to-right rewrite, `</w>` end
    * markers. DuckDB replays the whole walk UNROLLED (the q183
    * posture): per round the pair explode, the weighted count, the
    * argmax, and the rewrite — a wrong tie-break, weight, or rewrite
    * order changes some round's merge and hash-mismatches.
    */
  private lazy val q190 = {
    def round(i: Int) = s"""
      pr$i AS (SELECT unnest(list_transform(range(1, CAST(len(sy) AS INT)),
                 j -> sy[CAST(j AS INT)] || ' ' || sy[CAST(j AS INT) + 1]))
                 AS pair, cnt
               FROM (SELECT string_split(trim(syms), ' ') AS sy, cnt
                     FROM w${i - 1})),
      t$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM pr$i
              GROUP BY 1 ORDER BY c DESC, pair LIMIT 1),
      w$i AS (SELECT word, cnt,
                replace(syms, ' ' || t$i.pair || ' ',
                  ' ' || replace(t$i.pair, ' ', '') || ' ') AS syms
              FROM w${i - 1}, t$i)"""
    Q(
      "q190_bpe_train",
      (s, dir) => {
        import graft.operators.TextAnalysis
        val docs = t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
        TextAnalysis.bpeTrainMerges(docs, nMerges = 6, maxWords = 2000)
          .orderBy("rank")
      },
      Some(s"""
        WITH toks AS (SELECT unnest(string_split_regex(trim(lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))), '\\s+')) AS w
               FROM documents WHERE length(trim(text)) > 0),
        wc AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY 1
               ORDER BY cnt DESC, word LIMIT 2000),
        w0 AS (SELECT word, cnt,
                 ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> '
                   AS syms
               FROM wc),
        ${(1 to 6).map(round).mkString(",")}
        ${(1 to 6).map(i =>
          s"""SELECT $i AS rank, string_split(pair, ' ')[1] AS lhs,
               string_split(pair, ' ')[2] AS rhs,
               replace(pair, ' ', '') AS merged, c AS pair_count
             FROM t$i""").mkString("\n        UNION ALL\n        ")}
        ORDER BY rank
      """))
  }

  /** BRADLEY-TERRY preference aggregation ([[graft.operators.RankEval
    * .bradleyTerryMicro]], Bradley-Terry 1952 / Hunter 2004 MM — the
    * Chatbot-Arena leaderboard step and the aggregation RLHF
    * preference pipelines run over (winner, loser) labels): pairwise
    * outcomes derived arithmetically from the events table (7 items,
    * skewed win rates), 3 MM rounds in integer fixed-point with
    * per-round mean-10⁶ renormalization. DuckDB replays the rounds
    * UNROLLED (the q136 posture) in HUGEINT — the exact twin of the
    * operator's decimal(38,0) divisions.
    */
  private lazy val q193 = {
    def round(i: Int) = s"""
      d$i AS (SELECT e.a,
               CAST(sum(e.n * (1000000000000 // greatest(pa.p + pb.p, 1)))
                 AS BIGINT) AS s
             FROM e JOIN p${i - 1} pa ON pa.item = e.a
                    JOIN p${i - 1} pb ON pb.item = e.b
             GROUP BY 1),
      q$i AS (SELECT w.item,
               CASE WHEN w.wins = 0 OR d.s <= 0 THEN 0
                    ELSE CAST(CAST(w.wins AS HUGEINT) * 1000000000000 // d.s
                      AS BIGINT) END AS p1
             FROM wins w JOIN d$i d ON d.a = w.item),
      t$i AS (SELECT CAST(sum(p1) AS HUGEINT) AS tp, count(*) AS k
              FROM q$i),
      p$i AS (SELECT item,
               CASE WHEN t$i.tp <= 0 THEN 0
                    ELSE CAST(CAST(p1 AS HUGEINT) * (k * 1000000) // tp
                      AS BIGINT) END AS p
             FROM q$i, t$i)"""
    Q(
      "q193_bradley_terry",
      (s, dir) => {
        import graft.operators.RankEval
        val cmp = t(s, dir, "events")
          .selectExpr(
            "concat('m', CAST(user_id % 7 AS STRING)) AS winner",
            "concat('m', CAST((user_id DIV 11) % 7 AS STRING)) AS loser")
          .filter(col("winner") =!= col("loser"))
        RankEval.bradleyTerryMicro(cmp, "winner", "loser", iters = 3)
          .orderBy("item")
      },
      Some(s"""
        WITH c AS (SELECT 'm' || CAST(user_id % 7 AS VARCHAR) AS w,
                 'm' || CAST((user_id // 11) % 7 AS VARCHAR) AS l
               FROM events
               WHERE user_id % 7 <> (user_id // 11) % 7),
        wd AS (SELECT w AS a, l AS b, CAST(count(*) AS BIGINT) AS wn
               FROM c GROUP BY 1, 2),
        e AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS n
              FROM (SELECT a, b, wn AS n FROM wd
                    UNION ALL SELECT b, a, wn FROM wd) u
              GROUP BY 1, 2),
        items AS (SELECT DISTINCT a AS item FROM e),
        wins AS (SELECT i.item, coalesce(x.wn, 0) AS wins
                 FROM items i LEFT JOIN
                   (SELECT a AS item, CAST(sum(wn) AS BIGINT) AS wn
                    FROM wd GROUP BY 1) x USING (item)),
        nc AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS n_comparisons
               FROM e GROUP BY 1),
        p0 AS (SELECT item, CAST(1000000 AS BIGINT) AS p FROM items),
        ${(1 to 3).map(round).mkString(",")}
        SELECT w.item, w.wins, nc.n_comparisons, p3.p AS score_micro
        FROM wins w JOIN nc USING (item) JOIN p3 USING (item)
        ORDER BY item
      """))
  }

  /** CAUSAL-LM SEQUENCE PACKING ([[graft.operators.Packing
    * .packSequences]], the GPT-2/3 "concatenate and chunk" collator —
    * Brown et al. 2020 §2.3): the corpus token stream in seed-7
    * deterministic shuffle order cut every 256 tokens, emitted as the
    * sequence-assembly index (seq_id, doc, doc_off, seq_off, len) a
    * training reader joins back to the token store. Docs span cuts, so
    * the gate observably exercises boundary-straddling slices; the
    * engine's TWO-PHASE distributed prefix sum (block totals + bounded
    * windows — no global single-task sort) must equal DuckDB's plain
    * global window cumsum EXACTLY, which is the whole point: the
    * scalable spelling is hash-order-deterministic, so the oracle can
    * state its output with one window. Zero-token docs excluded on
    * both sides.
    */
  private lazy val q194 = Q(
    "q194_sequence_pack",
    (s, dir) => {
      import graft.operators.Packing
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packSequences(docs, "doc_id", "n_tok", 256L, seed = 7L)
        .orderBy("seq_id", "doc_id")
    },
    Some(s"""
      WITH d AS (SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
               AS BIGINT) AS n,
             (doc_id % 1000000007) * 2654435761 % 1000000007
               * ${graft.operators.Packing.seedMultiplier(7L)}
               % 1000000007 AS k
           FROM documents),
      o AS (SELECT doc_id, n,
             CAST(coalesce(sum(n) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
           FROM d WHERE n > 0),
      e AS (SELECT doc_id, n, off,
             CAST(unnest(generate_series(off // 256, (off + n - 1) // 256))
               AS BIGINT) AS seq_id
           FROM o)
      SELECT seq_id, doc_id,
        CAST(greatest(0, seq_id * 256 - off) AS BIGINT) AS doc_off,
        CAST(greatest(0, off - seq_id * 256) AS BIGINT) AS seq_off,
        CAST(least((seq_id + 1) * 256, off + n)
          - greatest(seq_id * 256, off) AS BIGINT) AS len
      FROM e ORDER BY seq_id, doc_id
    """))

  /** Gopher REPETITION SCREENS ([[graft.operators.TextAnalysis
    * .repetitionScreens]], Rae et al. 2021 Appendix A — the
    * repetitious-text battery q120's single top-word rule does not
    * carry): duplicate-line occurrence and char fractions, max
    * char-coverage 2-/3-grams, and position-coverage by duplicated
    * 8-grams (overlaps counted once per position — the one screen
    * needing the (id, gram) → (id, position) join chain). DuckDB
    * replays lines, 1-based list-slice n-grams, the coverage DISTINCT,
    * and every micro-floored division; zero-line/zero-token docs pin
    * zeros through the coalesce path.
    */
  private lazy val q195 = Q(
    "q195_repetition",
    (s, dir) =>
      TextAnalysis.repetitionScreens(
        // r17: documents.parquet is ONE small file → one scan split,
        // and all three explode+agg passes of the screen ran as
        // 1-TASK stages (3 × 6.6 exec-s serialized at any core
        // count); spread the docs once so the passes parallelize
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text")
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id,
             CASE WHEN length(trim(text)) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS w,
             text
           FROM documents),
      ln AS (SELECT doc_id, trim(l) AS l FROM
               (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                FROM documents)
             WHERE length(trim(l)) > 0),
      lc AS (SELECT doc_id, l, count(*) AS c FROM ln GROUP BY 1, 2),
      la AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
               CAST(sum(c - 1) AS BIGINT) AS dupl,
               CAST(sum((c - 1) * length(l)) AS BIGINT) AS duplch,
               CAST(sum(c * length(l)) AS BIGINT) AS totlch
             FROM lc GROUP BY 1),
      p AS (SELECT doc_id, w, CAST(unnest(range(1, len(w) + 1)) AS BIGINT) AS i
            FROM t),
      tk AS (SELECT doc_id, i, w[i] AS tok FROM p),
      tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(length(tok)) AS BIGINT) AS totch
             FROM tk GROUP BY 1),
      g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
             FROM p WHERE i + 1 <= len(w)),
      t2 AS (SELECT doc_id, CAST(max(c * (length(g) - 1)) AS BIGINT) AS top2
             FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
             GROUP BY 1),
      g3 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
             FROM p WHERE i + 2 <= len(w)),
      t3 AS (SELECT doc_id, CAST(max(c * (length(g) - 2)) AS BIGINT) AS top3
             FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
             GROUP BY 1),
      g8 AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS g
             FROM p WHERE i + 7 <= len(w)),
      d8 AS (SELECT doc_id, g FROM
               (SELECT doc_id, g, count(*) AS c FROM g8 GROUP BY 1, 2)
             WHERE c >= 2),
      cov AS (SELECT DISTINCT doc_id, cp FROM
                (SELECT g8.doc_id, g8.i + unnest(range(0, 8)) AS cp
                 FROM g8 JOIN d8 USING (doc_id, g))),
      dc AS (SELECT tk.doc_id, CAST(sum(length(tk.tok)) AS BIGINT) AS dupch
             FROM tk JOIN cov ON tk.doc_id = cov.doc_id AND tk.i = cov.cp
             GROUP BY 1)
      SELECT d.doc_id,
        coalesce(la.n_lines, 0) AS n_lines,
        coalesce(tt.n_tokens, 0) AS n_tokens,
        CASE WHEN coalesce(la.n_lines, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(coalesce(la.dupl, 0) AS DOUBLE)
               / la.n_lines * 1000000.0) AS BIGINT) END AS dup_line_micro,
        CASE WHEN coalesce(la.totlch, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(coalesce(la.duplch, 0) AS DOUBLE)
               / la.totlch * 1000000.0) AS BIGINT) END
          AS dup_line_char_micro,
        CASE WHEN coalesce(tt.totch, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(coalesce(t2.top2, 0) AS DOUBLE)
               / tt.totch * 1000000.0) AS BIGINT) END AS top2gram_char_micro,
        CASE WHEN coalesce(tt.totch, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(coalesce(t3.top3, 0) AS DOUBLE)
               / tt.totch * 1000000.0) AS BIGINT) END AS top3gram_char_micro,
        CASE WHEN coalesce(tt.totch, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(coalesce(dc.dupch, 0) AS DOUBLE)
               / tt.totch * 1000000.0) AS BIGINT) END AS dup8gram_char_micro
      FROM documents d
      LEFT JOIN la USING (doc_id) LEFT JOIN tt USING (doc_id)
      LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
      LEFT JOIN dc USING (doc_id)
      ORDER BY doc_id
    """))

  /** CCNet PERPLEXITY BUCKETS ([[graft.operators.TextAnalysis
    * .perplexityBuckets]], Wenzek et al. 2020 §4.3 — the head/middle/
    * tail split every CommonCrawl pipeline runs between scoring and
    * mixing): q180's bigram-LM scores bucketed into per-source
    * equal-mass terciles via the HISTOGRAM two-phase (exact integer
    * cross-multiplied thresholds on bin cumulative mass — no
    * percentile interpolation, no per-source corpus window). DuckDB
    * retrains the model, rescores every doc, and replays the
    * histogram, the k·cum ≥ q·n threshold rule, and the
    * threshold-bin-goes-low assignment; unscoreable docs (< 1 bigram)
    * are outside the split on both sides.
    */
  private lazy val q199 = Q(
    "q199_ppl_buckets",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val scored = TextAnalysis.bigramLmNll(docs,
          docs.filter(col("doc_id") % 10 < 3), maxBigrams = 500)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      TextAnalysis.perplexityBuckets(scored, "source", "nll_mean_micro",
          nBuckets = 3, binWidth = 200000L)
        .select(col("doc_id"), col("source"), col("nll_mean_micro"),
          col("bucket"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0),
      ru AS (SELECT unnest(w) AS a FROM toks WHERE doc_id % 10 < 3),
      refu AS (SELECT a, count(*) AS ca FROM ru GROUP BY a),
      vv AS (SELECT count(*) + 1 AS v FROM refu),
      rb AS (SELECT unnest(list_transform(range(1, CAST(len(w) AS INT)),
               i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks WHERE doc_id % 10 < 3),
      refb AS (SELECT ng, count(*) AS cab FROM rb GROUP BY ng
               ORDER BY cab DESC, ng LIMIT 500),
      dg AS (SELECT doc_id,
              unnest(list_transform(range(1, CAST(len(w) AS INT)),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS ng
            FROM toks),
      p AS (SELECT d.doc_id,
              CAST(floor(ln(
                CAST(coalesce(refb.cab, 0) + 1 AS DOUBLE) /
                CAST(coalesce(refu.ca, 0) + vv.v AS DOUBLE)) * 1000000.0)
                AS BIGINT) AS lp
            FROM dg d
            LEFT JOIN refb ON refb.ng = d.ng
            LEFT JOIN refu ON refu.a = string_split(d.ng, ' ')[1]
            CROSS JOIN vv),
      sc AS (SELECT doc_id,
              CAST((-sum(lp)) // count(*) AS BIGINT) AS nll_mean_micro
            FROM p GROUP BY doc_id),
      j AS (SELECT sc.doc_id, d.source, sc.nll_mean_micro
            FROM sc JOIN documents d USING (doc_id)),
      h AS (SELECT source, nll_mean_micro // 200000 AS bin, count(*) AS c
            FROM j GROUP BY 1, 2),
      cm AS (SELECT *, sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
              sum(c) OVER (PARTITION BY source) AS n FROM h),
      th AS (SELECT source,
              min(CASE WHEN cum * 3 >= n * 1 THEN bin END) AS t1,
              min(CASE WHEN cum * 3 >= n * 2 THEN bin END) AS t2
            FROM cm GROUP BY source)
      SELECT j.doc_id, j.source, j.nll_mean_micro,
        CAST(CASE WHEN j.nll_mean_micro // 200000 > th.t1 THEN 1 ELSE 0 END
           + CASE WHEN j.nll_mean_micro // 200000 > th.t2 THEN 1 ELSE 0 END
          AS INT) AS bucket
      FROM j JOIN th USING (source)
      ORDER BY doc_id
    """))

  /** EVAL-SIDE CONTAMINATION DIRTINESS ([[graft.operators.Dedup
    * .evalDirtiness]], GPT-3 Appendix C — q25's complementary
    * direction: q25 flags TRAIN docs to drop, this scores every EVAL
    * doc's n-gram overlap with the trained-on corpus to decide which
    * benchmark numbers to trust): train plants full-text clones of
    * HALF the eval docs (doc_id % 100 = 0), so those read dirty ≈ 10⁶
    * while the un-cloned half carries only incidental overlap — both
    * verdicts observable (threshold 0.99: the synthetic corpus's
    * templated text gives even un-cloned evals ~0.55-0.65 incidental
    * overlap, and eval doc 450 reads FULLY dirty through a planted
    * near-duplicate — a genuine contamination the clone did not plant),
    * and the zero-shingle ladder rides the coalesce path. DuckDB replays the 3-gram rolling-hash shingles,
    * the distinct train set, the hit counts, the micro-floored
    * fraction, and the verdict threshold.
    */
  private lazy val q203 = Q(
    "q203_eval_dirtiness",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val ev = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"), col("text"))
      val train = d.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("id"), col("text"))
        .unionAll(ev.filter(col("id") % 100 === 0)
          .select((col("id") + 2000000L).as("id"), col("text")))
        .repartition(s.sparkContext.defaultParallelism)
      graft.operators.Dedup.evalDirtiness(
          train, ev, "id", "text", n = 3, dirtyMinMicro = 990000L)
        .orderBy("eval_id")
    },
    Some(s"""
      WITH ev AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 = 0),
      tr AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 <> 0
            UNION ALL
            SELECT id + 2000000, text FROM ev WHERE id % 100 = 0),
      trt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM tr
              WHERE length(trim(text)) > 0),
      trs AS (SELECT DISTINCT x FROM (
                SELECT ${rollSql("s")} AS x FROM (
                  SELECT unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM trt) a) b),
      evt AS (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM ev
              WHERE length(trim(text)) > 0),
      evs AS (SELECT DISTINCT id AS eval_id, x FROM (
                SELECT id, ${rollSql("s")} AS x FROM (
                  SELECT id, unnest(list_transform(range(1, CAST(len(w) AS INT) - 1),
                    i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s
                  FROM evt) a) b),
      tot AS (SELECT eval_id, count(*) AS n_shingles FROM evs GROUP BY 1),
      hit AS (SELECT e.eval_id, count(*) AS n_hit
              FROM evs e JOIN trs t ON e.x = t.x GROUP BY 1),
      sc AS (SELECT tot.eval_id, tot.n_shingles,
               coalesce(hit.n_hit, 0) AS n_hit
             FROM tot LEFT JOIN hit USING (eval_id))
      SELECT e.id AS eval_id,
        coalesce(sc.n_shingles, 0) AS n_shingles,
        coalesce(sc.n_hit, 0) AS n_hit,
        CASE WHEN coalesce(sc.n_shingles, 0) = 0 THEN 0
             ELSE CAST(floor(CAST(sc.n_hit AS DOUBLE) / sc.n_shingles
               * 1000000.0) AS BIGINT) END AS dirty_micro,
        CASE WHEN coalesce(sc.n_shingles, 0) > 0
              AND CAST(floor(CAST(sc.n_hit AS DOUBLE) / sc.n_shingles
                * 1000000.0) AS BIGINT) >= 990000
             THEN 'dirty' ELSE 'clean' END AS verdict
      FROM (SELECT DISTINCT id FROM ev) e
      LEFT JOIN sc ON sc.eval_id = e.id
      ORDER BY eval_id
    """))

  /** KNESER-NEY BIGRAM LM SCORING gate ([[graft.operators.TextAnalysis
    * .knBigramScore]], Wenzek 2020 / Kneser-Ney 1995 — the CCNet
    * quality scorer whose output q199 buckets): the LM trains on the
    * non-eval corpus half (the q203 split), eval docs score per-bigram
    * interpolated-KN probabilities — exact int64 cross-products to ONE
    * micro-floored division per bigram, the unseen-context branch
    * rides the continuation distribution, unseen words clamp to the
    * 1-micro floor, logs are the q187 floored-IEEE convention, and the
    * avg-NLL is one integer DIV. DuckDB replays tokenization, the
    * per-token rolling hash, all four count tables, both probability
    * branches, the clamp, the log floor, and the zero-bigram ladder.
    */
  private lazy val q209 = Q(
    "q209_kn_lm_score",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      // half the eval docs get planted OOV tokens so the unseen-word
      // clamp AND the unseen-context continuation branch are both
      // observable (the natural corpus shares its whole vocabulary)
      val ev = d.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"),
          concat(col("text"), when(col("doc_id") % 100 === 0,
            lit(" qq7x zz9y qq7x")).otherwise(lit(""))).as("text"))
      val tr = d.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("id"), col("text"))
      graft.operators.TextAnalysis.knBigramScore(tr, ev, "id", "text")
        .orderBy("id")
    },
    Some(s"""
      WITH ev AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'))
                || CASE WHEN doc_id % 100 = 0
                        THEN ' qq7x zz9y qq7x' ELSE '' END AS text
            FROM documents WHERE doc_id % 50 = 0),
      tr AS (SELECT doc_id AS id,
              lower(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')) AS text
            FROM documents WHERE doc_id % 50 <> 0),
      trt AS (SELECT list_transform(string_split_regex(trim(text), '\\s+'),
                t -> ${rollSql("t")}) AS h
              FROM tr WHERE length(trim(text)) > 0),
      trb AS (SELECT unnest(list_transform(range(1, CAST(len(h) AS INT)),
                i -> struct_pack(h1 := h[CAST(i AS INT)],
                                 h2 := h[CAST(i AS INT) + 1]))) AS b
              FROM trt WHERE len(h) >= 2),
      big AS (SELECT b.h1 AS h1, b.h2 AS h2, count(*) AS c12
              FROM trb GROUP BY 1, 2),
      uni AS (SELECT h1, CAST(sum(c12) AS BIGINT) AS c1,
                CAST(count(*) AS BIGINT) AS fwd FROM big GROUP BY 1),
      bck AS (SELECT h2, CAST(count(*) AS BIGINT) AS bk FROM big GROUP BY 1),
      bt AS (SELECT CAST(count(*) AS BIGINT) AS tb FROM big),
      evt AS (SELECT id, list_transform(string_split_regex(trim(text), '\\s+'),
                t -> ${rollSql("t")}) AS h
              FROM ev WHERE length(trim(text)) > 0),
      evb AS (SELECT id, unnest(list_transform(range(1, CAST(len(h) AS INT)),
                i -> struct_pack(h1 := h[CAST(i AS INT)],
                                 h2 := h[CAST(i AS INT) + 1]))) AS b
              FROM evt WHERE len(h) >= 2),
      sc AS (SELECT e.id, u.c1,
               CASE WHEN u.c1 IS NOT NULL THEN
                 greatest(CAST(floor(
                   CAST(greatest(coalesce(g.c12, 0) * 1000000 - 750000, 0) * bt.tb
                        + 750000 * coalesce(u.fwd, 0) * coalesce(k.bk, 0) AS DOUBLE)
                   / CAST(u.c1 * bt.tb AS DOUBLE)) AS BIGINT), 1)
               ELSE
                 greatest(CAST(floor(CAST(coalesce(k.bk, 0) AS DOUBLE)
                   / CAST(bt.tb AS DOUBLE) * 1000000.0) AS BIGINT), 1)
               END AS pm
             FROM evb e
             LEFT JOIN big g ON g.h1 = e.b.h1 AND g.h2 = e.b.h2
             LEFT JOIN uni u ON u.h1 = e.b.h1
             LEFT JOIN bck k ON k.h2 = e.b.h2
             CROSS JOIN bt),
      lg AS (SELECT id, c1,
               CAST(floor(ln(CAST(pm AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT) AS logp
             FROM sc),
      agg AS (SELECT id, count(*) AS n_bigrams,
                CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_ctx,
                CAST(sum(logp) AS BIGINT) AS sum_logp_micro
              FROM lg GROUP BY id)
      SELECT e.id,
        coalesce(a.n_bigrams, 0) AS n_bigrams,
        coalesce(a.n_oov_ctx, 0) AS n_oov_ctx,
        coalesce(a.sum_logp_micro, 0) AS sum_logp_micro,
        CASE WHEN coalesce(a.n_bigrams, 0) = 0 THEN 0
             ELSE (-a.sum_logp_micro) // a.n_bigrams END AS avg_nll_micro
      FROM (SELECT DISTINCT id FROM ev) e
      LEFT JOIN agg a USING (id)
      ORDER BY id
    """))

  /** EMBEDDING-CENTROID DRIFT gate ([[graft.operators.Similarity
    * .centroidDrift]] — the embedding-space complement of q187's token
    * JSD): snapshot B plants BOTH drift modes against A — every 5th
    * vector sign-flips (members pulling the centroid toward zero and
    * past it) and every label ≡ 0 (mod 3) group gets a uniform +0.05
    * component shift — so cosines below 1, near 1, and norm changes
    * are all observable per group. Decimal-exact per-dim sums, means
    * one cast+division, fixed left-to-right dot/norm folds over the
    * d-sorted mean arrays (the q34 spelling), micro-floored outputs.
    * DuckDB replays the plant, the decimal sums, and the folds.
    */
  private lazy val q212 = Q(
    "q212_embedding_drift",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.select(col("label"),
        col("embedding").cast("array<double>").as("v"))
      val flip = when(col("vec_id") % 5 === 0, lit(-1.0)).otherwise(lit(1.0))
      val shift = when(col("label") % 3 === 0, lit(0.05)).otherwise(lit(0.0))
      // label%7=3 groups VANISH from snapshot b — the one-sided case
      // (appeared/vanished group) the full-outer contract reports with
      // n_b=0 / norm_b=0 / cosine 0 instead of silently dropping
      val b = e.filter(col("label") % 7 =!= 3).select(col("label"),
        transform(col("embedding"), x => x.cast("double") * flip + shift)
          .as("v"))
      graft.operators.Similarity.centroidDrift(a, b, "label", "v")
        .orderBy("label")
    },
    Some(s"""
      WITH ea AS (SELECT label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      eb AS (SELECT label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)
                * (CASE WHEN vec_id % 5 = 0 THEN -1.0 ELSE 1.0 END)
                + (CASE WHEN label % 3 = 0 THEN 0.05 ELSE 0.0 END)) AS v
            FROM embeddings WHERE label % 7 <> 3),
      xa AS (SELECT label AS g,
               unnest(list_transform(range(1, 65),
                 i -> struct_pack(d := i, x := v[CAST(i AS INT)]))) AS e
             FROM ea),
      ca AS (SELECT g, e.d AS d,
               sum(CAST(e.x AS DECIMAL(38,12))) AS s_a,
               CAST(count(*) AS BIGINT) AS n_a
             FROM xa GROUP BY 1, 2),
      xb AS (SELECT label AS g,
               unnest(list_transform(range(1, 65),
                 i -> struct_pack(d := i, x := v[CAST(i AS INT)]))) AS e
             FROM eb),
      cb AS (SELECT g, e.d AS d,
               sum(CAST(e.x AS DECIMAL(38,12))) AS s_b,
               CAST(count(*) AS BIGINT) AS n_b
             FROM xb GROUP BY 1, 2),
      j AS (SELECT coalesce(ca.g, cb.g) AS g, coalesce(ca.d, cb.d) AS d,
              coalesce(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 0.0) AS ma,
              coalesce(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 0.0) AS mb,
              n_a, n_b
            FROM ca FULL JOIN cb ON ca.g = cb.g AND ca.d = cb.d),
      f AS (SELECT g, coalesce(max(n_a), 0) AS n_a,
              coalesce(max(n_b), 0) AS n_b,
              list(ma ORDER BY d) AS la, list(mb ORDER BY d) AS lb
            FROM j GROUP BY g),
      r AS (SELECT g, n_a, n_b,
              ${dotSql("la", "lb")} AS dt,
              ${dotSql("la", "la")} AS na,
              ${dotSql("lb", "lb")} AS nb
            FROM f)
      SELECT g AS label, n_a, n_b,
        CAST(floor(sqrt(na) * 1000000.0) AS BIGINT) AS norm_a_micro,
        CAST(floor(sqrt(nb) * 1000000.0) AS BIGINT) AS norm_b_micro,
        CASE WHEN na = 0.0 OR nb = 0.0 THEN 0
             ELSE CAST(floor(dt / (sqrt(na) * sqrt(nb)) * 1000000.0) AS BIGINT)
        END AS centroid_cos_micro
      FROM r ORDER BY label
    """))

  /** URL CANONICALIZATION + canonical dedup gate
    * ([[graft.operators.TextAnalysis.canonicalizeUrl]] — the first
    * step of every crawl pipeline's dedup: one page, thousands of
    * spellings): the fixture plants every decoration class on a
    * colliding (host, path) grid — upper/lower scheme, `www.`, `:80`,
    * mixed-case hosts, trailing slash, `#fragments`, utm tracking
    * params, unsorted param order — and the gate reports per
    * canonical URL the spelling-collapse count and the first raw key;
    * DuckDB replays the entire anchored-regex chain (RE2 and Java
    * regex agree on this dialect; list_sort = array_sort on ASCII).
    */
  private lazy val q220 = {
    val host = "'Site' || CAST(k % 50 AS STRING) || '.Example.com'"
    val urlSql = s"""
      (CASE WHEN k % 4 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
      (CASE WHEN k % 5 = 0 THEN 'www.' ELSE '' END) || ($host) ||
      (CASE WHEN k % 6 = 0 THEN ':80' ELSE '' END) ||
      '/p/' || CAST(k % 200 AS STRING) ||
      (CASE WHEN k % 3 = 0 THEN '/' ELSE '' END) ||
      (CASE WHEN k % 7 = 0
            THEN '?utm_source=feed&b=' || CAST(k % 9 AS STRING) || '&a=1'
            WHEN k % 7 = 3
            THEN '?a=1&b=' || CAST(k % 9 AS STRING)
            ELSE '' END) ||
      (CASE WHEN k % 11 = 0 THEN '#sec' || CAST(k AS STRING)
            ELSE '' END)"""
    Q(
      "q220_url_canonical",
      (s, dir) => {
        val urls = t(s, dir, "lineitem")
          .selectExpr("l_orderkey * 8 + l_linenumber AS k")
          .repartition(s.sparkContext.defaultParallelism)
          .selectExpr("k", s"($urlSql) AS url")
        urls
          .withColumn("curl", TextAnalysis.canonicalizeUrl(col("url")))
          .groupBy("curl")
          .agg(count(lit(1)).as("n_spellings"), min(col("k")).as("first_k"))
          .orderBy("curl")
      },
      Some(s"""
        WITH ln AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem),
        u AS (SELECT k, ($urlSql) AS url FROM ln),
        c AS (SELECT k,
          -- the operator's chain, verbatim in the oracle dialect
          (CASE WHEN coalesce(regexp_extract(trim(url),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '') = '' THEN trim(url)
           ELSE
            lower(regexp_extract(regexp_replace(trim(url), '#.*$$', ''),
              '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
            (CASE lower(regexp_extract(regexp_replace(trim(url), '#.*$$', ''),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              WHEN 'http' THEN regexp_replace(
                regexp_replace(lower(regexp_extract(
                  regexp_replace(trim(url), '#.*$$', ''),
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www[0-9]*\\.', ''), ':80$$', '')
              WHEN 'https' THEN regexp_replace(
                regexp_replace(lower(regexp_extract(
                  regexp_replace(trim(url), '#.*$$', ''),
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^www[0-9]*\\.', ''), ':443$$', '')
              ELSE regexp_replace(lower(regexp_extract(
                regexp_replace(trim(url), '#.*$$', ''),
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                '^www[0-9]*\\.', '') END) ||
            (CASE WHEN regexp_replace(regexp_extract(
                    regexp_replace(regexp_replace(trim(url), '#.*$$', ''),
                      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                    '^([^?]*)', 1), '/+$$', '') = '' THEN '/'
                  ELSE regexp_replace(regexp_extract(
                    regexp_replace(regexp_replace(trim(url), '#.*$$', ''),
                      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                    '^([^?]*)', 1), '/+$$', '') END) ||
            regexp_replace('?' || coalesce(array_to_string(list_sort(list_filter(
              string_split(coalesce(regexp_extract(
                regexp_replace(regexp_replace(trim(url), '#.*$$', ''),
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
                '\\?(.*)$$', 1), ''), '&'),
              p -> p <> '' AND NOT regexp_matches(p,
                '${TextAnalysis.TrackingParamRx}'))), '&'), ''), '^\\?$$', '')
           END) AS curl
          FROM u)
        SELECT curl, CAST(count(*) AS BIGINT) AS n_spellings,
          CAST(min(k) AS BIGINT) AS first_k
        FROM c GROUP BY curl ORDER BY curl
      """))
  }

  /** UNICODE-SCRIPT PROFILE gate ([[graft.operators.TextAnalysis
    * .scriptProfile]] — the multilingual corpus-QC read langId can't
    * give: script mixing flags mojibake/spam/boilerplate-wrapped
    * mislabels): the fixture plants two-script documents (7 writing
    * systems crossed pairwise by k, repeat counts varying so either
    * script can dominate, plus digits/whitespace), and DuckDB replays
    * the per-class strip-and-diff counts with the SAME explicit
    * codepoint ranges (RE2 and Java regex both take `\\x{…}`; the 'g'
    * flag matches Spark's global replace) and the list-order dominance
    * CASE.
    */
  private lazy val q221 = {
    val samples =
      Seq("hello", "привет", "λογος", "سلام", "नमस्ते", "안녕", "你好かな")
    def sampleCase(term: String) =
      "CASE CAST((" + term + ") % 7 AS INT) " +
        samples.zipWithIndex.map { case (s, i) => s"WHEN $i THEN '$s'" }
          .mkString(" ") + " END"
    val textSql =
      s"""repeat(${sampleCase("k")}, CAST(1 + k % 4 AS INT)) || ' ' ||
          repeat(${sampleCase("k + 3")}, CAST(k % 3 AS INT)) || ' ' ||
          CAST(k % 100 AS STRING)"""
    val outCols = Seq("n_chars", "n_digit", "n_space") ++
      TextAnalysis.ScriptRanges.map { case (n, _) => s"n_$n" }
    Q(
      "q221_script_profile",
      (s, dir) => {
        val docs = t(s, dir, "lineitem")
          .selectExpr("l_orderkey * 8 + l_linenumber AS k")
          .repartition(s.sparkContext.defaultParallelism)
          .selectExpr("k", s"($textSql) AS text")
        TextAnalysis.scriptProfile(docs, "k", "text")
          .select((col("k") +: outCols.map(col)) :+
            col("n_other") :+ col("dominant_script"): _*)
          // r17: one hash exchange below the sort (range-sampling
          // double-compute — 37.8 of the gate's 74 exec-core-s at
          // sf0.1/8c re-ran the per-script regex counts)
          .sortStaged(col("k"))
      },
      Some {
        val counts = TextAnalysis.ScriptRanges.map { case (n, r) =>
          s"length(text) - length(regexp_replace(text, '[$r]', '', 'g')) AS n_$n"
        }.mkString(",\n            ")
        val scriptNs = TextAnalysis.ScriptRanges.map { case (n, _) => s"n_$n" }
        val best = s"greatest(${scriptNs.mkString(", ")})"
        val dominant = scriptNs.map(n =>
          s"WHEN $n > 0 AND $n = $best THEN '${n.stripPrefix("n_")}'")
          .mkString("CASE ", " ", " ELSE 'none' END")
        s"""
        WITH ln AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem),
        d AS (SELECT k, ($textSql) AS text FROM ln),
        c AS (SELECT k,
            CAST(length(text) AS BIGINT) AS n_chars,
            length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS n_digit,
            length(text) - length(regexp_replace(text, '[\\s]', '', 'g'))
              AS n_space,
            $counts
          FROM d)
        SELECT k, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(n_digit AS BIGINT) AS n_digit,
          CAST(n_space AS BIGINT) AS n_space,
          ${scriptNs.map(n => s"CAST($n AS BIGINT) AS $n").mkString(", ")},
          CAST(n_chars - n_digit - n_space -
            (${scriptNs.mkString(" + ")}) AS BIGINT) AS n_other,
          $dominant AS dominant_script
        FROM c ORDER BY k
        """
      })
  }

  /** ENCODING-MOJIBAKE gate ([[graft.operators.TextAnalysis
    * .mojibakeScore]] — the corpus-QC pass that catches double-encoded
    * scrapes before they poison tokenizer training and dedup): the
    * fixture plants clean text, classic `Ã©`-class manglings, the
    * `â€`-prefixed curly-quote class, and repeated artifacts (counts
    * > 1 observable); DuckDB replays the literal length-minus-replace
    * counting and the per-kilochar micro rate.
    */
  private lazy val q223 = {
    val textSql = """
      CASE CAST(k % 5 AS INT)
        WHEN 0 THEN 'the cafe menu is plain ascii ' || CAST(k AS STRING)
        WHEN 1 THEN 'the cafÃ© menu nÃ¤chste Ã¼ber ' || CAST(k AS STRING)
        WHEN 2 THEN 'â€œquotedâ€ and â€“dashedâ€“ text'
        WHEN 3 THEN 'clean unicode café naïve ' || CAST(k AS STRING)
        ELSE repeat('Ã©', CAST(1 + k % 4 AS INT)) || ' tail'
      END"""
    Q(
      "q223_mojibake",
      (s, dir) => {
        val docs = t(s, dir, "lineitem")
          .selectExpr("l_orderkey * 8 + l_linenumber AS k")
          .repartition(s.sparkContext.defaultParallelism)
          .selectExpr("k", s"($textSql) AS text")
        TextAnalysis.mojibakeScore(docs, "k", "text")
          .select(col("k"), col("n_chars"), col("mojibake_n"),
            col("mojibake_micro"), col("is_mojibake"))
          // r17: one hash exchange below the sort (range-sampling
          // double-compute — 26.6 of the gate's 52 exec-core-s)
          .sortStaged(col("k"))
      },
      Some {
        val counts = TextAnalysis.MojibakeArtifacts.map(a =>
          s"(length(text) - length(replace(text, '$a', ''))) / ${a.length}")
          .mkString(" + ")
        s"""
        WITH ln AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem),
        d AS (SELECT k, ($textSql) AS text FROM ln),
        c AS (SELECT k, CAST(length(text) AS BIGINT) AS n_chars,
                CAST($counts AS BIGINT) AS mojibake_n
              FROM d)
        SELECT k, n_chars, mojibake_n,
          CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST((mojibake_n * 1000000) // n_chars AS BIGINT)
          END AS mojibake_micro,
          mojibake_n > 0 AS is_mojibake
        FROM c ORDER BY k
        """
      })
  }

  /** DEDUP YIELD-REPORT gate ([[graft.operators.Dedup
    * .dedupYieldReport]] — the sign-off read before deleting data:
    * per cluster size, clusters/docs/weight and what the
    * one-survivor-per-cluster policy removes, keeping the min-id
    * representative; singletons counted so the WHOLE corpus is
    * accounted): the fixture plants exact-dup clusters of size 2 and
    * 3 (clones at +1e6/+2e6 ids) next to the untouched singleton mass,
    * labels = min id per text (the connectedComponents convention,
    * replayed as a window min on both engines), weight = char count.
    */
  private lazy val q225 = Q(
    "q225_dedup_yield",
    (s, dir) => {
      val d0 = t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val corpus = d0
        .unionAll(d0.filter(col("id") % 3 === 0)
          .select((col("id") + 1000000L).as("id"), col("text")))
        .unionAll(d0.filter(col("id") % 6 === 0)
          .select((col("id") + 2000000L).as("id"), col("text")))
      val labeled = corpus.withColumn("cluster",
        min(col("id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("text")))
      graft.operators.Dedup.dedupYieldReport(
          corpus.withColumn("n_tok", length(col("text")).cast("long")),
          labeled.select("id", "cluster"))
        .orderBy("cluster_size")
    },
    Some("""
      WITH d0 AS (SELECT doc_id AS id, text FROM documents),
      corpus AS (
        SELECT id, text FROM d0
        UNION ALL SELECT id + 1000000, text FROM d0 WHERE id % 3 = 0
        UNION ALL SELECT id + 2000000, text FROM d0 WHERE id % 6 = 0),
      lab AS (SELECT id, length(text) AS w,
                min(id) OVER (PARTITION BY text) AS cl
              FROM corpus),
      per AS (SELECT cl, CAST(count(*) AS BIGINT) AS sz,
                CAST(sum(w) AS BIGINT) AS w,
                CAST(arg_min(w, id) AS BIGINT) AS kw
              FROM lab GROUP BY cl)
      SELECT sz AS cluster_size,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(sz) AS BIGINT) AS n_docs,
        CAST(sum(w) AS BIGINT) AS weight_total,
        CAST(sum(sz) - count(*) AS BIGINT) AS n_removable_docs,
        CAST(sum(w - kw) AS BIGINT) AS weight_removable
      FROM per GROUP BY sz ORDER BY cluster_size
    """))

  /** SEMANTIC (embedding-space) DEDUPLICATION gate — the SemDeDup
    * recipe (Abbas et al. 2023) composed from the engine's own parts,
    * NO new operator: [[graft.operators.Similarity.ivfAssign]] buckets
    * the corpus by nearest planted centroid (the cluster step), then
    * near-duplicates are WITHIN-CELL cosine pairs above a micro-floored
    * 0.99 threshold, and the kept set follows the greedy lowest-id
    * rule (a vector drops iff it pairs with a LOWER id — deterministic,
    * join-replayable, the practical shortcut production SemDeDup uses
    * instead of full connected components; the q182 incremental-CC
    * gate covers the transitive variant). The pair join is
    * CELL-RESTRICTED by construction — no all-pairs path exists at any
    * scale; cells scale as the centroid count. DuckDB replays
    * assignment (same L2 + cid tiebreak), the micro cosine threshold,
    * and the greedy drop rule.
    */
  private lazy val q235 = Q(
    "q235_semantic_dedup",
    (s, dir) => {
      import graft.operators.Similarity
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val cents = e.filter(col("vec_id").between(100, 107))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = Similarity.ivfAssign(e, cents)
      // cellCap default 0: bit-identical to the inline spelling; the
      // skew guard (split a giant cell into id-order sub-cells) is
      // the operator's documented option, spec-pinned in
      // DedupSimilaritySpec
      val pairs = Similarity.semDeDupPairs(assigned,
        minCosMicro = 990000L)
      val dropped = pairs.select(col("cell"), col("b_id").as("vec_id"))
        .distinct()
      val stats = assigned.join(dropped, Seq("cell", "vec_id"),
          "left_anti")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("kept_id_sum"))
      assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(pairs.groupBy("cell").agg(count(lit(1)).as("n_dup_pairs")),
          Seq("cell"), "left")
        .join(stats, Seq("cell"))
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          col("n_kept"), col("kept_id_sum"))
        .orderBy("cell")
    },
    Some(s"""
      WITH $ivfAsgSql,
      pr AS (SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
             FROM asg a JOIN asg b USING (cell)
             WHERE a.vec_id < b.vec_id
               AND ${microSql(
                 s"${dotSql("a.v", "b.v")} / (sqrt(${dotSql("a.v", "a.v")})"
                   + s" * sqrt(${dotSql("b.v", "b.v")}))")} >= 990000),
      dropped AS (SELECT DISTINCT cell, b_id AS vec_id FROM pr),
      kept AS (SELECT g.cell, count(*) AS n_kept,
                 CAST(sum(g.vec_id) AS BIGINT) AS kept_id_sum
               FROM asg g LEFT JOIN dropped d
                 ON d.cell = g.cell AND d.vec_id = g.vec_id
               WHERE d.vec_id IS NULL GROUP BY g.cell),
      nv AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY cell),
      np AS (SELECT cell, count(*) AS n_dup_pairs FROM pr GROUP BY cell)
      SELECT nv.cell, nv.n_vecs,
        CAST(COALESCE(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
        kept.n_kept, kept.kept_id_sum
      FROM nv LEFT JOIN np USING (cell) JOIN kept USING (cell)
      ORDER BY nv.cell
    """))

  /** INTRA-DOCUMENT PARAGRAPH DEDUP gate — boilerplate/repetition
    * REMOVAL (the cleaning step after the repetition-SCORING family:
    * crawled pages repeat nav blocks, cookie banners, and copied
    * paragraphs INSIDE one document; the standard fix keeps each
    * paragraph's FIRST occurrence in document order): pure per-row
    * array work — split on the paragraph boundary, keep element i iff
    * its first occurrence index is i (order-preserving dedup —
    * `array_distinct` has no cross-engine order guarantee, so both
    * engines spell the first-occurrence rule explicitly with
    * position-lambda filters), rejoin. ZERO shuffles before the
    * rollup; at 100 TB this is scan-speed narrow work. The fixture
    * plants duplicated paragraphs by construction (a 5-part synthetic
    * doc with two planted repeats); DuckDB replays the identical
    * (x, i) filter.
    */
  private lazy val q238 = Q(
    "q238_paragraph_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .selectExpr("doc_id", "source",
          """concat_ws('\n\n', substr(text, 1, 40), substr(text, 20, 40),
             substr(text, 1, 40), 'P' || CAST(doc_id % 7 AS STRING),
             substr(text, 20, 40)) AS doc""")
      val parts = split(col("doc"), "\n\n")
      val kept = filter(parts,
        (x, i) => array_position(parts, x) === i.cast("long") + 1L)
      docs
        .withColumn("n_before", size(parts))
        .withColumn("clean", array_join(kept, "\n\n"))
        .withColumn("n_after", size(kept))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_before").cast("long")).as("paras_before"),
          sum(col("n_after").cast("long")).as("paras_after"),
          sum(length(col("clean")).cast("long")).as("clean_len_sum"))
        .orderBy("source")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, source,
               concat_ws(chr(10) || chr(10),
                 substr(text, 1, 40), substr(text, 20, 40),
                 substr(text, 1, 40), 'P' || CAST(doc_id % 7 AS VARCHAR),
                 substr(text, 20, 40)) AS doc
             FROM documents),
      sp AS (SELECT doc_id, source,
               string_split(doc, chr(10) || chr(10)) AS parts
             FROM d),
      ke AS (SELECT doc_id, source, len(parts) AS n_before,
               list_filter(parts,
                 (x, i) -> list_position(parts, x) = i) AS kept
             FROM sp)
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_before) AS BIGINT) AS paras_before,
        CAST(sum(len(kept)) AS BIGINT) AS paras_after,
        CAST(sum(len(array_to_string(kept, chr(10) || chr(10))))
          AS BIGINT) AS clean_len_sum
      FROM ke GROUP BY source ORDER BY source
    """))

  val all: Seq[Q] =
    Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q37, q46, q47,
      q30, q31, q32, q33, q34, q35, q36, q38, q39, q40, q41, q42, q43, q44,
      q45, q48, q65, q66, q67, q69, q70, q71, q73, q74, q76, q77, q78, q85,
      q86, q87, q88, q89, q90, q92, q94, q95, q96, q97, q98, q99, q109,
      q110, q112, q120, q121, q122, q128, q129, q130, q133, q135, q139,
      q140, q141, q142, q143, q146, q147, q148, q150, q151, q153, q155,
      q158, q161, q165, q166, q170, q171, q172, q173, q174, q176, q177,
      q180, q182, q183, q186, q187, q189, q190, q193, q194, q195, q199,
      q203, q209, q212, q220, q221, q223, q225, q235, q238)
}
