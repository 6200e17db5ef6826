package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for LLM-data pipelines — all builtins/HOFs,
  * codegen-friendly, no UDFs. Hash arithmetic is explicit polynomial
  * rolling-hash (never engine-native hash()) so results are reproducible
  * across engines — the DuckDB oracle recomputes them bit-for-bit.
  */
object TextFunctions {

  /** Printable-ASCII projection — canonicalization step before hashing /
    * shingling so codepoint arithmetic is engine-portable.
    */
  def cleanAscii(c: Column): Column = regexp_replace(c, "[^\\x20-\\x7E]", "")

  /** Whitespace tokens; empty/blank text → empty array (not [""]). */
  def wsTokens(c: Column): Column = {
    val t = trim(c)
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  def tokenCount(c: Column): Column = size(wsTokens(c))

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single
    * punctuation — the usual pre-tokenization granularity.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpePattern))

  def punctCount(c: Column): Column = regexp_count(c, lit("[.,;:!?]"))
  def upperCount(c: Column): Column = regexp_count(c, lit("[A-Z]"))

  def stopwordCount(c: Column, words: Seq[String]): Column =
    size(filter(wsTokens(lower(c)), w => w.isin(words: _*)))

  /** Character array without Spark's trailing "" from split-by-empty. */
  def chars(c: Column): Column = filter(split(c, ""), ch => ch =!= lit(""))

  /** Polynomial rolling hash h = (h*31 + codepoint) mod 1e9+7 — the
    * document-fingerprint primitive; deterministic and engine-portable.
    * Backed by a native codegen expression (RollingHashExpr).
    */
  val HashMod = 1000000007L
  def rollingHash(c: Column): Column =
    graft.expressions.StringExprs.rollingHash(c)

  /** Word n-gram shingles: ["a","b","c","d"],3 → ["a b c","b c d"]. */
  def wordNgrams(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + lit(1), lit(n)))))

  /** Distinct shingle hash set of a document: canonicalize → tokenize →
    * n-gram-hash. The unit record for minhash/jaccard dedup. Backed by
    * the NgramHashesExpr kernel — one codegen'd pass per row; the HOF
    * form (`transform(wordNgrams(…), rollingHash)`) ran two interpreted
    * lambdas and materialized every n-gram string, on per-doc STREAM
    * paths (decontaminate, corpus-near-dup, minhash near-dup) among
    * others. Hash values are identical bit for bit (spec-pinned).
    */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(ngramHashesOf(text, n))

  /** Every n-token window hash of a document, in window order and with
    * repeats (the positional form of [[shingleHashes]], which is its
    * distinct set); fewer than n tokens → empty array, NULL text → NULL.
    */
  def ngramHashesOf(text: Column, n: Int): Column =
    graft.expressions.StringExprs.ngramHashes(wsTokens(lower(cleanAscii(text))), n)

  /** Fixed MinHash parameter banks (16 permutations of
    * h_j(x) = (a_j·x + b_j) mod 1e9+7) — shared with the DuckDB oracle.
    */
  val MinhashA: Seq[Long] =
    Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L, 53L, 59L, 61L, 67L)
  val MinhashB: Seq[Long] =
    Seq(3L, 5L, 17L, 23L, 29L, 31L, 41L, 43L, 47L, 53L, 59L, 61L, 67L, 71L, 73L, 79L)

  /** MinHash signature (array of MinhashA.size mins) over a shingle-hash
    * array; NULL if the doc has no shingles. Backed by a native one-pass
    * codegen kernel (MinhashSigExpr) — the HOF form ran 16 interpreted
    * array_min(transform(…)) folds per row.
    */
  def minhashSignature(shingles: Column): Column =
    graft.expressions.StringExprs.minhashSig(shingles, MinhashA, MinhashB, HashMod)

  /** The ONE definition of signature → LSH band-key strings (band b =
    * `"_"`-joined mins of its signature slice), shared by every minhash
    * consumer of a [[minhashSignature]] array — Dedup.minhashBands,
    * streaming near-dup, corpus-near-dup probing — so the "EXACT batch
    * band keys" guarantee cannot drift between call sites.
    */
  def sigBandKeys(sig: Column, bands: Int): Seq[Column] = {
    require(bands > 0 && MinhashA.size % bands == 0,
      s"bands must divide the signature size ${MinhashA.size}, got $bands " +
        "(otherwise trailing permutations are silently ignored, and " +
        "bands > size gives every doc one empty band key = quadratic join)")
    val rows = MinhashA.size / bands
    (0 until bands).map(b =>
      concat_ws("_", (0 until rows).map(r =>
        element_at(sig, b * rows + r + 1)): _*))
  }

  /** 32-bit SimHash over token hashes: bit b of the result is set when
    * the b-th bit majority over token hashes is positive. Backed by a
    * native one-pass codegen kernel (Simhash32Expr) — the HOF
    * formulation ran 32 interpreted aggregate() folds per row.
    */
  def simhash32(tokenHashes: Column): Column =
    graft.expressions.StringExprs.simhash32(tokenHashes)

  /** 64-bit SimHash over DISTINCT token hashes — the per-row codegen
    * twin of Dedup.simhashTable's 64-vote aggregation (Simhash64Expr;
    * bit-identical, NULL for token-less docs). Feed it
    * `array_distinct(tokenHashes(...))`: the aggregation votes once per
    * distinct token hash, so a non-deduplicated array would skew the
    * votes of repeated-token boilerplate.
    */
  def simhash64(tokenHashes: Column): Column =
    graft.expressions.StringExprs.simhash64(tokenHashes)

  /** Element-wise [[rollingHash]] of a token array in ONE codegen'd
    * call (TokenHashesExpr) — use instead of
    * `transform(tokens, rollingHash)`, which as an array HOF evaluates
    * interpreted per element (§8's recurring CodegenFallback lesson).
    */
  def tokenHashes(tokens: Column): Column =
    graft.expressions.StringExprs.tokenHashes(tokens)

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
