package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for document pipelines — all built from
  * codegen'd `org.apache.spark.sql.functions` (no UDFs: every one of these
  * stays inside whole-stage codegen and is pushdown/prune-friendly).
  *
  * Each function has a DuckDB-equivalent SQL form used by the oracle
  * queries in [[graft.operators.TextOps]]; keep the two in sync.
  */
object TextFns {

  /** Canonical form: lowercase, whitespace runs collapsed to single spaces,
    * trimmed. The base for fingerprints, shingles, and dedup. */
  def normalizeText(c: Column): Column =
    trim(lower(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normalizeText(c), " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols — a cheap proxy for tokenizer cost. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(normalizeText(c), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Stable content fingerprint of the normalized text (md5 hex — identical
    * in DuckDB, so exact-dedup is oracle-checkable). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Overlapping word bigrams of an ALREADY-TOKENIZED array column,
    * space-joined; empty/one-token arrays yield an empty array. See
    * [[ngramsOfTokens]] for why callers tokenize in their own projection
    * first. */
  def bigramsOfTokens(t: Column): Column =
    zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Overlapping word n-grams of an ALREADY-TOKENIZED array column,
    * space-joined. Arrays with fewer than `n` tokens yield an empty array
    * (guarded: Spark's `sequence(1, stop)` would DESCEND for stop < 1,
    * not empty). For n = 2 this matches [[bigramsOfTokens]]
    * content-for-content.
    *
    * PERFORMANCE CONTRACT: every shingle-stream operator tokenizes in
    * its OWN projection and passes the token attribute here. Two
    * compounding engine behaviors make the fused form (n-grams of
    * `tokens(text)` in one expression) a per-shingle disaster:
    * (a) higher-order functions evaluate INTERPRETED, and an expression
    * captured by the lambda — here the token array — is re-evaluated
    * per ELEMENT, so the regex tokenization runs once per shingle, not
    * per document;
    * (b) CollapseProject declines to inline a multi-referenced non-cheap
    * producer, so a separate tokens projection survives as a real
    * attribute and the lambda capture becomes a row read. Measured on
    * the sf0.1 corpus 5-gram stream: 3.55 s fused vs 0.22 s two-step —
    * 16×, before any join even runs. */
  def ngramsOfTokens(t: Column, n: Int): Column = {
    require(n >= 1, s"ngram width must be >= 1, got $n")
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
  }

  /** Ratio of non-alphanumeric, non-space chars to total chars. */
  def punctRatio(c: Column): Column = {
    val n = normalizeText(c)
    round(length(regexp_replace(n, "[a-z0-9 ]", "")).cast("double") /
      greatest(length(n), lit(1)), 4)
  }

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = Stopwords.en): Column = {
    val t = tokens(c)
    round(size(filter(t, x => x.isInCollection(stopwords))).cast("double") /
      greatest(size(t), lit(1)), 4)
  }

  def avgTokenLen(c: Column): Column = {
    val n = normalizeText(c)
    val t = tokens(c)
    round((length(n) - (size(t) - 1)).cast("double") / greatest(size(t), lit(1)), 4)
  }

  /** Composite quality score in [0,1]: long-enough, low punctuation, some
    * stopwords — the usual cheap pretraining-corpus heuristics. */
  def qualityScore(c: Column): Column =
    round(
      when(tokenCount(c) >= 10, lit(0.4)).otherwise(lit(0.0)) +
        when(punctRatio(c) <= 0.1, lit(0.3)).otherwise(lit(0.0)) +
        when(stopwordRatio(c) >= 0.05, lit(0.3)).otherwise(lit(0.0)), 2)

  /** Marker-word language vote. Returns the language whose marker list hits
    * the most tokens; CJK presence short-circuits to zh; ties → en. */
  def langId(c: Column): Column = {
    val t = tokens(c)
    def score(words: Seq[String]): Column =
      size(filter(t, x => x.isInCollection(words)))
    val en = score(Stopwords.en)
    val de = score(Stopwords.de)
    val fr = score(Stopwords.fr)
    val es = score(Stopwords.es)
    when(c.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(de > greatest(en, fr, es), lit("de"))
      .when(fr > greatest(en, es), lit("fr"))
      .when(es > en, lit("es"))
      .otherwise(lit("en"))
  }

  // ---- DuckDB SQL text equivalents (keep in sync with the above) ------

  def normalizeSql(e: String): String =
    s"trim(lower(regexp_replace($e, '\\s+', ' ', 'g')))"

  def tokensSql(e: String): String = s"string_split(${normalizeSql(e)}, ' ')"
}

/** Marker/stopword lists used by quality + langid heuristics. */
object Stopwords {
  val en = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val de = Seq("der", "die", "das", "und", "ist", "ein", "nicht")
  val fr = Seq("le", "la", "les", "et", "est", "une", "pas")
  val es = Seq("el", "los", "las", "y", "es", "una", "no")
}
