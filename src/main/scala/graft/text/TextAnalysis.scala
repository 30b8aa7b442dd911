package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-corpus analysis operators for training-data pipelines: token
  * counting, quality gates, language ID, document fingerprinting.
  *
  * Everything is a native column expression (whole-stage-codegen'd, no
  * UDFs), so at 100 TB these run as a single projection over the corpus —
  * no shuffle, no python worker, trivially parallel per file split.
  *
  * The reference has no text pipeline; these extend its DQ/profiling
  * surface (SURVEY §2d) to the document table per the build mandate.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text; empty string → empty array (Spark's
    * split of "" yields [""], which would miscount).
    */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token pattern: letter runs, digit runs, and single other
    * non-space chars each count as one token — a cheap proxy for subword
    * tokenizer output (both Java regex and RE2 support the classes).
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Small fixed English stopword list for the stopword-ratio gate. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Gopher/C4-style quality gates: fraction of four rules passed.
    * Each gate is a hard boolean so the score is exactly k/4 — robust to
    * cross-engine float drift. The thresholds live ONLY here (the fused
    * [[withStats]] path calls this same function with its precomputed
    * ratio columns).
    */
  def qualityGates(len: Column, avgTok: Column, punctR: Column,
      stopR: Column): Seq[Column] = Seq(
    len.between(50, 5000), avgTok.between(3.0, 12.0),
    punctR <= 0.1, stopR >= 0.05)

  def scoreFromGates(gates: Seq[Column]): Column =
    gates.map(g => when(g, 1).otherwise(0))
      .reduce(_ + _).cast("double") / 4

  /** Marker-word / script language heuristic. CJK codepoints → zh;
    * else the language whose marker stopwords appear; default en.
    * Deliberately simple n-gram-free dispatch — deterministic and
    * SQL-portable; swap for a real n-gram model behind the same column
    * contract when quality matters.
    */
  def langId(c: Column): Column = {
    def hasAny(words: Seq[String]): Column =
      words.map(w => c.rlike(s"(^|\\s)$w(\\s|$$)")).reduce(_ || _)
    when(c.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(hasAny(Seq("der", "und", "die", "nicht")), "de")
      .when(hasAny(Seq("le", "la", "et", "les")), "fr")
      .when(hasAny(Seq("el", "los", "las", "es")), "es")
      .otherwise("en")
  }

  /** Unicode NFC normalization (native codegen'd expression with an
    * isNormalized fast path —
    * [[org.apache.spark.sql.graft.NfcNormalize]]): the pass that must
    * precede dedup/fingerprinting on real web text, where composed and
    * decomposed spellings of identical content otherwise hash apart and
    * silently split duplicate sets. Also registered in SQL as
    * `graft_nfc` via the session extensions.
    */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.NfcNormalize(
        org.apache.spark.sql.graft.ColumnShim.expression(c)))

  /** Aggressive canonicalization for dedup fingerprint KEYS (native
    * `graft_nfkc_cf` — NFKC, ROOT-locale lowercase, NFC re-pass, with
    * an ASCII zero-Normalizer fast path): the [[nfc]] companion where
    * compatibility variants and case differences must key identically
    * (`ﬁle` ≡ `ＦＩＬＥ` ≡ `File`). Spec-pinned operator
    * (NfkcCasefoldSpec golden fixtures — DuckDB has no nfkc, so no
    * oracle gate lane; the SimHash precedent for honest non-oracle
    * operators). Compose as `fingerprintFromTokens(tokens(nfkcCf(c)))`
    * for canonicalized near-dup keys.
    */
  def nfkcCf(c: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.NfkcCasefold(
        org.apache.spark.sql.graft.ColumnShim.expression(c)))

  /** Order-insensitive bag-of-words fingerprint: md5 of the sorted
    * distinct token list. Identical token multisets-as-sets collide by
    * design (near-dup prefilter); md5 is available in every engine so the
    * oracle can recompute it.
    */
  def fingerprint(c: Column): Column = fingerprintFromTokens(tokens(c))

  /** Fingerprint from a precomputed token-array column (shared by
    * [[withStats]] so the hash recipe has one definition).
    */
  def fingerprintFromTokens(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))).cast("binary"))

  /** Strict word n-grams: ONLY full k-token windows (a doc shorter than k
    * tokens yields an empty array). Contrast with
    * [[graft.dedup.Dedup.wordShingles]], which degrades short docs to one
    * whole-text shingle — right for dedup/decontamination, wrong for
    * repetition ratios (a 1-token doc would score top-gram mass 1.0).
    */
  def strictWordNgrams(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Largest multiplicity of any element in `arr` (0 for empty): fold over
    * the sorted array tracking the current and best run — O(d log d) per
    * row instead of the O(d²) count-each-distinct formulation, and still a
    * pure codegen'd expression (no shuffle, no UDF).
    */
  def maxRepeatCount(arr: Column): Column = {
    val folded = aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      })
    folded("best")
  }

  /** Gopher-style repetition signals over word bigrams, appended to `df`:
    * `n_bigrams`, `dup_bigram_ratio` (1 − distinct/total),
    * `top_bigram_mass` (most frequent bigram's share), and the
    * `pass_repetition` gate (1 when dup ≤ [[MaxDupBigramRatio]] AND mass ≤
    * [[MaxTopBigramMass]]). The mass rule only applies at ≥
    * [[MinBigramsForMassGate]] bigrams: a clean n-bigram doc has mass 1/n,
    * so below ~1/threshold bigrams the rule would flag EVERY short doc.
    * One projection computes the bigram array; all four stats derive from
    * it — a shuffle-free corpus sweep at any scale.
    */
  val MaxDupBigramRatio = 0.1
  val MaxTopBigramMass = 0.15
  val MinBigramsForMassGate = 20

  def withRepetition(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    // tokenize once, then gram once: strictWordNgrams references its token
    // array three times, so feed it a materialized column, not the split
    // expression itself.
    val s1 = df
      .select(col("*"), tokens(col(textCol)).as("__toks"))
      .select(col("*"), strictWordNgrams(col("__toks"), 2).as("__bi"))
      .drop("__toks")
    val n = size(col("__bi"))
    val dup = when(n === 0, 0.0).otherwise(
      lit(1.0) - size(array_distinct(col("__bi"))).cast("double") / n)
    val mass = when(n === 0, 0.0).otherwise(
      maxRepeatCount(col("__bi")).cast("double") / n)
    s1.select(col("*"),
        n.cast("long").as("n_bigrams"),
        dup.as("dup_bigram_ratio"),
        mass.as("top_bigram_mass"))
      .withColumn("pass_repetition",
        when(col("dup_bigram_ratio") <= MaxDupBigramRatio &&
          (col("n_bigrams") < MinBigramsForMassGate ||
            col("top_bigram_mass") <= MaxTopBigramMass), 1).otherwise(0))
      .drop("__bi")
  }

  /** Append ALL document stats to `df`, evaluating each expensive scan of
    * the text exactly once.
    *
    * The single-column functions above are composable but re-tokenize per
    * use — a projection with all eight stats splits the text ~10 times per
    * row. Here the tokenization and regex counts are aliased in one
    * projection and every stat derives from those columns; CollapseProject
    * keeps the stages separate because it refuses to duplicate non-cheap
    * expressions referenced more than once. Same expressions → identical
    * results (the DuckDB oracles are unchanged).
    *
    * Appends: n_tokens, n_tokens_bpe, punct_ratio, stopword_ratio,
    * avg_token_len, quality_score, lang_id, fingerprint.
    */
  def withStats(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val s1 = df.select(col("*"),
      tokens(t).as("__toks"),
      length(regexp_replace(t, "\\s+", "")).as("__nonspace"),
      regexp_count(t, lit("[^A-Za-z0-9\\s]")).as("__punct"),
      regexp_count(t, lit(BpeishPattern)).as("__bpe"))
    val stops = array(Stopwords.map(lit): _*)
    val s2 = s1.select(col("*"),
      size(col("__toks")).as("__ntok"),
      size(filter(col("__toks"), tk => array_contains(stops, tk)))
        .as("__stop"),
      fingerprintFromTokens(col("__toks")).as("fingerprint"))
    val punctR = col("__punct").cast("double") / greatest(length(t), lit(1))
    val stopR = col("__stop").cast("double") / greatest(col("__ntok"), lit(1))
    val avgTok =
      col("__nonspace").cast("double") / greatest(col("__ntok"), lit(1))
    s2.select(col("*"),
        col("__ntok").cast("long").as("n_tokens"),
        col("__bpe").cast("long").as("n_tokens_bpe"),
        punctR.as("punct_ratio"),
        stopR.as("stopword_ratio"),
        avgTok.as("avg_token_len"),
        scoreFromGates(qualityGates(length(t), avgTok, punctR, stopR))
          .as("quality_score"),
        langId(t).as("lang_id"))
      .drop("__toks", "__nonspace", "__punct", "__bpe", "__ntok", "__stop")
  }
}
