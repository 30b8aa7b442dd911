package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryPack}
import graft.io.Tables
import graft.util.{Frames, Gates}

/** Registered text-analysis queries over `documents` with DuckDB oracles.
  *
  * Ratio columns are raw IEEE divisions of exact integer counts — bit-equal
  * across engines without rounding. The only subtle porting point: DuckDB's
  * `regexp_replace` is first-match unless given the 'g' flag, while Spark's
  * is always global.
  */
object TextQueries extends QueryPack {

  private val stopList =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private[graft] val tokensSql =
    "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END"

  /** [[tokensSql]] over an arbitrary column (the default reads
    * `text`) — the DuckDB twin of [[TextAnalysis.tokens]].
    */
  private[graft] def tokensSqlOf(c: String): String =
    s"CASE WHEN length(trim($c)) = 0 THEN []::VARCHAR[] " +
      s"ELSE regexp_split_to_array(trim($c), '\\s+') END"

  /** A pinned-literal integer-perceptron margin as a DuckDB
    * expression over a token-list column `t` — the exact replay of
    * [[QualityModel.scorePinned]]'s / [[LangModel]]'s BIGINT fold
    * (md5-derived 60-bit slot, literal weight array, bias).
    */
  private[graft] def marginSql(weights: Array[Long],
      bias: Long): String = {
    val w = weights.mkString("[", ", ", "]::BIGINT[]")
    s"CAST($bias + coalesce(list_sum(" +
      s"list_transform(t, tk -> ($w)[" +
      "CAST(('0x' || substr(md5(tk), 1, 15))::BIGINT % " +
      s"${weights.length} AS INT) + 1])), 0) AS BIGINT)"
  }

  /** The pinned-weight quality margin as a DuckDB expression over a
    * token-list column `t` — shared by the batch inference oracle, the
    * composed e2e oracle and the streaming maintained-aggregate oracle
    * ([[graft.streaming.StreamingQueries]]).
    */
  private[graft] def qualityMarginSql: String =
    marginSql(QualityGatePinned.weights, QualityGatePinned.bias)

  /** [[TextAnalysis.langId]] as a DuckDB CASE chain over expression
    * `x` — shared by the doc-level stats oracle and the per-line
    * segmentation oracle.
    */
  private def langCaseSql(x: String): String = {
    def hasAny(words: Seq[String]): String = words.map(w =>
      "regexp_matches(" + x + ", '(^|\\s)" + w + "(\\s|$)')")
      .mkString(" OR ")
    "CASE WHEN regexp_matches(" + x + ", '[\\x{4e00}-\\x{9fff}]') " +
      "THEN 'zh' " +
      s"WHEN ${hasAny(Seq("der", "und", "die", "nicht"))} THEN 'de' " +
      s"WHEN ${hasAny(Seq("le", "la", "et", "les"))} THEN 'fr' " +
      s"WHEN ${hasAny(Seq("el", "los", "las", "es"))} THEN 'es' " +
      "ELSE 'en' END"
  }

  /** The `gg` CTE of a pinned-literal oracle: 1 on the `rows`-row gate
    * corpus, else a DuckDB `error` naming the `oracle` and what to
    * `regenerate`. Carries its trailing ", ".
    */
  private[graft] def gateGuardSql(rows: Long, oracle: String,
      regenerate: String): String =
    "gg AS (SELECT CASE WHEN (SELECT count(*) FROM documents) = " +
      s"$rows THEN 1 ELSE error('$oracle is only valid at the " +
      s"$rows-row gate corpus: regenerate $regenerate') END AS ok), "

  /** The [[LangGatePinned]] model over a token-list column `t`: the
    * per-class `m_<lang>` margins, their `greatest`, and the CASE
    * naming the first class whose margin equals `best`.
    */
  private def pinnedLangSql: (String, String, String) = {
    val cls = LangGatePinned.classes
    (cls.indices.map(i =>
        marginSql(LangGatePinned.weights(i), LangGatePinned.biases(i)) +
          s" AS m_${cls(i)}").mkString(", "),
      cls.map(c => s"m_$c").mkString("greatest(", ", ", ")"),
      "CASE " + cls.map(c =>
        s"WHEN m_$c = best THEN '$c'").mkString(" ") + " END")
  }

  /** CTEs `ls` → `li` → `l` → `ln(doc_id, line)`: the trimmed non-empty
    * lines of `d.<textCol>` ([[LangSegment.segment]]'s line split).
    */
  private def lineSplitSql(textCol: String): String =
    s"ls AS (SELECT doc_id, string_split($textCol, chr(10)) AS lines " +
      "FROM d), " +
      "li AS (SELECT doc_id, lines, " +
      "unnest(generate_series(1, len(lines))) AS pos FROM ls), " +
      "l AS (SELECT doc_id, trim(lines[pos]) AS line FROM li), " +
      "ln AS (SELECT doc_id, line FROM l WHERE length(line) > 0), "

  /** CTE `lg(doc_id, lang)`: each `ln` line under [[langCaseSql]]. */
  private def ruleLineLangSql: String =
    s"lg AS (SELECT doc_id, ${langCaseSql("line")} AS lang " +
      "FROM ln), "

  /** CTEs `c` → `r`: per-document line counts by `lg.lang`, ranked
    * (count DESC, lang) — the majority window.
    */
  private def lineRankSql: String =
    "c AS (SELECT doc_id, lang, count(*) AS cnt FROM lg " +
      "GROUP BY 1, 2), " +
      "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id " +
      "ORDER BY cnt DESC, lang) AS rn FROM c), "

  private def statsOracle: String = {
    val toks = tokensSql
    val punct = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE " +
      "/ greatest(length(text), 1)"
    val stopRatio = s"len(list_filter($toks, t -> " +
      s"list_contains($stopList, t)))::DOUBLE / greatest(len($toks), 1)"
    val avgTok = "length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE " +
      s"/ greatest(len($toks), 1)"
    val gates = Seq(
      "CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1 ELSE 0 END",
      s"CASE WHEN ($avgTok) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END",
      s"CASE WHEN ($punct) <= 0.1 THEN 1 ELSE 0 END",
      s"CASE WHEN ($stopRatio) >= 0.05 THEN 1 ELSE 0 END")
    val lang = langCaseSql("text")
    s"SELECT doc_id, len($toks) AS n_tokens, " +
      "len(regexp_extract_all(text, " +
      "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe, " +
      s"$punct AS punct_ratio, $stopRatio AS stopword_ratio, " +
      s"$avgTok AS avg_token_len, " +
      s"(${gates.mkString(" + ")})::DOUBLE / 4 AS quality_score, " +
      s"$lang AS lang_id, " +
      s"md5(array_to_string(list_sort(list_distinct($toks)), ' ')) " +
      "AS fingerprint " +
      "FROM documents ORDER BY doc_id"
  }

  /** [[statsOracle]] without its ORDER BY, for use as a subquery. */
  private def statsBody: String = {
    val full = statsOracle
    full.substring(0, full.lastIndexOf(" ORDER BY"))
  }

  /** CTE `curated` (doc_id, text, n_tokens) of [[curatedDocs]]: the rows
    * of stats relation `from` (aliased `s`) that pass the curation gates
    * and `extra`, joined back to their text.
    */
  private def curatedCte(from: String, extra: String = ""): String =
    "curated AS (SELECT s.doc_id, d.text, s.n_tokens " +
      s"FROM $from JOIN documents d ON s.doc_id = d.doc_id " +
      "WHERE s.quality_score >= 0.75 AND s.lang_id = 'en' " +
      s"AND s.n_tokens BETWEEN 20 AND 2000$extra), "

  private def statsQuery = QueryDef(
    "text_stats_documents",
    (s, dir) => TextAnalysis
      .withStats(Tables.load(s, dir, "documents", parallelize = true), "text")
      .select("doc_id", "n_tokens", "n_tokens_bpe", "punct_ratio",
        "stopword_ratio", "avg_token_len", "quality_score", "lang_id",
        "fingerprint")
      .orderBy("doc_id"),
    Some(statsOracle))

  /** Corpus curation: the training-data filter pass — keep documents that
    * clear the quality gates, are English, and fall inside token bounds.
    * At 100 TB this is a single codegen'd projection + filter over the
    * corpus (no shuffle); survivors flow straight into dedup.
    */
  private def curateQuery = QueryDef(
    "text_curate_documents",
    (s, dir) => TextAnalysis
      .withStats(Tables.load(s, dir, "documents", parallelize = true), "text")
      .select("doc_id", "n_tokens", "quality_score", "lang_id")
      .filter(col("quality_score") >= 0.75 && col("lang_id") === "en" &&
        col("n_tokens").between(20, 2000))
      .orderBy("doc_id"),
    Some(
      s"SELECT doc_id, n_tokens, quality_score, lang_id FROM ($statsBody) " +
        "WHERE quality_score >= 0.75 AND lang_id = 'en' " +
        "AND n_tokens BETWEEN 20 AND 2000 ORDER BY doc_id"))

  /** `documents` with [[TextAnalysis.withStats]] under the curation
    * gates: quality ≥ 0.75, English, 20 to 2000 tokens.
    */
  private def curatedDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .withStats(Tables.load(s, dir, "documents", parallelize = true),
        "text")
      .select("doc_id", "text", "n_tokens", "quality_score", "lang_id")
      .filter(col("quality_score") >= 0.75 && col("lang_id") === "en" &&
        col("n_tokens").between(20, 2000))

  /** The composed training-data pipeline: curate (quality/lang/token
    * gates) → exact dedup → corpus summary. One row: how much survives
    * each stage plus total retained tokens — the shape a 100 TB corpus
    * build reports after every pass.
    */
  private def pipelineQuery = QueryDef(
    "corpus_pipeline_documents",
    (s, dir) => {
      val curated = curatedDocs(s, dir)
      val deduped = curated
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), first("n_tokens").as("n_tokens"))
      deduped.agg(
        count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
        .select(col("kept_docs"), col("kept_tokens"))
    },
    Some(
      "WITH " + curatedCte(s"($statsBody) s") +
        "deduped AS (SELECT text, MIN(doc_id) AS keep_id, " +
        "MIN(n_tokens) AS n_tokens FROM curated GROUP BY text) " +
        "SELECT COUNT(*) AS kept_docs, " +
        "SUM(n_tokens)::BIGINT AS kept_tokens FROM deduped"))

  /** The COMPLETE training-data pass, end-to-end and hash-verified:
    * curate (quality/language/token gates) → exact dedup (keep min id per
    * text) → near-dup clustering over the survivors (blocked Jaccard ≥
    * 0.8 → connected components) → drop non-survivor cluster members →
    * corpus summary. The oracle rebuilds every stage in DuckDB including
    * the recursive component search, so one hash checks the whole
    * pipeline's composition, not just its pieces.
    */
  private def pipelineFullQuery = QueryDef(
    "corpus_pipeline_full_documents",
    (s, dir) => {
      val curated = curatedDocs(s, dir)
      // cached: read by the pair generator (both join sides via the
      // shingle sets), the survivor anti-join, and the final summary.
      // survivorsLocal releases the propagation cache inside the call;
      // the 1-row summary is then materialized so `kept` and the shingle
      // cache release too (even on failure) — nothing cached outlives
      // the query build.
      Frames.cached(curated.groupBy("text")
          .agg(min("doc_id").as("doc_id"),
            min("n_tokens").as("n_tokens"))) { kept =>
        Frames.cached(
            graft.dedup.Dedup.shingleSets(kept, "doc_id", "text", 3)) { sets =>
          val pairs = graft.dedup.Dedup.jaccardOnPairsFromSets(
              graft.dedup.DedupQueries.blockedPairs(kept), sets, "doc_id")
            .filter(col("jaccard") >= 0.8)
            .select("id_a", "id_b")
          val removed = graft.dedup.Dedup.survivorsLocal(pairs)
            .filter(!col("is_survivor")).select(col("id").as("doc_id"))
          Frames.localized(
            kept.join(removed, Seq("doc_id"), "left_anti")
              .agg(count(lit(1)).as("kept_docs"),
                sum("n_tokens").as("kept_tokens")))
        }
      }
    },
    Some(
      s"WITH RECURSIVE s AS ($statsBody), " + curatedCte("s") +
        "kept AS (SELECT MIN(doc_id) AS doc_id, text, " +
        "MIN(n_tokens) AS n_tokens FROM curated GROUP BY text), " +
        graft.dedup.DedupQueries.jaccardPairsCteFor("kept") + ", " +
        graft.dedup.DedupQueries.nearDupReachSql + ", " +
        "removed AS (SELECT id FROM reach GROUP BY id " +
        "HAVING id <> MIN(r)) " +
        "SELECT COUNT(*) AS kept_docs, SUM(n_tokens)::BIGINT AS " +
        "kept_tokens FROM kept WHERE doc_id NOT IN " +
        "(SELECT id FROM removed)"))

  /** Deterministic stratified corpus sample: ≤ 40 documents per language,
    * selected by md5(doc_id) order so any engine picks the same rows
    * (see [[graft.pipeline.Sampling]]).
    */
  private def sampleQuery = QueryDef(
    "corpus_sample_documents",
    (s, dir) => graft.pipeline.Sampling.stratifiedHead(
        Tables.load(s, dir, "documents"), Seq("lang"), "doc_id", quota = 40)
      .select("doc_id", "lang", "source")
      .orderBy("lang", "doc_id"),
    Some("SELECT doc_id, lang, source FROM (" +
      "SELECT doc_id, lang, source, ROW_NUMBER() OVER (" +
      "PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn " +
      "FROM documents) WHERE rn <= 40 ORDER BY lang, doc_id"))

  /** Corpus-wide uniform deterministic sample
    * ([[graft.pipeline.Sampling.uniformHead]]): the first 100 docs in
    * md5(doc_id) order — the reproducible reservoir-sampling stand-in
    * (TakeOrderedAndProject plan: per-partition top-k heaps, never a
    * corpus sort; SamplingSpec pins the plan shape). Complements the
    * per-stratum quota form above.
    */
  private def sampleUniformQuery = QueryDef(
    "corpus_sample_uniform_documents",
    (s, dir) => graft.pipeline.Sampling.uniformHead(
        Tables.load(s, dir, "documents")
          .select("doc_id", "source", "n_chars"),
        "doc_id", k = 100)
      .orderBy("doc_id"),
    Some("SELECT doc_id, source, n_chars FROM (" +
      "SELECT doc_id, source, n_chars FROM documents " +
      "ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT 100) " +
      "ORDER BY doc_id"))

  /** Vocabulary coverage ([[Vocab]]): top-50 corpus tokens with exact
    * cumulative share — the tokenizer-sizing curve. Ranks and shares
    * are deterministic under the (count desc, token asc) total order;
    * cum_share is an exact-integer division, bit-equal across engines.
    */
  private def vocabQuery = QueryDef(
    "text_vocab_documents",
    (s, dir) => Vocab.coverage(
        Tables.load(s, dir, "documents", parallelize = true),
        "text", topV = 50)
      .orderBy("rank"),
    Some(s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
      "tok AS (SELECT unnest(t) AS token FROM toks), " +
      "c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1), " +
      "r AS (SELECT token, cnt, ROW_NUMBER() OVER " +
      "(ORDER BY cnt DESC, token) AS rank, " +
      "SUM(cnt) OVER (ORDER BY cnt DESC, token ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW) AS cum, SUM(cnt) OVER () AS total " +
      "FROM c) " +
      "SELECT rank, token, cnt, CAST(cum AS DOUBLE) / total AS cum_share " +
      "FROM r WHERE rank <= 50 ORDER BY rank"))

  /** Unigram-LM quality scores ([[LmScore.score]]): mean corpus
    * relative-frequency per document over the top-64 vocabulary. All
    * operands are exact longs; the single trailing IEEE division tree
    * is mirrored verbatim, so the 500 per-doc rows hash EXACT.
    */
  private def lmScoreQuery = QueryDef(
    "text_lm_score_documents",
    (s, dir) => LmScore.score(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", topV = 64)
      .orderBy("doc_id"),
    Some(s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
      "tok AS (SELECT doc_id, unnest(t) AS token FROM toks), " +
      "c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1), " +
      "v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 64), " +
      "tot AS (SELECT sum(cnt) AS total FROM c), " +
      "per AS (SELECT tk.doc_id, count(*) AS n_tokens, " +
      "count(v.cnt) AS in_vocab, " +
      "CAST(coalesce(sum(v.cnt), 0) AS BIGINT) AS sum_cnt " +
      "FROM tok tk LEFT JOIN v USING (token) GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens, " +
      "coalesce(in_vocab, 0) AS in_vocab, " +
      "coalesce(sum_cnt, 0) AS sum_cnt, " +
      "CASE WHEN coalesce(n_tokens, 0) = 0 THEN NULL " +
      "ELSE CAST(sum_cnt AS DOUBLE) / " +
      "(CAST(n_tokens AS DOUBLE) * CAST(total AS DOUBLE)) END AS lm_score " +
      "FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot " +
      "ORDER BY doc_id"))

  /** Quality-score bucketing — the CCNet move: score every document
    * with the unigram LM ([[LmScore]]), cut the corpus into score
    * DECILES, and roll each bucket up (docs, tokens, score range/mean)
    * so curation can keep/resample buckets instead of hand-picking
    * thresholds. Composition of two proven operators: the LM score is
    * deterministic IEEE (bit-equal both engines), the decile cuts come
    * from the PROFILER's distributed exact interpolated quantiles
    * (bucket-count selection — never a corpus sort in one task),
    * rounded to 4dp before the strict-< comparison (the Binning
    * determinism recipe; scores are ×1000-scaled first so 4dp carries
    * real resolution on the narrow LM-score range). Docs with no
    * tokens take a NULL bucket row — nothing is dropped.
    */
  private def qualityBucketsQuery = QueryDef(
    "corpus_quality_buckets_documents",
    (s, dir) => {
      val scores = LmScore.score(
          Tables.load(s, dir, "documents", parallelize = true),
          "doc_id", "text", topV = 64)
        .select(col("doc_id"), col("n_tokens"),
          (col("lm_score") * 1000).as("q"))
        .localCheckpoint(true) // feeds the cut estimate AND the binning
      val ps = (1 to 9).map(_ / 10.0)
      val names = ps.indices.map(i => s"c$i")
      val cuts = graft.profile.Profiler
        .quantiles(scores, Seq("q"), ps, names)
        .select(array(names.map(n => round(col(n), 4)): _*).as("__cuts"))
      scores.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("q").isNull, lit(null).cast("int"))
            .otherwise((size(filter(col("__cuts"),
              c => c < col("q"))) + 1).cast("int")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("q")).as("lo"), max(col("q")).as("hi"),
          round(sum(col("q").cast("decimal(38,12)")).cast("double") /
            count(col("q")), 6).as("mean_q"))
        .orderBy(col("bucket").asc_nulls_first)
    },
    Some(
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        "tok AS (SELECT doc_id, unnest(t) AS token FROM toks), " +
        "c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1), " +
        "v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token " +
        "LIMIT 64), " +
        "tot AS (SELECT sum(cnt) AS total FROM c), " +
        "per AS (SELECT tk.doc_id, count(*) AS n_tokens, " +
        "CAST(coalesce(sum(v.cnt), 0) AS BIGINT) AS sum_cnt " +
        "FROM tok tk LEFT JOIN v USING (token) GROUP BY 1), " +
        "sc AS (SELECT d.doc_id, " +
        "CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CASE WHEN coalesce(n_tokens, 0) = 0 THEN NULL " +
        "ELSE CAST(sum_cnt AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * " +
        "CAST(total AS DOUBLE)) * 1000 END AS q " +
        "FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot), " +
        "cuts AS (SELECT list_transform(quantile_cont(q, " +
        "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]), " +
        "x -> round(x, 4)) AS cs FROM sc), " +
        "b AS (SELECT doc_id, n_tokens, q, CASE WHEN q IS NULL THEN " +
        "NULL ELSE CAST(len(list_filter(cs, c -> c < q)) + 1 AS INT) " +
        "END AS bucket FROM sc CROSS JOIN cuts) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "min(q) AS lo, max(q) AS hi, " +
        "round(CAST(sum(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / " +
        "count(q), 6) AS mean_q FROM b GROUP BY 1 " +
        "ORDER BY bucket NULLS FIRST"))

  /** Per-doc salient terms ([[TermSalience]]): TF-IDF-shaped ranking in
    * exact integer arithmetic — (tf DESC, df ASC, term ASC) — so the
    * oracle replays it verbatim (idf = log(N/df) is monotone in df, so
    * the rankings agree while the hash stays libm-free).
    */
  private def termsQuery = QueryDef(
    "text_topterms_documents",
    (s, dir) => TermSalience.topTerms(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text")
      .orderBy("doc_id", "rank"),
    Some {
      val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        "terms AS (SELECT doc_id, unnest(t) AS term FROM toks), " +
        "q AS (SELECT doc_id, term FROM terms WHERE length(term) >= 3 " +
        s"AND term NOT IN ($stop)), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1) " +
        "SELECT doc_id, term, tf, df, rank FROM (SELECT tf.doc_id, " +
        "tf.term, tf.tf, df.df, row_number() OVER (PARTITION BY tf.doc_id " +
        "ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank " +
        "FROM tf JOIN df USING (term)) WHERE rank <= 3 " +
        "ORDER BY doc_id, rank"
    })

  /** Deterministic shuffle-sharding: reproducible (shard, position) per
    * document via seeded md5 sort keys (see [[graft.pipeline.Sharding]]).
    * Oracle recomputes key, nibble-fold shard, and per-shard rank
    * natively, so the hash pins the whole training-order assignment.
    */
  private def shardQuery = QueryDef(
    "corpus_shard_documents",
    (s, dir) => graft.pipeline.Sharding.assignments(
        Tables.load(s, dir, "documents"), "doc_id")
      .orderBy("shard", "shard_pos"),
    Some("SELECT doc_id, sort_key, " +
      "((strpos('0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(sort_key, 2, 1)) - 1)) % 16 " +
      "AS shard, ROW_NUMBER() OVER (PARTITION BY ((strpos(" +
      "'0123456789abcdef', substr(sort_key, 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(sort_key, 2, 1)) - 1)) % 16 " +
      "ORDER BY sort_key) AS shard_pos FROM (SELECT doc_id, " +
      "md5('42:' || doc_id::VARCHAR) AS sort_key FROM documents) " +
      "ORDER BY shard, shard_pos"))

  /** Deterministic train/val/test split + duplicate-leakage audit
    * ([[graft.pipeline.CorpusSplit]]): seeded-md5 split assignment
    * (hex-prefix cut points — string order IS numeric order) and the
    * per-split report of documents whose bag-of-words fingerprint also
    * occurs in another split (train→eval contamination). Oracle replays
    * assignment, fingerprint, straddle detection and both fractions.
    */
  private def splitQuery = QueryDef(
    "corpus_split_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      val assigned = graft.pipeline.CorpusSplit.assign(docs, "doc_id")
        .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      graft.pipeline.CorpusSplit.leakageAudit(assigned, "__fp")
    },
    Some {
      val fpSql = "md5(array_to_string(list_sort(list_distinct(" +
        "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        "ELSE regexp_split_to_array(trim(text), '\\s+') END)), ' '))"
      val seed = graft.pipeline.CorpusSplit.DefaultSeed
      s"WITH a AS (SELECT CASE WHEN substring(md5('$seed:' || " +
        s"doc_id::VARCHAR), 1, 4) < '${graft.pipeline.CorpusSplit.TrainCut}' " +
        s"THEN 'train' WHEN substring(md5('$seed:' || doc_id::VARCHAR), " +
        s"1, 4) < '${graft.pipeline.CorpusSplit.ValCut}' THEN 'val' " +
        s"ELSE 'test' END AS split, $fpSql AS fp FROM documents), " +
        "fs AS (SELECT fp, split, count(*) AS docs FROM a GROUP BY 1, 2), " +
        "pf AS (SELECT fp, count(*) AS n_splits FROM fs GROUP BY 1), " +
        "r AS (SELECT split, sum(docs) AS n_docs, count(*) AS " +
        "n_fingerprints, sum(CASE WHEN n_splits >= 2 THEN docs ELSE 0 " +
        "END) AS leaked_docs FROM fs JOIN pf USING (fp) GROUP BY 1), " +
        "t AS (SELECT sum(n_docs) AS total FROM r) " +
        "SELECT split, n_docs::BIGINT AS n_docs, n_fingerprints, " +
        "leaked_docs::BIGINT AS leaked_docs, " +
        "CAST(leaked_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS " +
        "leak_frac, CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS " +
        "split_frac FROM r, t ORDER BY split"
    })

  /** Surgical span-level decontamination ([[Decontam.scrubSpans]]): the
    * same corpus/eval split as the overlap report, but eval-overlapping
    * WINDOWS are removed and the text rebuilt rather than the document
    * dropped. Oracle replays windows → hit coverage → anti-joined token
    * stream → rejoined md5 natively, so one hash pins the whole scrub.
    */
  private def scrubSpansQuery = QueryDef(
    "decontam_scrub_spans_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      Decontam.scrubSpans(
          docs.filter(col("doc_id") % 100 >= 5),
          docs.filter(col("doc_id") % 100 < 5),
          "doc_id", "text", DecontamN)
        .orderBy("doc_id")
    },
    Some {
      val toks = tokensSql
      "WITH toks AS (SELECT doc_id, " + toks + " AS t FROM documents), " +
        "base AS (SELECT doc_id, t, len(t)::BIGINT AS n_tokens FROM toks " +
        "WHERE doc_id % 100 >= 5), " +
        "ebase AS (SELECT t FROM toks WHERE doc_id % 100 < 5), " +
        "evalg AS (SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS g " +
        "FROM (SELECT t, unnest(generate_series(1, " +
        "greatest(len(t) - 4, 1))) AS i FROM ebase WHERE len(t) > 0)), " +
        "spans AS (SELECT doc_id, n_tokens, i - 1 AS pos, " +
        "array_to_string(t[i:i+4], ' ') AS g FROM (SELECT doc_id, " +
        "n_tokens, t, unnest(generate_series(1, greatest(len(t) - 4, 1)))" +
        " AS i FROM base WHERE len(t) > 0)), " +
        "hits AS (SELECT s.doc_id, s.pos, s.n_tokens FROM spans s " +
        "JOIN evalg USING (g)), " +
        "cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, " +
        "least(pos + 4, n_tokens - 1))) AS p FROM hits), " +
        "tk AS (SELECT doc_id, u['i'] - 1 AS pos, u['tok'] AS tok FROM " +
        "(SELECT doc_id, unnest(list_transform(generate_series(1, " +
        "len(t)), i -> {'i': i, 'tok': t[i]})) AS u FROM base)), " +
        "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk LEFT JOIN cov " +
        "ON tk.doc_id = cov.doc_id AND tk.pos = cov.p WHERE cov.p IS " +
        "NULL), " +
        "ka AS (SELECT doc_id, count(*) AS kept_tokens, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS m FROM kept " +
        "GROUP BY 1) " +
        "SELECT b.doc_id, b.n_tokens, coalesce(ka.kept_tokens, 0) AS " +
        "kept_tokens, b.n_tokens - coalesce(ka.kept_tokens, 0) AS " +
        "removed_tokens, coalesce(ka.m, md5('')) AS clean_md5 " +
        "FROM base b LEFT JOIN ka USING (doc_id) ORDER BY doc_id"
    })

  /** Benchmark decontamination: corpus docs (doc_id % 100 ≥ 5) sharing
    * any word 5-gram with the held-out eval slice (doc_id % 100 < 5).
    * The eval gram set is broadcast (see [[Decontam]]) — matching is a
    * map-side probe, the only shuffle is the groupBy over MATCHED grams.
    */
  private val DecontamN = 5

  private def decontamQuery = QueryDef(
    "decontam_overlap_documents",
    (s, dir) => withDecontamGrams(s, dir)((corpusGrams, evalGrams) =>
      Decontam.overlapReportFromArrays(corpusGrams, evalGrams, "doc_id")
        .orderBy("doc_id")),
    Some(decontamOverlapOracleSql))

  /** `report(corpusGrams, evalGrams)` over the [[DecontamN]]-gram
    * arrays of the corpus (`doc_id % 100 >= 5`) and eval (`< 5`)
    * slices of `documents`. The report is contamination-sized, so it
    * is localized and the grams released before returning.
    */
  private def withDecontamGrams(s: SparkSession, dir: String)(
      report: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.load(s, dir, "documents", parallelize = true)
    withGrams(docs, docs.filter(col("doc_id") % 100 >= 5))(
      (c, e) => Frames.localized(report(c, e)))
  }

  /** `f(corpusGrams, evalGrams)` over the cached [[DecontamN]]-gram
    * arrays of `corpus` and of the eval slice (`doc_id % 100 < 5`) of
    * `docs`, cached per the docGramArrays contract (the explode must
    * read a materialized array column) and released when `f` returns.
    */
  private def withGrams[T](docs: DataFrame, corpus: DataFrame)(
      f: (DataFrame, DataFrame) => T): T = {
    def grams(df: DataFrame) =
      Decontam.docGramArrays(df, "doc_id", "text", DecontamN)
    Frames.cached(grams(corpus)) { c =>
      Frames.cached(grams(docs.filter(col("doc_id") % 100 < 5)))(f(c, _))
    }
  }

  /** Eval-item exposure ([[Decontam.exposureReportFromArrays]] — the
    * reverse view of the overlap report): per eval document, the
    * distinct grams found anywhere in the corpus and the distinct
    * corpus docs carrying them. Same split and gram grammar as the
    * forward lane, so the two reports describe ONE contamination
    * surface from both sides.
    */
  private def decontamExposureQuery = QueryDef(
    "decontam_exposure_documents",
    (s, dir) => withDecontamGrams(s, dir)((corpusGrams, evalGrams) =>
      Decontam.exposureReportFromArrays(evalGrams, corpusGrams, "doc_id")
        .orderBy("doc_id")),
    Some {
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        s"ga AS (SELECT doc_id, $decontamGramsSql AS gs FROM toks), " +
        "evg AS (SELECT doc_id, unnest(gs) AS g FROM ga " +
        "WHERE doc_id % 100 < 5), " +
        "cg AS (SELECT doc_id AS cid, unnest(gs) AS g FROM ga " +
        "WHERE doc_id % 100 >= 5), " +
        "hit AS (SELECT e.doc_id, " +
        "CAST(count(DISTINCT e.g) AS BIGINT) AS matched_grams, " +
        "CAST(count(DISTINCT c.cid) AS BIGINT) AS exposed_docs " +
        "FROM evg e JOIN cg c ON e.g = c.g GROUP BY 1) " +
        "SELECT ga.doc_id, CAST(len(gs) AS INT) AS n_grams, " +
        "CAST(coalesce(hit.matched_grams, 0) AS BIGINT) " +
        "AS matched_grams, " +
        "CAST(coalesce(hit.exposed_docs, 0) AS BIGINT) " +
        "AS exposed_docs, " +
        "CAST(coalesce(hit.matched_grams, 0) AS DOUBLE) / " +
        "greatest(len(gs), 1) AS exposure_frac " +
        "FROM ga LEFT JOIN hit ON ga.doc_id = hit.doc_id " +
        "WHERE ga.doc_id % 100 < 5 ORDER BY ga.doc_id"
    })

  /** The decontamination overlap report as DuckDB SQL (corpus =
    * `doc_id % 100 >= 5`, eval = `< 5`, [[DecontamN]]-grams) — shared
    * by the batch lane and the streaming twin
    * ([[graft.streaming.StreamingQueries]]): the per-doc report
    * depends only on (doc, eval set), so a micro-batched drain equals
    * the batch operator under ANY cut and this one oracle pins both.
    */
  private[graft] def decontamOverlapOracleSql: String =
    "WITH " + decontamGramCtes +
      "tot AS (SELECT doc_id, count(*) AS total_grams FROM grams " +
      "WHERE doc_id % 100 >= 5 GROUP BY doc_id), " +
      "hits AS (SELECT doc_id, count(*) AS matched_grams FROM grams " +
      "WHERE doc_id % 100 >= 5 AND g IN (SELECT g FROM ev) " +
      "GROUP BY doc_id) " +
      "SELECT h.doc_id, h.matched_grams, t.total_grams, " +
      "h.matched_grams::DOUBLE / t.total_grams AS contamination_ratio " +
      "FROM hits h JOIN tot t USING (doc_id) ORDER BY doc_id"

  /** The distinct [[DecontamN]]-grams of token list `t` as a DuckDB
    * list ([[Decontam.docGramArrays]]).
    */
  private def decontamGramsSql: String = {
    val n = DecontamN
    "list_distinct(CASE WHEN len(t) = 0 THEN []::VARCHAR[] " +
      s"WHEN len(t) <= $n THEN [array_to_string(t, ' ')] " +
      s"ELSE list_transform(range(1, len(t) - ${n - 2}), " +
      s"i -> array_to_string(t[i:i+${n - 1}], ' ')) END)"
  }

  /** CTEs `toks` → `grams(doc_id, g)` → `ev(g)`: every document's
    * distinct grams and the eval slice's gram set.
    */
  private def decontamGramCtes: String =
    s"toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
      s"grams AS (SELECT doc_id, unnest($decontamGramsSql) AS g " +
      "FROM toks), " +
      "ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 < 5), "

  /** [[DecontamN]] for the streaming twin's lane. */
  private[graft] def decontamN: Int = DecontamN

  /** Gopher-style repetition filter signals (duplicate-bigram fraction +
    * top-bigram mass) — both raw IEEE divisions of exact integer counts,
    * so the oracle comparison is bit-exact; the pass gate compares those
    * identical doubles on both engines.
    */
  private def repetitionQuery = QueryDef(
    "text_repetition_documents",
    (s, dir) => TextAnalysis
      .withRepetition(
        Tables.load(s, dir, "documents", parallelize = true), "text")
      .select("doc_id", "n_bigrams", "dup_bigram_ratio",
        "top_bigram_mass", "pass_repetition")
      .orderBy("doc_id"),
    Some {
      val bi = s"CASE WHEN len(t) < 2 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(1, len(t)), " +
        "i -> array_to_string(t[i:i+1], ' ')) END"
      val dup = "CASE WHEN len(bi) = 0 THEN 0.0 " +
        "ELSE 1.0 - len(list_distinct(bi))::DOUBLE / len(bi) END"
      val mass = "CASE WHEN len(bi) = 0 THEN 0.0 " +
        "ELSE list_max(list_transform(list_distinct(bi), " +
        "x -> len(list_filter(bi, y -> y = x))))::DOUBLE / len(bi) END"
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        s"g AS (SELECT doc_id, $bi AS bi FROM toks) " +
        "SELECT doc_id, len(bi) AS n_bigrams, " +
        s"$dup AS dup_bigram_ratio, $mass AS top_bigram_mass, " +
        s"CASE WHEN ($dup) <= ${TextAnalysis.MaxDupBigramRatio} " +
        s"AND (len(bi) < ${TextAnalysis.MinBigramsForMassGate} " +
        s"OR ($mass) <= ${TextAnalysis.MaxTopBigramMass}) " +
        "THEN 1 ELSE 0 END AS pass_repetition " +
        "FROM g ORDER BY doc_id"
    })

  /** Sequence packing ([[graft.pipeline.Packing]]): documents → 512-token
    * packs within 16 hash shards. 512 is a power of two, so the
    * pack-index division is exact in IEEE arithmetic on both engines and
    * the floor assignment hash-matches bit-for-bit.
    */
  private val PackBudget = 512

  private def packQuery = QueryDef(
    "corpus_pack_documents",
    (s, dir) => graft.pipeline.Packing.packs(
        TextAnalysis.withStats(
          Tables.load(s, dir, "documents", parallelize = true), "text")
          .select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = PackBudget)
      .orderBy("shard", "pack_id"),
    Some(
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        "d AS (SELECT doc_id::VARCHAR AS id, len(t)::BIGINT AS n, " +
        "substring(md5(doc_id::VARCHAR), 1, 1) AS shard FROM toks), " +
        "c AS (SELECT shard, id, n, SUM(n) OVER (PARTITION BY shard " +
        "ORDER BY md5(id), id ROWS UNBOUNDED PRECEDING) AS cum FROM d) " +
        s"SELECT shard, CAST(floor((cum - n) / $PackBudget) AS BIGINT) " +
        "AS pack_id, COUNT(*) AS n_docs, SUM(n)::BIGINT AS pack_tokens " +
        "FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id"))

  /** Decontamination composed into the corpus pass: curate (quality/
    * lang/token gates, excluding the eval slice) → drop docs with ≥ 10%
    * of their 5-grams in the eval set → exact dedup → summary. One hash
    * verifies the full composition, including the broadcast gram probe
    * and the threshold boundary (the ratio is an IEEE division of exact
    * integer counts on both engines).
    */
  private val ContamThreshold = 0.1

  private def decontamPipelineQuery = QueryDef(
    "corpus_decontam_pipeline_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      // cached: read by the gram builder AND the final anti-join/dedup
      // (withStats is the expensive full-text pass — don't run it twice)
      Frames.cached(TextAnalysis.withStats(docs, "text")
          .select("doc_id", "text", "n_tokens", "quality_score", "lang_id")
          .filter(col("quality_score") >= 0.75 && col("lang_id") === "en" &&
            col("n_tokens").between(20, 2000) &&
            col("doc_id") % 100 >= 5)) { curated =>
        withGrams(docs, curated) { (corpusGrams, evalGrams) =>
          val contaminated = Decontam
            .overlapReportFromArrays(corpusGrams, evalGrams, "doc_id")
            .filter(col("contamination_ratio") >= ContamThreshold)
            .select("doc_id")
          // exact dedup keyed on md5(text), not text: the group-by key
          // is what shuffles, and 32 hex chars beat whole documents by
          // orders of magnitude at corpus scale (the oracle groups on
          // raw text — identical result, 128-bit collisions aside)
          val deduped = curated
            .join(contaminated, Seq("doc_id"), "left_anti")
            .groupBy(md5(col("text").cast("binary")).as("__k"))
            .agg(min("doc_id").as("doc_id"), min("n_tokens").as("n_tokens"))
          Frames.localized(
            deduped.agg(count(lit(1)).as("kept_docs"),
              sum("n_tokens").as("kept_tokens")))
        }
      }
    },
    Some(
      s"WITH s AS ($statsBody), " +
        curatedCte("s", extra = " AND s.doc_id % 100 >= 5") +
        decontamGramCtes +
        "cg AS (SELECT g.doc_id, g.g FROM grams g " +
        "JOIN curated c ON g.doc_id = c.doc_id), " +
        "tot AS (SELECT doc_id, count(*) AS total FROM cg GROUP BY 1), " +
        "hits AS (SELECT doc_id, count(*) AS matched FROM cg " +
        "WHERE g IN (SELECT g FROM ev) GROUP BY 1), " +
        "contaminated AS (SELECT h.doc_id FROM hits h " +
        "JOIN tot t USING (doc_id) " +
        s"WHERE h.matched::DOUBLE / t.total >= $ContamThreshold), " +
        "clean AS (SELECT * FROM curated WHERE doc_id NOT IN " +
        "(SELECT doc_id FROM contaminated)), " +
        "deduped AS (SELECT text, MIN(doc_id) AS doc_id, " +
        "MIN(n_tokens) AS n_tokens FROM clean GROUP BY text) " +
        "SELECT COUNT(*) AS kept_docs, " +
        "SUM(n_tokens)::BIGINT AS kept_tokens FROM deduped"))

  /** Document chunking ([[Chunking]]): 32-token windows, 8-token overlap
    * (stride 24). Both engines compute chunk counts in exact integer
    * arithmetic and slice the same materialized token arrays, so the
    * chunk texts hash-match verbatim.
    */
  private val ChunkSize = 32
  private val ChunkOverlap = 8

  private def chunkQuery = QueryDef(
    "corpus_chunk_documents",
    (s, dir) => Chunking.chunk(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", ChunkSize, ChunkOverlap)
      .orderBy("doc_id", "chunk_idx"),
    Some {
      val stride = ChunkSize - ChunkOverlap
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        "c AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN []::BIGINT[] " +
        "ELSE range(0, greatest(1, CAST(floor(" +
        s"(len(t) - $ChunkOverlap + ${stride - 1})::DOUBLE / $stride) " +
        "AS BIGINT))) END AS idxs FROM toks), " +
        "x AS (SELECT doc_id, t, unnest(idxs) AS i FROM c) " +
        s"SELECT doc_id, i AS chunk_idx, " +
        s"len(t[1 + i*$stride : i*$stride + $ChunkSize])::BIGINT " +
        "AS chunk_n_tokens, " +
        s"array_to_string(t[1 + i*$stride : i*$stride + $ChunkSize], ' ') " +
        "AS chunk_text FROM x ORDER BY doc_id, chunk_idx"
    })

  /** Domain mixing ([[graft.pipeline.Mixing]]): each source contributes
    * documents in md5(doc_id) order until its 600-token budget is
    * exhausted (overflow-by-one greedy, same convention as packing).
    * Exact integer cumsum on both engines → verbatim hash match.
    */
  private val MixBudget = 600L

  /** `documents` as the mixing lanes' (doc_id, source, n_tokens). */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents", parallelize = true)
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))

  /** The mixing oracles' `toks(doc_id, source, n)` CTE. */
  private def mixToksSql: String =
    s"toks AS (SELECT doc_id, source, len($tokensSql)::BIGINT " +
      "AS n FROM documents), "

  /** The mixing oracles' last CTE, `c`: each doc's running token sum
    * within its source in md5(doc_id) order.
    */
  private def mixCumSql: String =
    "c AS (SELECT doc_id, source, n, SUM(n) OVER (" +
      "PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM toks) "

  private def mixQuery = QueryDef(
    "corpus_mix_documents",
    (s, dir) => graft.pipeline.Mixing.byTokenBudget(
        docTokens(s, dir), "source", "doc_id", "n_tokens",
        budgets = Map.empty, defaultBudget = MixBudget)
      .select("source", "doc_id", "n_tokens")
      .orderBy("source", "doc_id"),
    Some(
      "WITH " + mixToksSql + mixCumSql +
        "SELECT source, doc_id, n AS n_tokens FROM c " +
        s"WHERE cum - n < $MixBudget ORDER BY source, doc_id"))

  private val TempBudget = 12000L

  /** Temperature-scaled mixing
    * ([[graft.pipeline.Mixing.byTemperatureT2]]): per-source targets ∝
    * sqrt(source tokens) of a 12k-token total — the multilingual
    * rebalancing recipe with the one libm-free exponent, so the oracle
    * replays sqrt-mass → exact-DECIMAL normalizer → floor targets →
    * md5-order greedy selection verbatim. Small sources get a LARGER
    * share than their natural proportion (spec-pinned).
    */
  private def mixTemperatureQuery = QueryDef(
    "corpus_mix_temperature_documents",
    (s, dir) => graft.pipeline.Mixing.byTemperatureT2(
        docTokens(s, dir), "source", "doc_id", "n_tokens", totalTokens = TempBudget)
      .select("source", "doc_id", "n_tokens")
      .orderBy("source", "doc_id"),
    Some(
      "WITH " + mixToksSql +
        "s AS (SELECT source, CAST(sum(n) AS BIGINT) AS stok " +
        "FROM toks GROUP BY 1), " +
        "z AS (SELECT CAST(sum(CAST(sqrt(stok) AS DECIMAL(38,12))) " +
        "AS DOUBLE) AS zsum FROM s), " +
        "t AS (SELECT source, CAST(floor(" +
        s"CAST($TempBudget AS DOUBLE) * sqrt(stok) / zsum) AS BIGINT) " +
        "AS target FROM s CROSS JOIN z), " +
        mixCumSql +
        "SELECT c.source, c.doc_id, c.n AS n_tokens FROM c " +
        "JOIN t USING (source) WHERE cum - n < target " +
        "ORDER BY source, doc_id"))

  /** Proportional mixing ([[graft.pipeline.Mixing.byWeights]]): budgets
    * derived as weight fractions of a 1000-token total over a
    * non-divisible weight vector {3, 1.5, 1.5, 1} (norm 7), so
    * `math.round` lands both up (1000·3/7 = 428.57 → 429, 1000/7 =
    * 142.86 → 143) and down (1000·1.5/7 = 214.29 → 214). The oracle
    * inlines those budgets as HAND-DERIVED literals — if the Scala
    * weight→budget derivation drifted, the selection would hash-mismatch.
    * Unlisted sources get weight 0 (excluded), pinning the
    * list-every-source contract.
    */
  private val MixWeights = Map(
    "src0" -> 3.0, "src1" -> 1.5, "src2" -> 1.5, "src3" -> 1.0)
  private val MixWeightTotal = 1000L

  private def mixWeightedQuery = QueryDef(
    "corpus_mix_weighted_documents",
    (s, dir) => graft.pipeline.Mixing.byWeights(
        docTokens(s, dir), "source", "doc_id", "n_tokens",
        weights = MixWeights, totalTokens = MixWeightTotal)
      .select("source", "doc_id", "n_tokens")
      .orderBy("source", "doc_id"),
    Some(
      "WITH " + mixToksSql + mixCumSql +
        "SELECT source, doc_id, n AS n_tokens FROM c " +
        "WHERE cum - n < CASE source " +
        "WHEN 'src0' THEN 429 WHEN 'src1' THEN 214 " +
        "WHEN 'src2' THEN 214 WHEN 'src3' THEN 143 ELSE 0 END " +
        "ORDER BY source, doc_id"))

  /** BM25 ranked retrieval ([[Bm25]]) for a three-term query (one rare
    * term, two common) — the oracled rational-idf form, where every
    * double is one correctly-rounded IEEE division of exact integers,
    * so the SCORES hash-compare bit-identically (not just the ranking).
    * The oracle mirrors the expression tree term by term.
    */
  /** The BM25 rational-idf oracle's CTE chain up to `scored(doc_id,
    * score)` — shared with the hybrid-retrieval lane
    * ([[graft.sim.SimilarityQueries]]), which fuses the same sparse
    * ranking with a dense one.
    */
  private[graft] def bm25ScoredCtes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val tfCols = terms.map(t =>
      s"max(CASE WHEN term = '$t' THEN tf END) AS tf_$t").mkString(", ")
    val dfCols = terms.map(t =>
      s"max(CASE WHEN term = '$t' THEN df END) AS df_$t").mkString(", ")
    val scoreSum = terms.map { t =>
      s"CASE WHEN tf_$t IS NOT NULL AND df_$t IS NOT NULL THEN " +
        s"(CAST(2 * n - 2 * df_$t + 1 AS DOUBLE) / " +
        s"CAST(2 * df_$t + 1 AS DOUBLE)) * " +
        s"(CAST(22 * d_total * tf_$t AS DOUBLE) / " +
        s"CAST(10 * d_total * tf_$t + 3 * d_total + 9 * dl * n " +
        "AS DOUBLE)) ELSE 0.0 END"
    }.mkString(" + ")
    s"toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
      "b AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM toks), " +
      "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) " +
      "AS d_total FROM b), " +
      "tr AS (SELECT doc_id, dl, unnest(t) AS term FROM b), " +
      "tfr AS (SELECT doc_id, dl, term, count(*) AS tf FROM tr " +
      s"WHERE term IN ($inList) GROUP BY 1, 2, 3), " +
      s"piv AS (SELECT doc_id, dl, $tfCols FROM tfr GROUP BY 1, 2), " +
      s"dfs AS (SELECT $dfCols FROM (SELECT term, " +
      "count(DISTINCT doc_id) AS df FROM tfr GROUP BY 1)), " +
      "scored AS (SELECT doc_id, " + scoreSum + " AS score " +
      "FROM piv CROSS JOIN stats CROSS JOIN dfs)"
  }

  private def bm25Query = QueryDef(
    "text_bm25_documents",
    (s, dir) => Bm25.rank(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", Bm25GateTerms, k = 10, rationalIdf = true)
      .orderBy("rank"),
    Some("WITH " + bm25ScoredCtes(Bm25GateTerms) +
      " SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) " +
      "AS BIGINT) AS rank, doc_id, score FROM scored " +
      "ORDER BY score DESC, doc_id LIMIT 10"))

  /** One rare term (`dup`: df ~ 5% of docs) and two common ones — the
    * spread that makes idf weighting visible in the gate result.
    */
  private[graft] val Bm25GateTerms = Seq("dup", "window", "scan")

  /** Collocation extraction ([[Collocations.topBigrams]]): top-100
    * adjacent-pair lifts at `pair_count >= 5`. The lift division tree is
    * mirrored verbatim in the SQL — every operand an exact long — so the
    * doubles are bit-identical (`ln` of the lift would be libm and is
    * deliberately not emitted; see the module scaladoc).
    */
  private def collocationsQuery = QueryDef(
    "text_collocations_documents",
    (s, dir) => Collocations.topBigrams(
        Tables.load(s, dir, "documents", parallelize = true), "text",
        minCount = 5, k = 100)
      .orderBy(col("lift").desc, col("w1"), col("w2")),
    Some(s"""WITH t AS (SELECT $tokensSql AS toks FROM documents),
           |tok AS (SELECT unnest(toks) AS w FROM t),
           |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT sum(len(toks))::BIGINT AS t_tokens,
           |    sum(greatest(len(toks) - 1, 0))::BIGINT AS n_pairs FROM t),
           |idx AS (SELECT toks, unnest(generate_series(1, len(toks) - 1))
           |    AS i FROM t WHERE len(toks) >= 2),
           |pairs AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
           |big AS (SELECT w1, w2, count(*) AS pair_count FROM pairs
           |    GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT w1, w2, pair_count, u1.c AS w1_count, u2.c AS w2_count,
           |  (CAST(pair_count AS DOUBLE) / CAST(n_pairs AS DOUBLE)) /
           |  ((CAST(u1.c AS DOUBLE) / CAST(t_tokens AS DOUBLE)) *
           |   (CAST(u2.c AS DOUBLE) / CAST(t_tokens AS DOUBLE))) AS lift
           |FROM big JOIN uni u1 ON big.w1 = u1.w
           |  JOIN uni u2 ON big.w2 = u2.w CROSS JOIN tot
           |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin
      .replace("\n", " ")))

  /** Boilerplate removal ([[Boilerplate.removeCommonLines]]): the corpus
    * is single-line synthetic text, so the gate lane INJECTS the
    * structure templates actually have (the `events_retention_cohorts`
    * precedent): a 100%-of-source header and footer (must go), a
    * 25%-of-source promo line (must SURVIVE minFrac 0.5 — the
    * discrimination), and a per-doc unique tail (must survive), all
    * replayed verbatim in the oracle.
    */
  private def boilerplateQuery = QueryDef(
    "text_boilerplate_documents",
    (s, dir) => Boilerplate.removeCommonLines(
        Tables.load(s, dir, "documents", parallelize = true)
          .withColumn("text", concat(
            lit("header "), col("source"), lit("\n"),
            when(col("doc_id") % 4 === 0,
              concat(lit("promo "), col("source"), lit("\n")))
              .otherwise(lit("")),
            col("text"), lit("\n"),
            lit("footer "), col("source"), lit("\n"),
            lit("tail "), col("doc_id").cast("string"))),
        "doc_id", "source", "text", minFrac = 0.5, minDocs = 2)
      .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, source,
           |    'header ' || source || chr(10) ||
           |    CASE WHEN doc_id % 4 = 0
           |      THEN 'promo ' || source || chr(10) ELSE '' END ||
           |    text || chr(10) || 'footer ' || source || chr(10) ||
           |    'tail ' || CAST(doc_id AS VARCHAR) AS text FROM documents),
           |ls AS (SELECT doc_id, source, string_split(text, chr(10))
           |    AS lines FROM d),
           |li AS (SELECT doc_id, source, lines,
           |    unnest(generate_series(1, len(lines))) AS pos FROM ls),
           |l AS (SELECT doc_id, source, lines[pos] AS line, pos FROM li),
           |ss AS (SELECT source, count(DISTINCT doc_id) AS src_docs
           |    FROM d GROUP BY 1),
           |lf AS (SELECT source, line, count(*) AS docs FROM
           |    (SELECT DISTINCT source, line, doc_id FROM l) GROUP BY 1, 2),
           |bp AS (SELECT lf.source, lf.line FROM lf JOIN ss
           |    ON lf.source = ss.source
           |    WHERE docs >= greatest(2, CAST(ceil(src_docs * 0.5)
           |      AS BIGINT))),
           |f AS (SELECT l.doc_id, l.source, l.pos, l.line,
           |    bp.line IS NOT NULL AS is_bp FROM l LEFT JOIN bp
           |    ON l.source = bp.source AND l.line = bp.line)
           |SELECT doc_id, source, count(*) AS n_lines,
           |  CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_removed,
           |  coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
           |    chr(10) ORDER BY pos), '') AS clean_text
           |FROM f GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
      .replace("\n", " ")))

  private val BpeSteps = 6
  private val BpeTopWords = 512

  /** One unrolled greedy-scan rewrite block — the [[Bpe]] fold
    * replayed with run-parity window logic (lhs = rhs: a run's odd
    * members start merges; lhs ≠ rhs: adjacencies cannot overlap, all
    * merge; a started merge CONSUMES its right neighbor via lag).
    * Reads `(wid, l, carry…)` from `src`, applies the 1-row merge CTE
    * `merge`, emits `out` MATERIALIZED (DuckDB inlines CTEs by
    * default, and each step referencing the previous twice would
    * expand the plan exponentially in steps). Shared by the merges
    * (training replay) and encode (application replay) oracles.
    */
  private def bpeRewriteSql(src: String, out: String, merge: String,
      tag: String, carry: Seq[String]): String = {
    val cs = carry.map(c => s", $c").mkString
    val grp = ("wid" +: carry).mkString(", ")
    s"e$tag AS (SELECT wid$cs, unnest(l) AS sym, " +
      s"generate_subscripts(l, 1) AS pos FROM $src), " +
      s"f$tag AS (SELECT *, lead(sym) OVER (PARTITION BY wid " +
      s"ORDER BY pos) AS nxt, sum(CASE WHEN sym = " +
      s"(SELECT lhs FROM $merge) THEN 0 ELSE 1 END) OVER " +
      s"(PARTITION BY wid ORDER BY pos) AS runid FROM e$tag), " +
      s"g$tag AS (SELECT *, row_number() OVER (PARTITION BY wid, " +
      s"runid, sym ORDER BY pos) AS rin FROM f$tag), " +
      s"h$tag AS (SELECT *, CASE WHEN sym = (SELECT lhs FROM $merge) " +
      s"AND nxt IS NOT DISTINCT FROM (SELECT rhs FROM $merge) AND " +
      s"((SELECT lhs FROM $merge) <> (SELECT rhs FROM $merge) OR " +
      s"rin % 2 = 1) THEN TRUE ELSE FALSE END AS mstart FROM g$tag), " +
      s"i$tag AS (SELECT *, coalesce(lag(mstart) OVER " +
      s"(PARTITION BY wid ORDER BY pos), FALSE) AS consumed " +
      s"FROM h$tag), " +
      s"$out AS MATERIALIZED (SELECT $grp, " +
      "list(CASE WHEN mstart THEN sym || nxt ELSE sym END " +
      s"ORDER BY pos) FILTER (NOT consumed) AS l FROM i$tag " +
      s"GROUP BY $grp)"
  }

  /** BPE merge induction ([[Bpe.merges]]): the first 6 tokenizer merge
    * rules learned from the corpus word distribution — one corpus pass
    * (word counts → top-512 word frame), then O(steps · W) iteration
    * entirely off the checkpointed frame. The oracle is the SAME loop
    * unrolled into CTEs: per step one pair-count aggregation (list_zip
    * over the symbol lists), a 1-row (weight DESC, lhs, rhs) cut, and
    * the greedy-scan rewrite replayed with run-parity window logic
    * (lhs = rhs: a run's odd members start merges; lhs ≠ rhs:
    * adjacencies cannot overlap, all merge; a started merge CONSUMES
    * its right neighbor via lag). Step CTEs are MATERIALIZED — DuckDB
    * inlines CTEs by default, and each step referencing the previous
    * twice would expand the plan exponentially in steps.
    */
  private def bpeQuery = QueryDef(
    "text_bpe_merges_documents",
    (s, dir) => Bpe.merges(
        Tables.load(s, dir, "documents", parallelize = true),
        "text", BpeSteps, BpeTopWords)
      .orderBy("step"),
    Some {
      val header =
        "WITH wc AS MATERIALIZED (SELECT word, " +
          "CAST(count(*) AS BIGINT) AS cnt FROM (SELECT lower(t) AS " +
          s"word FROM (SELECT unnest($tokensSql) AS t FROM documents)) " +
          "WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1 " +
          s"ORDER BY cnt DESC, word LIMIT $BpeTopWords), " +
          "s0 AS MATERIALIZED (SELECT row_number() OVER " +
          "(ORDER BY word) AS wid, " +
          "list_append(regexp_extract_all(word, '.'), '_') AS l, cnt " +
          "FROM wc)"
      val sel = (1 to BpeSteps).map(k =>
        s"SELECT $k AS step, lhs, rhs, lhs || rhs AS merged, weight " +
          s"FROM m$k").mkString(" UNION ALL ")
      header + ", " + bpeTrainSql +
        " SELECT * FROM (" + sel + ") ORDER BY step"
    })

  /** The BPE training CTEs for steps 1..[[BpeSteps]] over `s0(wid,
    * l, cnt)`: step k's pair weights `p<k>`, its winning merge `m<k>`
    * and the rewritten words `s<k>`.
    */
  private def bpeTrainSql: String = (1 to BpeSteps).map { k =>
    val p = k - 1
    s"p$k AS MATERIALIZED (SELECT pr[1] AS lhs, pr[2] AS rhs, " +
      "CAST(sum(cnt) AS BIGINT) AS weight FROM (SELECT " +
      "unnest(list_zip(list_slice(l, 1, len(l)-1), " +
      s"list_slice(l, 2, len(l)))) AS pr, cnt FROM s$p) " +
      "GROUP BY 1, 2), " +
      s"m$k AS MATERIALIZED (SELECT lhs, rhs, weight FROM p$k " +
      "ORDER BY weight DESC, lhs, rhs LIMIT 1), " +
      bpeRewriteSql(s"s$p", s"s$k", s"m$k", s"t$k", Seq("cnt"))
  }.mkString(", ")

  /** BPE ENCODE ([[Bpe.encodeWords]]): train the [[BpeSteps]]-rule
    * merge table live (same schedule as the merges lane), apply it in
    * step order to the corpus DICTIONARY (distinct words — merge cost
    * ∝ vocabulary, never ∝ corpus), then join occurrences back and
    * emit each document's bag of token ids: `(doc_id, token_id,
    * token, n)`. Token ids are dense ranks of the final symbol set in
    * symbol order — corpus-deterministic, replayed verbatim by the
    * oracle. ONE corpus pass builds the per-(doc, word) counts; the
    * global word counts (training input) and the dictionary both
    * derive from that frame. This is the lane that upgrades packing
    * from whitespace-token budgets to real token budgets
    * (`PackingSpec` consumes these counts).
    *
    * The vocab-id window is a single-partition window over the FINAL
    * SYMBOL SET — alphabet + one symbol per merge rule (≤ 26 + 1 +
    * [[BpeSteps]] rows), bounded by construction, never corpus-sized.
    */
  private def bpeEncodeQuery = QueryDef(
    "text_bpe_encode_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      val occ = docs
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
        .select(col("doc_id"), lower(col("t")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("k"))
        .localCheckpoint(true) // feeds training counts AND the join back
      val wc = occ.groupBy(col("word")).agg(sum(col("k")).as("cnt"))
      val mergesDf = Bpe.mergesFromCounts(wc, BpeSteps, BpeTopWords)
      val enc = Bpe.encodeWords(wc.select(col("word")), mergesDf,
          BpeSteps)
        // dictionary-sized; consumed twice below. LAZY: the broadcast-
        // gate count right after is the materializing action (one job
        // for checkpoint + count, the Closure idiom)
        .localCheckpoint(false)
      // checkpointed frames carry no size statistics, so gate the
      // dictionary side's broadcast on its (already materialized) count
      val encSide = Gates.side(Gates.broadcasts(enc.count()), enc)
      // token-id rank: the input is the FINAL SYMBOL SET (alphabet +
      // one symbol per rule — bounded by construction, never corpus-
      // sized), so the single-partition window is chosen knowingly; the
      // pmod partition constant (the Growth idiom) states that intent
      // without tripping the planner's move-everything warning, which a
      // bare Window.orderBy would re-emit into every bench tail
      val vocab = enc.select(explode(col("l")).as("token")).distinct()
        .select(col("token"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(crc32(col("token")), lit(1L)))
            .orderBy("token"))
          .as("token_id"))
      occ.join(encSide, Seq("word"))
        .select(col("doc_id"), col("k"), explode(col("l")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(sum(col("k")).as("n"))
        .join(broadcast(vocab), Seq("token"))
        .select(col("doc_id"), col("token_id"), col("token"), col("n"))
        .orderBy(col("doc_id"), col("token_id"))
    },
    Some {
      val header =
        "WITH occ AS MATERIALIZED (SELECT doc_id, word, " +
          "CAST(count(*) AS BIGINT) AS k FROM (SELECT doc_id, " +
          "lower(t) AS word FROM (SELECT doc_id, " +
          s"unnest($tokensSql) AS t FROM documents)) " +
          "WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1, 2), " +
          "wc AS MATERIALIZED (SELECT word, CAST(sum(k) AS BIGINT) " +
          "AS cnt FROM occ GROUP BY 1), " +
          "s0 AS MATERIALIZED (SELECT row_number() OVER " +
          "(ORDER BY word) AS wid, " +
          "list_append(regexp_extract_all(word, '.'), '_') AS l, cnt " +
          "FROM (SELECT word, cnt FROM wc " +
          s"ORDER BY cnt DESC, word LIMIT $BpeTopWords)), " +
          "w0 AS MATERIALIZED (SELECT row_number() OVER " +
          "(ORDER BY word) AS wid, word, " +
          "list_append(regexp_extract_all(word, '.'), '_') AS l " +
          "FROM wc)"
      val encode = (1 to BpeSteps).map { k =>
        bpeRewriteSql(s"w${k - 1}", s"w$k", s"m$k", s"u$k",
          Seq("word"))
      }.mkString(", ")
      header + ", " + bpeTrainSql + ", " + encode +
        ", vocab AS MATERIALIZED (SELECT token, CAST(row_number() " +
        "OVER (ORDER BY token) AS INT) AS token_id FROM (SELECT " +
        s"DISTINCT unnest(l) AS token FROM w$BpeSteps)), " +
        "tk AS (SELECT occ.doc_id, occ.k, unnest(w.l) AS token " +
        s"FROM occ JOIN w$BpeSteps w USING (word)), " +
        "agg AS (SELECT doc_id, token, CAST(sum(k) AS BIGINT) AS n " +
        "FROM tk GROUP BY 1, 2) " +
        "SELECT a.doc_id, v.token_id, a.token, a.n FROM agg a " +
        "JOIN vocab v USING (token) ORDER BY doc_id, token_id"
    })

  /** Domain-grain curation ([[Domains]]): URL → normalized host →
    * registrable-domain cut (public-suffix-lite), rolled up per domain
    * into the frame a mixing/blocklist policy consumes — docs, hosts,
    * exact token sum, mean chars, and each domain's token share of the
    * corpus. The corpus has no URL column, so the lane PLANTS one
    * deterministically from (doc_id, source) — mixed-case scheme/host,
    * userinfo, `www.`/`cdn.` subdomains, a `.co.UK` multi-part suffix,
    * ports, query strings — every normalization branch exercised and
    * every step a pure string op DuckDB replays verbatim. The roll-up
    * is one corpus aggregation; the share division reads the
    * checkpointed ~|sources|-row report, never the corpus.
    */
  private def domainsQuery = QueryDef(
    "corpus_domains_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      val url = concat(
        lit("HTTPS://"),
        when(col("doc_id") % 7 === 0, lit("user:pw@")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("WWW."))
          .when(col("doc_id") % 3 === 1, lit("cdn."))
          .otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 4 === 0, lit(".co.UK")).otherwise(lit(".com")),
        when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("?q=x#f")).otherwise(lit("")))
      val h = Domains.host(url)
      val perDoc = docs.select(
        Domains.registrable(h).as("domain"), h.as("host"),
        size(TextAnalysis.tokens(col("text"))).as("toks"),
        col("n_chars"))
      val agg = perDoc.groupBy(col("domain")).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("toks").cast("long")).as("n_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("avg_chars"))
        .localCheckpoint(true) // ~|sources| rows; share reads it twice
      agg.crossJoin(broadcast(
          agg.agg(sum(col("n_tokens")).as("__tot"))))
        .select(col("domain"), col("n_docs"), col("n_hosts"),
          col("n_tokens"), col("avg_chars"),
          (col("n_tokens").cast("double") / col("__tot").cast("double"))
            .as("tokens_share"))
        .orderBy("domain")
    },
    Some {
      val urlExpr =
        "'HTTPS://' || CASE WHEN doc_id % 7 = 0 THEN 'user:pw@' " +
          "ELSE '' END || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' " +
          "WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END || source || " +
          "CASE WHEN doc_id % 4 = 0 THEN '.co.UK' ELSE '.com' END || " +
          "CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END || " +
          "'/p/' || CAST(doc_id AS VARCHAR) || " +
          "CASE WHEN doc_id % 2 = 0 THEN '?q=x#f' ELSE '' END"
      val suffixes = Domains.MultiPartSuffixes
        .map(sx => s"'$sx'").mkString("[", ", ", "]")
      s"WITH u AS (SELECT doc_id, source, text, n_chars, $urlExpr " +
        "AS url FROM documents), " +
        "h AS (SELECT *, regexp_replace(lower(regexp_extract(url, " +
        "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)), " +
        "'\\.$', '') AS host FROM u), " +
        "p AS (SELECT *, string_split(host, '.') AS parts FROM h), " +
        "d0 AS (SELECT *, array_to_string(list_slice(parts, " +
        "greatest(1, len(parts) - 1), len(parts)), '.') AS last2 " +
        "FROM p), " +
        "d1 AS (SELECT *, CASE WHEN len(parts) >= 3 AND " +
        s"list_contains($suffixes, last2) THEN 3 " +
        "ELSE least(len(parts), 2) END AS tk FROM d0), " +
        "d AS (SELECT doc_id, host, n_chars, " +
        s"len($tokensSql) AS toks, " +
        "array_to_string(list_slice(parts, greatest(1, " +
        "len(parts) - tk + 1), len(parts)), '.') AS domain FROM d1), " +
        "a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts, " +
        "CAST(sum(toks) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars " +
        "FROM d GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM a) " +
        "SELECT domain, n_docs, n_hosts, n_tokens, avg_chars, " +
        "CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) " +
        "AS tokens_share FROM a CROSS JOIN t ORDER BY domain"
    })

  /** Inverted-index build ([[InvertedIndex.postings]]) bounded to the
    * top-20-df dictionary slice — the postings a sharded index would
    * persist for its head terms. The oracle replays tokenize-with-
    * position (generate_subscripts, 0-based like posexplode), the
    * posting aggregation, df, the dictionary cut and the semi-join.
    */
  private def indexQuery = QueryDef(
    "text_index_documents",
    (s, dir) => {
      val posts = InvertedIndex.postings(
        Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text")
      val top = posts.select(col("term"), col("df")).distinct()
        .orderBy(col("df").desc, col("term")).limit(20)
      posts.join(broadcast(top.select(col("term"))), Seq("term"),
          "left_semi")
        .orderBy(col("term"), col("doc"))
    },
    Some("WITH tok AS (SELECT doc, unnest(l) AS term, " +
      "generate_subscripts(l, 1) - 1 AS pos FROM (SELECT doc_id AS " +
      s"doc, $tokensSql AS l FROM documents)), " +
      "p AS (SELECT term, doc, CAST(count(*) AS BIGINT) AS tf, " +
      "CAST(min(pos) AS INT) AS first_pos FROM tok GROUP BY 1, 2), " +
      "d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p " +
      "GROUP BY 1), " +
      "dict AS (SELECT term FROM d ORDER BY df DESC, term LIMIT 20) " +
      "SELECT p.term, d.df, p.doc, p.tf, p.first_pos " +
      "FROM p JOIN d USING (term) JOIN dict USING (term) " +
      "ORDER BY term, doc"))

  /** Unicode NFC normalization ([[TextAnalysis.nfc]], the native
    * `graft_nfc` expression): the corpus has no non-NFC text (parquet
    * ASCII), so the lane PLANTS the canonical normalization cases
    * deterministically from doc_id — combining acute (é), combining
    * ring (Å), an already-composed no-op (the fast path), combining
    * tilde (ñ) — prefixed to a slice of the real text, then reports
    * raw/NFC codepoint counts and the changed flag per doc. Unicode's
    * normalization stability policy freezes NFC for assigned
    * codepoints, so DuckDB's `nfc_normalize` replays the operator
    * bit-for-bit — the oracle seam for the whole expression.
    */
  private def nfcQuery = QueryDef(
    "text_nfc_documents",
    (s, dir) => {
      // DECOMPOSED forms planted via escapes (an editor normalizing
      // this source must not silently change the fixture): 0 = Cafe +
      // combining acute, 1 = A + combining ring, 3 = n + combining
      // tilde + a; 2 = COMPOSED cafe-acute (the isNormalized fast path)
      val planted = when(col("doc_id") % 4 === 0, lit("Cafe\u0301"))
        .when(col("doc_id") % 4 === 1, lit("A\u030A"))
        .when(col("doc_id") % 4 === 2, lit("caf\u00E9"))
        .otherwise(lit("n\u0303a"))
      Tables.load(s, dir, "documents", parallelize = true)
        .select(col("doc_id"),
          concat(planted, lit(" "), substring(col("text"), 1, 8))
            .as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("raw_cp"),
          TextAnalysis.nfc(col("raw")).as("nfc_text"))
        .select(col("doc_id"), col("raw_cp"),
          length(col("nfc_text")).cast("long").as("nfc_cp"),
          (col("raw_cp") =!= length(col("nfc_text")).cast("long"))
            .as("composed"),
          col("nfc_text"))
        .orderBy("doc_id")
    },
    Some("WITH r AS (SELECT doc_id, " +
      "(CASE doc_id % 4 WHEN 0 THEN 'Cafe' || chr(769) " +
      "WHEN 1 THEN 'A' || chr(778) " +
      "WHEN 2 THEN 'caf' || chr(233) " +
      "ELSE 'n' || chr(771) || 'a' END) || ' ' || " +
      "substr(text, 1, 8) AS raw FROM documents) " +
      "SELECT doc_id, length(raw) AS raw_cp, " +
      "length(nfc_normalize(raw)) AS nfc_cp, " +
      "length(raw) <> length(nfc_normalize(raw)) AS composed, " +
      "nfc_normalize(raw) AS nfc_text FROM r ORDER BY doc_id"))

  /** The HTML fixture each document wraps into for the extraction gate
    * (the boilerplate-lane injection precedent): a deterministic page
    * template carrying every hazard the operator exists for — a
    * `<script>` whose BODY contains `<` and quotes, a `<style>` block,
    * a comment with fake tags, a link-only nav div and footer (must
    * drop at link density 1), headline/body/trailer blocks (must
    * survive), and the entity-ordering trap (`&lt;with&gt;` must come
    * out as literal text `<with>`, never be stripped as a tag).
    * Shared verbatim between the Spark lane and the oracle builder.
    */
  /** The deterministic page template of the extraction gate lanes —
    * shared by the standalone lane and the composed e2e lane (and
    * mirrored verbatim by [[htmlFixtureSql]]).
    */
  private[graft] def withHtmlFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("html", concat(
      lit("<html><head><title>Doc "),
      col("doc_id").cast("string"),
      lit("</title>\n<style>body { color: #333; }</style>\n" +
        "<script>if (1 < 2) { track(\""),
      col("source"),
      lit("\"); }</script>\n</head><body>\n" +
        "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></div>\n<h1>"),
      col("source"),
      lit(" &amp; archive</h1>\n<p>"),
      col("text"),
      lit("</p>\n<p>See <a href=\"/d/"),
      col("doc_id").cast("string"),
      lit("\">related</a> notes &lt;with&gt; &quot;entities&quot;" +
        "&nbsp;it&#39;s</p>\n<!-- comment with <p>fake</p> tags " +
        "-->\n<div><a href=\"/terms\">Terms</a>" +
        "<a href=\"/privacy\">Privacy</a></div>\n" +
        // a-prefixed HTML5 content wrappers WITH a genuine anchor: the
        // r13 `<a[^>]*>` prefix trap counted everything from
        // `<article…>` to `</a>` as anchor text and dropped the block;
        // the word-bounded AnchorElement must keep it (density 4/64)
        "<article class=\"story\"><p>Deep " +
        "<abbr title=\"hypertext\">story</abbr> content keeps " +
        "reading well beyond a single <a href=\"/more\">link</a> " +
        "here.</p></article>\n<aside id=\"note\"><p>An aside block " +
        "with plain prose survives too.</p></aside>\n" +
        "</body></html>")))

  private def htmlExtractQuery = QueryDef(
    "text_extract_html_documents",
    (s, dir) => HtmlExtract.extract(
        withHtmlFixture(
          Tables.load(s, dir, "documents", parallelize = true)),
        "doc_id", "html")
      .orderBy("doc_id"),
    Some(htmlExtractOracle))

  /** The [[withHtmlFixture]] template as a DuckDB expression over a
    * `documents` row.
    */
  private val htmlFixtureSql: String =
    "'<html><head><title>Doc ' || " +
      "CAST(doc_id AS VARCHAR) || '</title>' || chr(10) || " +
      "'<style>body { color: #333; }</style>' || chr(10) || " +
      "'<script>if (1 < 2) { track(\"' || source || '\"); }</script>' " +
      "|| chr(10) || '</head><body>' || chr(10) || " +
      "'<div><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></div>' || chr(10) || " +
      "'<h1>' || source || ' &amp; archive</h1>' || chr(10) || " +
      "'<p>' || text || '</p>' || chr(10) || " +
      "'<p>See <a href=\"/d/' || CAST(doc_id AS VARCHAR) || " +
      "'\">related</a> notes &lt;with&gt; &quot;entities&quot;" +
      "&nbsp;it&#39;s</p>' || chr(10) || " +
      "'<!-- comment with <p>fake</p> tags -->' || chr(10) || " +
      "'<div><a href=\"/terms\">Terms</a>" +
      "<a href=\"/privacy\">Privacy</a></div>' || chr(10) || " +
      "'<article class=\"story\"><p>Deep " +
      "<abbr title=\"hypertext\">story</abbr> content keeps " +
      "reading well beyond a single <a href=\"/more\">link</a> " +
      "here.</p></article>' || chr(10) || " +
      "'<aside id=\"note\"><p>An aside block " +
      "with plain prose survives too.</p></aside>' || chr(10) || " +
      "'</body></html>'"

  /** The [[HtmlExtract.extract]] replay as CTEs reading a CTE `h` with
    * `(doc_id, html)` — emits `c, b, li, l, s, k, agg` with
    * `agg = (doc_id, n_blocks, n_kept, text)`. Shared by the
    * standalone extraction oracle and the composed e2e oracle.
    */
  private def htmlExtractionCtes: String = {
    // entity decode: specific entities first, &amp; LAST (mirrors
    // HtmlExtract.Entities order); chr(39) dodges quote escaping
    def dec(x: String) =
      "replace(replace(replace(replace(replace(replace(" + x +
        ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
        "'&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"
    def vis(x: String) =
      "trim(regexp_replace(" +
        dec(s"regexp_replace($x, '<[^>]*>', ' ', 'g')") +
        ", '\\s+', ' ', 'g'))"
    // the regex constants render from HtmlExtract itself (the shared-
    // builder idiom) — none of them contains a quote, so they embed in
    // SQL string literals verbatim
    val droppedHtml = HtmlExtract.DropElements.foldLeft("html") {
      (acc, pat) => s"regexp_replace($acc, '$pat', ' ', 'g')"
    }
    s"c AS (SELECT doc_id, $droppedHtml AS html FROM h), " +
      "b AS (SELECT doc_id, string_split_regex(html, " +
      s"'${HtmlExtract.BlockSplit}') AS blocks " +
      "FROM c), " +
      "li AS (SELECT doc_id, blocks, " +
      "unnest(generate_series(1, len(blocks))) AS pos FROM b), " +
      "l AS (SELECT doc_id, pos, blocks[pos] AS block FROM li), " +
      s"s AS (SELECT doc_id, pos, ${vis("block")} AS txt, " +
      vis(s"regexp_replace(block, '${HtmlExtract.AnchorElement}', " +
        "' ', 'g')") +
      " AS txt_noa FROM l), " +
      "k AS (SELECT doc_id, pos, txt, length(txt) > 0 AS nonempty, " +
      "length(txt) > 0 AND (length(txt) - length(txt_noa))::DOUBLE / " +
      "greatest(length(txt), 1) <= 0.33 AS keep FROM s), " +
      "agg AS (SELECT doc_id, " +
      "CAST(sum(CASE WHEN nonempty THEN 1 ELSE 0 END) AS INT) " +
      "AS n_blocks, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept, " +
      "coalesce(string_agg(CASE WHEN keep THEN txt END, chr(10) " +
      "ORDER BY pos), '') AS text FROM k GROUP BY 1)"
  }

  private def htmlExtractOracle: String =
    s"WITH h AS (SELECT doc_id, $htmlFixtureSql AS html " +
      "FROM documents), " +
      htmlExtractionCtes + " " +
      "SELECT doc_id, n_blocks, n_kept, n_blocks - n_kept AS n_dropped, " +
      "text, CAST(length(text) AS INT) AS text_chars FROM agg " +
      "ORDER BY doc_id"

  /** Model-based quality scoring ([[QualityModel]]): LIVE perceptron
    * training on the corpus with [[QualityModel.ttrLabel]] weak labels,
    * then one map-side inference scan over every document — hashed
    * token features, literal integer weights, exact BIGINT margin.
    * Oracled via the pinned-literal idiom ([[QualityGatePinned]];
    * QualityGateDriftSpec re-trains and compares every `sbt test`, and
    * the oracle carries a DuckDB-side row-count guard). The
    * `scorePinned` seam is the production train-once/apply-per-batch
    * shape; accuracy on a planted quality gradient is
    * QualityModelSpec's pin — this gate certifies the inference
    * dataflow bit-for-bit.
    */
  private def qualityModelQuery = QueryDef(
    "text_quality_model_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      val m = QualityModel.fit(
        docs.withColumn("__label", QualityModel.ttrLabel(col("text"))),
        "doc_id", "text", "__label")
      QualityModel.score(docs, "doc_id", "text", m).orderBy("doc_id")
    },
    Some {
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        gateGuardSql(QualityGatePinned.GateRows,
          "quality-model trained-literal oracle", "QualityGatePinned") +
        "m AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, " +
        s"$qualityMarginSql AS margin FROM toks) " +
        "SELECT doc_id, n_tokens, margin, " +
        "margin::DOUBLE / greatest(n_tokens, 1) AS score, " +
        "margin >= 0 AS keep FROM m CROSS JOIN gg ORDER BY doc_id"
    })

  /** Quality-model CALIBRATION ([[QualityModel]] evaluated, not just
    * applied): pinned-weight scores bucket into fixed-width bins
    * (floor(score / 5), clamped to ±4 — exact IEEE doubles floor
    * identically on both engines) and each bin reports its size and
    * its TTR-label positive rate — the reliability-diagram frame that
    * tells a curation owner whether "score ≥ x" still means what the
    * training labels said. Mean score per bin uses the
    * round-once-to-DECIMAL-then-sum recipe (order-independent).
    */
  private def qualityCalibrationQuery = QueryDef(
    "text_quality_calibration_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      QualityModel.scorePinned(
          docs.withColumn("__label",
            QualityModel.ttrLabel(col("text"))),
          "doc_id", "text", QualityGatePinned.weights,
          QualityGatePinned.bias, keepCols = Seq("__label"))
        .select(
          least(greatest(floor(col("score") / 5.0), lit(-4.0)),
            lit(4.0)).cast("int").as("bucket"),
          col("__label"), col("score"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__label"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("score").cast("decimal(38,12)")).cast("double")
            .as("__ssum"))
        .select(col("bucket"), col("n_docs"), col("n_pos"),
          (col("n_pos").cast("double") / col("n_docs")).as("pos_frac"),
          (col("__ssum") / col("n_docs")).as("mean_score"))
        .orderBy("bucket")
    },
    Some {
      s"WITH toks AS (SELECT doc_id, $tokensSql AS t FROM documents), " +
        gateGuardSql(QualityGatePinned.GateRows,
          "calibration pinned oracle", "QualityGatePinned") +
        "m AS (SELECT doc_id, " +
        "len(list_distinct(t)) * 2 >= len(t) AS label, " +
        s"($qualityMarginSql)::DOUBLE / greatest(len(t), 1) " +
        "AS score FROM toks), " +
        "b AS (SELECT CAST(least(greatest(floor(score / 5.0), -4.0), " +
        "4.0) AS INT) AS bucket, label, score FROM m) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_pos, " +
        "CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)" +
        "::DOUBLE / CAST(count(*) AS BIGINT) AS pos_frac, " +
        "CAST(sum(CAST(score AS DECIMAL(38,12))) AS DOUBLE) / " +
        "CAST(count(*) AS BIGINT) AS mean_score " +
        "FROM b CROSS JOIN gg GROUP BY bucket ORDER BY bucket"
    })

  /** Calibration → THRESHOLD SELECTION (the r14 directive-8 lane —
    * X122 made actionable): over the CURATION population (html
    * fixture → NFC → extraction → pinned-weight scores, the very
    * texts the keep gate tests — calibrating on raw documents would
    * choose a threshold for a different score distribution), width-1
    * score bins report suffix-cumulative size/positives/precision
    * under TTR labels, each bin's exact-integer qualification
    * `PrecisionDen · pos_ge ≥ PrecisionNum · n_ge`, and the CHOSEN
    * operating bucket (the lowest qualifying bin — its lower edge is
    * [[QualityThresholdPinned.MinScore]], the literal the X104/X115
    * keep gate runs; QualityThresholdDriftSpec re-derives it every
    * `sbt test`). The oracle replays extraction, scoring, binning,
    * both suffix windows, the qualification test, and the argmin.
    */
  private def qualityThresholdQuery = QueryDef(
    "text_quality_threshold_documents",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ext = HtmlExtract.extract(
        withHtmlFixture(Tables.load(s, dir, "documents",
            parallelize = true))
          .withColumn("html", TextAnalysis.nfc(col("html"))),
        "doc_id", "html")
      val scored = QualityModel.scorePinned(
          ext.withColumn("__label", QualityModel.ttrLabel(col("text"))),
          "doc_id", "text", QualityGatePinned.weights,
          QualityGatePinned.bias, keepCols = Seq("__label"))
      val buckets = scored.select(
          least(greatest(floor(col("score")), lit(-4.0)), lit(4.0))
            .cast("int").as("bucket"),
          col("__label"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__label"), 1L).otherwise(0L)).as("n_pos"))
      val wSfx = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      buckets
        .withColumn("n_ge", sum(col("n_docs")).over(wSfx))
        .withColumn("pos_ge", sum(col("n_pos")).over(wSfx))
        .withColumn("qualifies",
          lit(QualityThresholdPinned.PrecisionDen) * col("pos_ge") >=
            lit(QualityThresholdPinned.PrecisionNum) * col("n_ge"))
        .withColumn("chosen_bucket",
          min(when(col("qualifies"), col("bucket"))).over(wAll))
        .select(col("bucket"), col("n_docs"), col("n_pos"),
          col("n_ge"), col("pos_ge"),
          (col("pos_ge").cast("double") / col("n_ge")).as("prec_ge"),
          col("qualifies"),
          (col("bucket") === col("chosen_bucket")).as("chosen"))
        .orderBy("bucket")
    },
    Some {
      val num = QualityThresholdPinned.PrecisionNum
      val den = QualityThresholdPinned.PrecisionDen
      s"WITH h AS (SELECT doc_id, nfc_normalize($htmlFixtureSql) " +
        "AS html FROM documents), " +
        htmlExtractionCtes + ", " +
        gateGuardSql(QualityGatePinned.GateRows,
          "threshold pinned oracle", "the pinned models") +
        "toks AS (SELECT doc_id, " +
        "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        "ELSE regexp_split_to_array(trim(text), '\\s+') END AS t " +
        "FROM agg), " +
        "m AS (SELECT doc_id, " +
        "len(list_distinct(t)) * 2 >= len(t) AS label, " +
        s"CAST(len(t) AS BIGINT) AS n_tokens, $qualityMarginSql " +
        "AS margin FROM toks), " +
        "bb AS (SELECT CAST(least(greatest(floor(margin::DOUBLE / " +
        "greatest(n_tokens, 1)), -4.0), 4.0) AS INT) AS bucket, " +
        "label FROM m), " +
        "g2 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_pos FROM bb CROSS JOIN gg GROUP BY 1), " +
        "s2 AS (SELECT *, SUM(n_docs) OVER (ORDER BY bucket DESC " +
        "ROWS UNBOUNDED PRECEDING) AS n_ge, SUM(n_pos) OVER (" +
        "ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS pos_ge " +
        "FROM g2), " +
        s"q2 AS (SELECT *, $den * pos_ge >= $num * n_ge " +
        "AS qualifies FROM s2), " +
        "c2 AS (SELECT *, min(CASE WHEN qualifies THEN bucket END) " +
        "OVER () AS chosen_bucket FROM q2) " +
        "SELECT bucket, n_docs, n_pos, CAST(n_ge AS BIGINT) AS n_ge, " +
        "CAST(pos_ge AS BIGINT) AS pos_ge, " +
        "pos_ge::DOUBLE / n_ge AS prec_ge, qualifies, " +
        "bucket = chosen_bucket AS chosen FROM c2 ORDER BY bucket"
    })

  /** Markdown → text extraction ([[MarkdownExtract.extract]]): each
    * document wraps into a deterministic markdown template carrying
    * every hazard — a fenced code block whose CONTENT contains fake
    * links and emphasis (must vanish whole), inline links and images
    * (text survives, targets and markers go), heading/blockquote/list
    * markers, a horizontal rule, bold/italic runs — replayed verbatim
    * in the oracle (pre-strip structure counts included).
    */
  private def markdownExtractQuery = QueryDef(
    "text_extract_markdown_documents",
    (s, dir) => MarkdownExtract.extract(
        Tables.load(s, dir, "documents", parallelize = true)
          .withColumn("md", concat(
            lit("# Doc "), col("doc_id").cast("string"),
            lit("\n\nIntro by "), col("source"),
            lit(" with [a link](https://example.com/d/"),
            col("doc_id").cast("string"),
            lit(") and ![logo](/img.png) inline.\n\n" +
              "```scala\nval x = 1 // fake [link](x) and *stars*\n" +
              "```\n\n> quoted wisdom\n\n- first item\n" +
              "- second *emphasized* item\n\n"),
            col("text"),
            lit("\n\n---\n\n1. numbered\n2. **bold** end\n"))),
        "doc_id", "md")
      .orderBy("doc_id"),
    Some(markdownExtractOracle))

  private def markdownExtractOracle: String = {
    val chain = MarkdownExtract.Steps.foldLeft("md") {
      case (acc, (pat, rep)) =>
        s"regexp_replace($acc, '$pat', '$rep', 'g')"
    }
    "WITH h AS (SELECT doc_id, '# Doc ' || CAST(doc_id AS VARCHAR) || " +
      "chr(10) || chr(10) || 'Intro by ' || source || " +
      "' with [a link](https://example.com/d/' || " +
      "CAST(doc_id AS VARCHAR) || ') and ![logo](/img.png) inline.' " +
      "|| chr(10) || chr(10) || '```scala' || chr(10) || " +
      "'val x = 1 // fake [link](x) and *stars*' || chr(10) || " +
      "'```' || chr(10) || chr(10) || '> quoted wisdom' || chr(10) || " +
      "chr(10) || '- first item' || chr(10) || " +
      "'- second *emphasized* item' || chr(10) || chr(10) || text || " +
      "chr(10) || chr(10) || '---' || chr(10) || chr(10) || " +
      "'1. numbered' || chr(10) || '2. **bold** end' || chr(10) " +
      "AS md FROM documents) " +
      "SELECT doc_id, " +
      "CAST(len(regexp_extract_all(md, '(?s)```.*?```')) AS INT) " +
      "AS n_code_blocks, " +
      "CAST(len(regexp_extract_all(md, '\\]\\([^)]*\\)')) AS INT) " +
      "AS n_links, " +
      "CAST(len(regexp_extract_all(md, '(?m)^#{1,6} ')) AS INT) " +
      "AS n_headings, " +
      s"trim($chain) AS text, " +
      s"CAST(length(trim($chain)) AS INT) AS text_chars " +
      "FROM h ORDER BY doc_id"
  }

  /** Per-line language segmentation ([[LangSegment.segment]]): the
    * corpus is single-line synthetic text, so the gate lane INJECTS
    * the code-switching structure real multilingual pages have (the
    * boilerplate-lane precedent): two English body lines plus
    * deterministic German / French / Spanish lines keyed on doc_id
    * moduli — majority stays `en`, `n_langs` varies 1–4, the minority
    * share reads the mix. The oracle replays line split + the shared
    * [[langCaseSql]] chain + the (count DESC, lang ASC) majority
    * window verbatim.
    */
  /** The multilingual fixture of the model-language-ID gate lanes: the
    * corpus is English-ish synthetic text, so a deterministic language
    * prefix keyed on `doc_id % 5` plants five label families (en raw,
    * de, fr, es, zh) — the weak-supervision corpus the multi-class
    * perceptron distills the [[TextAnalysis.langId]] heuristic from.
    * Mirrored verbatim by [[langFixtureSql]].
    */
  private[graft] def withLangFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("ltext",
      when(col("doc_id") % 5 === 1,
        concat(lit("der schnelle zug und die bahn nicht "), col("text")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("le chat et la maison les jours "), col("text")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("el mundo es grande los dias las cosas "),
            col("text")))
        .when(col("doc_id") % 5 === 4,
          concat(lit("中文 语料 文本 " +
            "处理 "), col("text")))
        .otherwise(col("text")))

  /** The [[withLangFixture]] template as a DuckDB expression over a
    * `documents` row.
    */
  private[graft] val langFixtureSql: String =
    "CASE doc_id % 5 " +
      "WHEN 1 THEN 'der schnelle zug und die bahn nicht ' || text " +
      "WHEN 2 THEN 'le chat et la maison les jours ' || text " +
      "WHEN 3 THEN 'el mundo es grande los dias las cosas ' || text " +
      "WHEN 4 THEN '中文 语料 文本 " +
      "处理 ' || text " +
      "ELSE text END"

  /** Line-level Gopher quality signals ([[GopherQuality.signals]]):
    * the corpus is single-line synthetic text, so the gate injects the
    * line-level structure the rules exist for — bullet lists,
    * duplicated filler lines, ellipsis endings and `#`/`…` noise on
    * doc_id moduli — and the oracle replays line split → every count →
    * every fraction → the composite pass verbatim.
    */
  private def gopherQuery = QueryDef(
    "text_gopher_documents",
    (s, dir) => GopherQuality.signals(
        Tables.load(s, dir, "documents", parallelize = true)
          .withColumn("text", concat(col("text"),
            when(col("doc_id") % 4 === 1,
              lit("\n- bullet item one\n- bullet item two"))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 2,
              lit("\nrepeated filler line\nrepeated filler line"))
              .otherwise(lit("")),
            when(col("doc_id") % 6 === 3,
              lit("\na trailing thought...\nein # noisy " +
                "… line")).otherwise(lit("")))),
        "doc_id", "text")
      .orderBy("doc_id"),
    Some {
      val fix = "text || " +
        "CASE WHEN doc_id % 4 = 1 THEN chr(10) || '- bullet item one' " +
        "|| chr(10) || '- bullet item two' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 2 THEN chr(10) || " +
        "'repeated filler line' || chr(10) || 'repeated filler line' " +
        "ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 3 THEN chr(10) || " +
        "'a trailing thought...' || chr(10) || 'ein # noisy " +
        "… line' ELSE '' END"
      val lines = "list_filter(list_transform(" +
        "string_split(text, chr(10)), x -> trim(x)), " +
        "x -> length(x) > 0)"
      def chars(x: String) =
        s"coalesce(list_sum(list_transform($x, c -> length(c))), 0)"
      s"WITH d AS (SELECT doc_id, $fix AS text FROM documents), " +
        s"l AS (SELECT doc_id, text, $lines AS ln, " +
        s"${tokensSqlOf("text")} AS w FROM d), " +
        "c AS (SELECT doc_id, CAST(len(ln) AS INT) AS n_lines, " +
        "len(ln) AS nl, len(list_distinct(ln)) AS dl, " +
        s"${chars("ln")} AS lc, ${chars("list_distinct(ln)")} AS dc, " +
        "len(list_filter(ln, x -> starts_with(x, '- ') OR " +
        "starts_with(x, '* ') OR starts_with(x, '• '))) AS bl, " +
        "len(list_filter(ln, x -> ends_with(x, '...') OR " +
        "ends_with(x, '…'))) AS el, " +
        "CAST(len(w) AS INT) AS n_words, " +
        "len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) " +
        "AS aw, " +
        "len(regexp_extract_all(text, '#')) + " +
        "len(regexp_extract_all(text, '…')) + " +
        "len(regexp_extract_all(text, '\\.\\.\\.')) AS sym FROM l) " +
        "SELECT doc_id, n_lines, " +
        "(nl - dl)::DOUBLE / greatest(nl, 1) AS dup_line_frac, " +
        "(lc - dc)::DOUBLE / greatest(lc, 1) AS dup_line_char_frac, " +
        "bl::DOUBLE / greatest(nl, 1) AS bullet_line_frac, " +
        "el::DOUBLE / greatest(nl, 1) AS ellipsis_line_frac, " +
        "n_words, " +
        "aw::DOUBLE / greatest(n_words, 1) AS alpha_word_frac, " +
        "sym::DOUBLE / greatest(n_words, 1) AS symbol_ratio, " +
        s"((nl - dl)::DOUBLE / greatest(nl, 1) <= " +
        s"${graft.util.OracleSql.dbl(GopherQuality.MaxDupLineFrac)} " +
        "AND bl::DOUBLE / greatest(nl, 1) <= " +
        s"${graft.util.OracleSql.dbl(GopherQuality.MaxBulletFrac)} " +
        "AND el::DOUBLE / greatest(nl, 1) <= " +
        s"${graft.util.OracleSql.dbl(GopherQuality.MaxEllipsisFrac)} " +
        "AND (n_words = 0 OR aw::DOUBLE / n_words >= " +
        s"${graft.util.OracleSql.dbl(GopherQuality.MinAlphaWordFrac)}) " +
        "AND sym::DOUBLE / greatest(n_words, 1) <= " +
        s"${graft.util.OracleSql.dbl(GopherQuality.MaxSymbolRatio)}) " +
        "AS pass_gopher FROM c ORDER BY doc_id"
    })

  /** Model-based multi-class language ID ([[LangModel]]): LIVE
    * multi-class perceptron training on the fixture corpus with
    * [[TextAnalysis.langId]] weak labels (heuristic distillation —
    * the CC-Net/fastText-langid role), then one map-side inference
    * scan emitting every per-class BIGINT margin plus the argmax
    * label; `lang_rule` carries the heuristic's own label and `agree`
    * the distillation fidelity. Oracled via the pinned-literal idiom
    * ([[LangGatePinned]]; LangGateDriftSpec re-trains and compares
    * every `sbt test`, and the oracle carries a DuckDB-side row-count
    * guard). Multi-class separation on a planted gradient is
    * LangModelSpec's pin — this gate certifies the K-margin inference
    * dataflow bit-for-bit.
    */
  private def langModelQuery = QueryDef(
    "text_lang_model_documents",
    (s, dir) => {
      val fixt = withLangFixture(
        Tables.load(s, dir, "documents", parallelize = true))
      val m = LangModel.fit(
        fixt.withColumn("__label", TextAnalysis.langId(col("ltext"))),
        "doc_id", "ltext", "__label")
      LangModel.score(
          fixt.withColumn("lang_rule", TextAnalysis.langId(col("ltext"))),
          "doc_id", "ltext", m, keepCols = Seq("lang_rule"))
        .withColumn("agree", col("lang") === col("lang_rule"))
        .orderBy("doc_id")
    },
    Some {
      val (margins, best, langCase) = pinnedLangSql
      s"WITH d AS (SELECT doc_id, $langFixtureSql AS ltext " +
        "FROM documents), " +
        gateGuardSql(LangGatePinned.GateRows,
          "lang-model trained-literal oracle", "LangGatePinned") +
        "toks AS (SELECT doc_id, ltext, " +
        s"${tokensSqlOf("ltext")} AS t FROM d), " +
        s"m AS (SELECT doc_id, ${langCaseSql("ltext")} AS lang_rule, " +
        s"CAST(len(t) AS INT) AS n_tokens, $margins FROM toks), " +
        s"b AS (SELECT *, $best AS best FROM m) " +
        "SELECT doc_id, lang_rule, n_tokens, " +
        LangGatePinned.classes.map(c => s"m_$c").mkString(", ") + ", " +
        s"$langCase AS lang, ($langCase) = lang_rule AS agree " +
        "FROM b CROSS JOIN gg ORDER BY doc_id"
    })

  /** Per-language budgets of the routed-curation gate lane — rendered
    * into BOTH engines.
    */
  private val RouteBudgets: Map[String, Long] = Map(
    "en" -> 4000L, "de" -> 1500L, "fr" -> 1500L, "es" -> 1500L,
    "zh" -> 1000L)

  /** The multilingual LINE fixture of the routed-curation lane: docs
    * keyed `doc_id % 5` gain TWO minority-language lines, so per-line
    * majority routing sends them to de/fr/es/zh while `% 5 == 0` docs
    * stay en — the code-switching corpus [[LangSegment]] exists to
    * route. Mirrored verbatim by [[routeFixtureSql]].
    */
  private[graft] def withRouteFixture(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("rtext", concat(col("text"),
      when(col("doc_id") % 5 === 1,
        lit("\nder zug und die bahn\nder mann und die frau nicht"))
        .when(col("doc_id") % 5 === 2,
          lit("\nle chat et la maison\nle jour et les nuits"))
        .when(col("doc_id") % 5 === 3,
          lit("\nel mundo es grande\nlos dias es las cosas"))
        .when(col("doc_id") % 5 === 4,
          lit("\n中文 文本\n语料 处理 中文"))
        .otherwise(lit(""))))

  private val routeFixtureSql: String =
    "text || CASE doc_id % 5 " +
      "WHEN 1 THEN chr(10) || 'der zug und die bahn' || chr(10) || " +
      "'der mann und die frau nicht' " +
      "WHEN 2 THEN chr(10) || 'le chat et la maison' || chr(10) || " +
      "'le jour et les nuits' " +
      "WHEN 3 THEN chr(10) || 'el mundo es grande' || chr(10) || " +
      "'los dias es las cosas' " +
      "WHEN 4 THEN chr(10) || '中文 文本' || chr(10) || " +
      "'语料 处理 中文' " +
      "ELSE '' END"

  /** Per-LANGUAGE routed curation — the composition [[LangSegment]]
    * exists to serve (X110 → route → X91), run by
    * [[graft.pipeline.Mixing.routedFunnel]]: per-line language
    * segmentation picks each document's majority language, and
    * [[graft.pipeline.Mixing.byTemperatureRoutedT2]] rebalances
    * sources WITHIN each language under that language's own token
    * budget. Output: the (language × source) funnel — routed
    * docs/tokens and selected docs/tokens. The oracle replays line
    * split → shared [[langCaseSql]] → majority window → sqrt-mass
    * targets under the shared [[RouteBudgets]] CASE → md5-order greedy
    * selection → funnel roll-up verbatim ([[routeOracleSql]]).
    */
  private def routeLangQuery = QueryDef(
    "corpus_route_lang_documents",
    (s, dir) => graft.pipeline.Mixing.routedFunnel(
      withRouteFixture(Tables.load(s, dir, "documents", parallelize = true)),
      "doc_id", "source", "rtext", RouteBudgets),
    Some(routeOracleSql("", ruleLineLangSql)))

  /** The routed-curation oracle over the [[routeFixtureSql]] corpus:
    * [[lineSplitSql]], the `lg` line classifier `lineLang`, the
    * majority window, sqrt-mass targets under [[RouteBudgets]],
    * md5-order greedy selection and the (lang × source) funnel. A
    * non-empty `guard` CTE ([[gateGuardSql]]) follows `d` and is
    * cross-joined into the final select.
    */
  private def routeOracleSql(guard: String, lineLang: String): String = {
    val budgetCase = "CASE s.lang " + RouteBudgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }
      .mkString(" ") + " ELSE 0 END"
    s"WITH d AS (SELECT doc_id, source, $routeFixtureSql AS rtext " +
      "FROM documents), " + guard + lineSplitSql("rtext") + lineLang +
      lineRankSql +
      "mj AS (SELECT doc_id, max(CASE WHEN rn = 1 THEN lang END) " +
      "AS lang FROM r GROUP BY 1), " +
      "toks AS (SELECT d.doc_id, d.source, mj.lang, " +
      s"len(${tokensSqlOf("rtext")})::BIGINT AS n " +
      "FROM d JOIN mj USING (doc_id)), " +
      "s AS (SELECT lang, source, CAST(sum(n) AS BIGINT) AS stok " +
      "FROM toks GROUP BY 1, 2), " +
      "z AS (SELECT lang, CAST(sum(CAST(sqrt(stok) " +
      "AS DECIMAL(38,12))) AS DOUBLE) AS zsum FROM s GROUP BY 1), " +
      s"t AS (SELECT s.lang, s.source, CAST(floor(CAST($budgetCase " +
      "AS DOUBLE) * sqrt(stok) / zsum) AS BIGINT) AS target " +
      "FROM s JOIN z USING (lang)), " +
      "cm AS (SELECT doc_id, lang, source, n, SUM(n) OVER (" +
      "PARTITION BY lang, source ORDER BY md5(doc_id::VARCHAR), " +
      "doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM toks), " +
      "sel AS (SELECT cm.doc_id FROM cm JOIN t USING (lang, source) " +
      "WHERE cum - n < target) " +
      "SELECT toks.lang, toks.source, " +
      "CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n) AS BIGINT) AS lang_tokens, " +
      "CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_selected, " +
      "CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN n ELSE 0 END) " +
      "AS BIGINT) AS sel_tokens " +
      "FROM toks LEFT JOIN sel ON toks.doc_id = sel.doc_id " +
      (if (guard.isEmpty) "" else "CROSS JOIN gg ") +
      "GROUP BY 1, 2 ORDER BY 1, 2"
  }

  /** Per-language routed curation under the LEARNED language model —
    * the composition X113 was built for: identical dataflow to
    * [[routeLangQuery]] (per-line majority routing → [[graft.pipeline
    * .Mixing.byTemperatureRoutedT2]] under [[RouteBudgets]] → the
    * (language × source) funnel), but each line is classified by the
    * multi-class perceptron ([[LangModel.classify]] — trained LIVE on
    * the [[withLangFixture]] gate corpus with heuristic weak labels,
    * exactly as `text_lang_model_documents` does) instead of the
    * [[TextAnalysis.langId]] rule chain. Inference is pinned-literal
    * map-side CASE folds sharing ONE tokenization per line — routing
    * gains a learned classifier at zero extra shuffles. Oracled via
    * the [[LangGatePinned]] literals (LangGateDriftSpec re-trains and
    * compares every `sbt test`; the oracle carries the DuckDB-side
    * row-count guard); RoutedMixingSpec pins a planted mixed doc
    * where heuristic and model routing genuinely disagree.
    */
  private def routeLangModelQuery = QueryDef(
    "corpus_route_lang_model_documents",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents", parallelize = true)
      val m = LangModel.fit(
        withLangFixture(docs)
          .withColumn("__label", TextAnalysis.langId(col("ltext"))),
        "doc_id", "ltext", "__label")
      graft.pipeline.Mixing.routedFunnel(withRouteFixture(docs),
        "doc_id", "source", "rtext", RouteBudgets,
        langOf = l => LangModel.classify(l, m))
    },
    Some {
      val (margins, best, langCase) = pinnedLangSql
      routeOracleSql(
        gateGuardSql(LangGatePinned.GateRows,
          "model-routed-curation trained-literal oracle",
          "LangGatePinned"),
        s"lt AS (SELECT doc_id, ${tokensSqlOf("line")} AS t FROM ln), " +
          s"lm AS (SELECT doc_id, $margins FROM lt), " +
          s"lb AS (SELECT *, $best AS best FROM lm), " +
          s"lg AS (SELECT doc_id, $langCase AS lang FROM lb), ")
    })

  private def langSegmentsQuery = QueryDef(
    "text_lang_segments_documents",
    (s, dir) => LangSegment.segment(
        Tables.load(s, dir, "documents", parallelize = true)
          .withColumn("text", concat(
            col("text"), lit("\n"), col("text"),
            when(col("doc_id") % 3 === 0,
              lit("\nder schnelle zug und die bahn"))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              lit("\nle chat et la maison")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit("\nel mundo es grande los dias"))
              .otherwise(lit("")))),
        "doc_id", "text")
      .orderBy("doc_id"),
    Some {
      "WITH d AS (SELECT doc_id, text || chr(10) || text || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || " +
        "'der schnelle zug und die bahn' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || " +
        "'le chat et la maison' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN chr(10) || " +
        "'el mundo es grande los dias' ELSE '' END AS text " +
        "FROM documents), " +
        lineSplitSql("text") + ruleLineLangSql + lineRankSql +
        "m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines, " +
        "CAST(count(*) AS BIGINT) AS n_langs, " +
        "max(CASE WHEN rn = 1 THEN lang END) AS majority_lang, " +
        "CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) " +
        "AS majority_cnt FROM r GROUP BY 1) " +
        "SELECT doc_id, n_lines, n_langs, majority_lang, " +
        "majority_cnt, (n_lines - majority_cnt)::DOUBLE / n_lines " +
        "AS minority_share, n_langs > 1 AS mixed FROM m " +
        "ORDER BY doc_id"
    })

  private[graft] val E2eTau = 0.3
  private[graft] val E2eBudget = 5000L

  /** The COMPLETE modern curation loop, end-to-end and hash-verified —
    * the r12/r13 operators composed as ONE dataflow (the
    * `corpus_pipeline_full_documents` charter extended to the current
    * frontier): NFC markup normalization (X100, native `graft_nfc`) →
    * HTML extraction (tag/entity/boilerplate — the new operator) →
    * pinned-weight quality-model inference (the apply-per-batch seam)
    * → SemDeDup embedding pruning with the pinned centroids (X89) →
    * temperature mixing over the survivors (X91). Output: one
    * per-source funnel row (docs → quality → dedup → selection →
    * selected tokens).
    *
    * Single-staging contract: the documents corpus is SCANNED ONCE —
    * wrap + NFC + extraction + scoring fuse into one map-side chain
    * whose output checkpoints as a METADATA-sized frame (id, source,
    * counts — no text), and every later stage (dedup flags, mixing,
    * the funnel) reads that checkpoint or the embeddings table, never
    * the corpus again. The oracle rebuilds all five stages in DuckDB,
    * so one hash checks the composition, not just the pieces.
    */
  private def curateE2eQuery = QueryDef(
    "corpus_curate_e2e_documents",
    (s, dir) => {
      // both stages are the SHARED Curation implementation — the
      // streaming twin (stream_curate_documents) runs literally the
      // same code per batch/report, which is what licenses its oracle
      // to be this lane's SQL verbatim
      val scored = Curation.scoreDocs(
          withHtmlFixture(
            Tables.load(s, dir, "documents", parallelize = true)),
          "doc_id", "html", "source", QualityGatePinned.weights,
          QualityGatePinned.bias)
        .localCheckpoint(true)
      Curation.funnel(scored, "doc_id", "source",
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          graft.sim.KmeansGatePinned.centroids, E2eTau, E2eBudget)
        .orderBy("source")
    },
    Some(curateE2eOracle))

  /** Shared with the streaming twin's gate
    * ([[graft.streaming.StreamingQueries]]) — the maintained-equality
    * story: the stream's report oracle IS the batch lane's SQL.
    */
  private[graft] def curateE2eOracle: String = {
    val tau = graft.util.OracleSql.dbl(E2eTau)
    // the calibration-chosen keep gate, rendered from the SAME pinned
    // constant the Scala chain uses (margin ≥ T·n_tokens — exact
    // integers; the choice of T is oracled by
    // text_quality_threshold_documents)
    val T = QualityThresholdPinned.MinScore
    s"WITH h AS (SELECT doc_id, nfc_normalize($htmlFixtureSql) " +
      "AS html FROM documents), " +
      htmlExtractionCtes + ", " +
      gateGuardSql(QualityGatePinned.GateRows,
        "e2e pinned oracle", "the pinned models") +
      "ex AS (SELECT d2.doc_id, d2.source, agg.text FROM documents d2 " +
      "JOIN agg USING (doc_id)), " +
      "toks AS (SELECT doc_id, source, " +
      "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
      "ELSE regexp_split_to_array(trim(text), '\\s+') END AS t " +
      "FROM ex), " +
      "m AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) " +
      s"AS n_tokens, $qualityMarginSql AS margin FROM toks), " +
      "q AS (SELECT doc_id, source, n_tokens FROM m " +
      s"WHERE margin >= $T * n_tokens), " +
      graft.sim.SimilarityQueries.kmeansAssignCtes(
        graft.sim.KmeansGatePinned.centroids,
        "(SELECT embeddings.vec_id, embeddings.embedding " +
          "FROM embeddings JOIN q ON q.doc_id = embeddings.vec_id) " +
          "embq") + ", " +
      graft.sim.SimilarityQueries.semDupsSql(tau) +
      "best AS (SELECT ida AS vec_id FROM (SELECT ida, " +
      "row_number() OVER (PARTITION BY ida ORDER BY cos DESC, idb) " +
      "AS rn FROM dups) WHERE rn = 1), " +
      "ddk AS (SELECT a.vec_id AS doc_id FROM a LEFT JOIN best " +
      "USING (vec_id) WHERE best.vec_id IS NULL), " +
      "mi AS (SELECT q.doc_id, q.source, q.n_tokens FROM q " +
      "JOIN ddk USING (doc_id)), " +
      "s2 AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS stok " +
      "FROM mi GROUP BY 1), " +
      "z AS (SELECT CAST(sum(CAST(sqrt(stok) AS DECIMAL(38,12))) " +
      "AS DOUBLE) AS zsum FROM s2), " +
      s"t2 AS (SELECT source, CAST(floor(CAST($E2eBudget AS DOUBLE) " +
      "* sqrt(stok) / zsum) AS BIGINT) AS target FROM s2 " +
      "CROSS JOIN z), " +
      "cm AS (SELECT doc_id, source, n_tokens, SUM(n_tokens) OVER (" +
      "PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM mi), " +
      "sel AS (SELECT cm.doc_id FROM cm JOIN t2 USING (source) " +
      "WHERE cum - n_tokens < target) " +
      "SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      s"CAST(sum(CASE WHEN m.margin >= $T * m.n_tokens THEN 1 " +
      "ELSE 0 END) AS BIGINT) AS n_quality, " +
      "CAST(sum(CASE WHEN ddk.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_dedup, " +
      "CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_selected, " +
      "CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN m.n_tokens " +
      "ELSE 0 END) AS BIGINT) AS sel_tokens " +
      "FROM m LEFT JOIN ddk ON m.doc_id = ddk.doc_id " +
      "LEFT JOIN sel ON m.doc_id = sel.doc_id CROSS JOIN gg " +
      "GROUP BY 1 ORDER BY 1"
  }

  override def queries: Seq[QueryDef] =
    Seq(statsQuery, curateQuery, pipelineQuery, pipelineFullQuery,
      sampleQuery, shardQuery, splitQuery, termsQuery, vocabQuery,
      lmScoreQuery,
      decontamQuery,
      scrubSpansQuery, repetitionQuery, packQuery, decontamPipelineQuery,
      chunkQuery, mixQuery, mixWeightedQuery, mixTemperatureQuery,
      qualityBucketsQuery, bm25Query,
      collocationsQuery, boilerplateQuery, bpeQuery, bpeEncodeQuery,
      domainsQuery, indexQuery, nfcQuery, htmlExtractQuery,
      qualityModelQuery, curateE2eQuery, sampleUniformQuery,
      markdownExtractQuery, langSegmentsQuery, langModelQuery,
      routeLangQuery, routeLangModelQuery, gopherQuery,
      decontamExposureQuery, qualityCalibrationQuery,
      qualityThresholdQuery)
}
