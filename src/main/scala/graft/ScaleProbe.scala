package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, concat, explode, lit, struct}

/** Scaling-evidence harness: times the scale-claim operators across
  * synthesized corpus multiples (tools/make_scale_corpus.py) so the
  * scaladoc claims ("prefilter bounds the window input", "t-digest wins
  * past the exact selection's crossover", "LSH candidates grow O(n) while
  * brute grows O(n^2)") are measured numbers, not assertions.
  *
  * Protocol is [[Bench]]'s (`Bench.warmUp`, `Bench.timedRun`): one
  * warm-up pass per probe at sf0.001 (codegen + JIT), then min-of-3 per
  * (probe, scale) with a pre-run GC and a post-run clearCache. The
  * quadratic brute-force kNN foil runs only up to x3 — its x10 cost
  * (~100x the x1 time) is predictable from the fitted exponent and would
  * dominate the probe's wall clock for no information.
  *
  * Usage:
  *   runMain graft.ScaleProbe x1=/root/testdata/sf0.1 \
  *     x3=/tmp/graft_scale/x3 x10=/tmp/graft_scale/x10 [only=p1,p2]
  *
  * Output: one `SCALEPROBE {json}` line per (probe, scale) measurement.
  */
object ScaleProbe {

  /** The registered mix selection; with `prefilter` it runs past every
    * gate ([[graft.util.Gates.pastGates]]) and so takes the
    * [[graft.pipeline.StratumPrefilter]] below the 1 GiB auto-engage
    * bound, which is sized for real corpora.
    */
  private def mixProbe(prefilter: Boolean)(
      s: SparkSession, dir: String): DataFrame = {
    def mix = graft.pipeline.Mixing.byTokenBudget(
        graft.io.Tables.load(s, dir, "documents", parallelize = true)
          .select(col("doc_id"), col("source"),
            graft.text.TextAnalysis.tokenCount(col("text")).cast("long")
              .as("n_tokens")),
        "source", "doc_id", "n_tokens",
        budgets = Map.empty, defaultBudget = 600L)
      .select("source", "doc_id", "n_tokens")
    if (prefilter) graft.util.Gates.pastGates(mix) else mix
  }

  /** (name, scale-label filter — None = every scale, fn). */
  private def probes: Seq[(String, Option[Set[String]],
      (SparkSession, String) => DataFrame)] = Seq(
    ("quantiles_exact", None, SparkEntry.queries("profile_quantiles_lineitem")),
    ("quantiles_tdigest", None, SparkEntry.queries("profile_quantiles_approx")),
    // production hash forms, called directly: the registered gate
    // queries switched to the oracle-replayable md5/pinned-width
    // variants in r8, but the scale claims belong to the production
    // xxhash / auto-scaled-width forms — probe those
    ("dedup_minhash", None, minhashProductionProbe _),
    // the xxhash SimHash production form left the gate in r10 (its
    // survivor set is defined BY the fingerprint family, so no DuckDB
    // oracle exists — see DedupQueries); its scaling evidence lives
    // here and its correctness pins in DedupSpec
    ("dedup_simhash", None, simhashProductionProbe _),
    ("knn_lsh", None, knnLshProductionProbe _),
    // the oracled md5-family gate lane alongside (same LSH pipeline,
    // md5 base hashes): its exponent should track the xxhash row
    ("dedup_minhash_oracled", None,
      SparkEntry.queries("dedup_minhash_documents")),
    // the UNCAPPED Θ(n²) foil (the registered lane bounds itself to the
    // gate corpus since r10 — a foil should burn probe time, not bench
    // time); x1/x3 only, superlinearity shows without the x10 blow-up
    ("knn_brute", Some(Set("x1", "x3")), knnBruteProbe _),
    ("pipeline_full", None,
      SparkEntry.queries("corpus_pipeline_full_documents")),
    ("mix_prefilter_off", None, mixProbe(prefilter = false) _),
    ("mix_prefilter_on", None, mixProbe(prefilter = true) _),
    // r6 additions: the SCD2 merge (keyed joins — should track the
    // window+join constant) and the Misra–Gries aggregate (single scan,
    // fixed summary state — should be the flattest data-sized probe;
    // the scaled corpus keeps l_partkey's distinct count constant, so
    // the capacity-exact regime holds at every scale)
    ("scd2_merge", None, SparkEntry.queries("scd2_merge_events")),
    ("topk_sketch", None,
      SparkEntry.queries("profile_topk_sketch_lineitem")),
    // r7 additions (r6 verdict #7): the remaining scale-claim operators
    // that landed after the probe first ran.
    //
    // Bucketed join vs its shuffling foil: the registered query's first
    // run at each scale stages the buckets (BucketedStage memoizes per
    // corpus), so min-of-3 reports the amortized JOIN-ONLY cost; the
    // foil runs the identical sort-merge join + aggregation off the raw
    // tables, paying both fact-side exchanges every time. The gap —
    // and how it widens with scale — is the §4 shuffle-elimination
    // story in numbers.
    ("join_bucketed", None, SparkEntry.queries("join_bucketed_revenue")),
    ("join_shuffled_smj", None, shuffledJoinProbe _),
    // keyed-window operators over the users-grow events corpus:
    // constant per-key work, more keys → expect flat-ish exponents
    ("sessionize", None, SparkEntry.queries("sessionize_events")),
    ("asof_join", None,
      SparkEntry.queries("asof_clicks_before_purchase")),
    // the SKETCH regime of graft_topk (capacity 64 << distinct
    // l_partkey): fixed summaries regardless of scale — the actual
    // 100 TB configuration, vs the capacity-exact gate regime above
    ("topk_sketch_subcap", None, topkSubcapProbe _),
    // round-7 second-pass operators:
    // span dedup — two shuffle-on-md5-key aggregations + a key join;
    // hash keys are fixed-width so shuffle bytes track span count
    ("dedup_spans", None, SparkEntry.queries("dedup_spans_documents")),
    // incremental dedup — corpus-side work is ONE sketch aggregation
    // (no corpus shuffle); batch work is a map-side probe + a
    // candidate-sized broadcast confirm → expect near-linear in the
    // SCAN with a flat join component
    ("dedup_incremental", None,
      SparkEntry.queries("dedup_incremental_documents")),
    // shuffle-sharding — stateless assignment + one window partitioned
    // by 16 shards: the window sort dominates and parallelism is the
    // shard count, so this probe is the documented nShards-cap evidence
    ("corpus_shard", None, SparkEntry.queries("corpus_shard_documents")),
    // rolling features — one entity-key window over the users-grow
    // events corpus: constant per-key work, more keys → expect flat-ish
    ("features_rolling", None,
      SparkEntry.queries("features_rolling_events")),
    // salient terms — the scaled corpus suffixes every token per copy,
    // so the VOCABULARY (and the broadcast df side) grows ×mult: this
    // probe watches the dictionary-broadcast design point, not just the
    // scan
    ("text_topterms", None, SparkEntry.queries("text_topterms_documents")),
    // r8 additions (r7 verdict #5): the remaining un-probed lanes.
    // vocab — the r8 TakeOrdered fix's stress case: the scaled corpus
    // suffixes every token per copy, so the DISTINCT-token frame (the
    // thing the old single-task window sorted) grows ×mult while the
    // result stays 50 rows
    ("text_vocab", None, SparkEntry.queries("text_vocab_documents")),
    // surgical scrub — broadcast gram probe + HIT-only explode: hits
    // grow with planted contamination (per-copy), the token rebuild
    // with the corpus
    ("decontam_scrub", None,
      SparkEntry.queries("decontam_scrub_spans_documents")),
    // VARIANT promotion — pure codegen'd per-row from_json: should be
    // the flattest scan-bound row (plus its determinism orderBy)
    ("props_promote", None, SparkEntry.queries("events_props_promote")),
    // snapshot diff, raw vs bucketed: the raw form pays the full-outer
    // join's two exchanges every run; the bucketed form reads the
    // staged tables (staging memoized per corpus — min-of-3 reports
    // the amortized diff-only cost). The gap is the BucketedStage
    // amortization story on its second consumer.
    ("snapshot_diff", None, SparkEntry.queries("snapshot_diff_orders")),
    ("snapshot_diff_bucketed", None,
      SparkEntry.queries("snapshot_diff_bucketed")),
    // k-anonymity — one combinable hash agg + filter over customer:
    // expect scan-bound (the scaled corpus grows group COUNTS, not the
    // group population)
    ("pii_kanon", None, SparkEntry.queries("pii_kanon_customer")),
    // ordered funnel — one user-key exchange + stacked running windows
    // over the users-grow events corpus: constant per-key work
    ("events_funnel", None, SparkEntry.queries("events_funnel")),
    // quantized brute top-k — linear in corpus like the float brute
    // (same Θ(n·q) shape, reading the 4×-smaller representation)
    ("sim_topk_quantized", None,
      SparkEntry.queries("sim_topk_quantized")),
    // Q5 deep join — facts scale, dims stay fixed (the TPC-H scaling
    // model; the probe corpus carries the sf0.1 dims verbatim): the
    // broadcast chain is scale-invariant, the fact exchanges grow
    ("join_q5", None, SparkEntry.queries("join_q5_region_revenue")),
    // dataset-overlap matrix — fingerprint-keyed self-join; the scaled
    // corpus keeps 20 sources, so the S² skeleton is constant and the
    // distinct/join legs track the corpus
    ("source_overlap", None, SparkEntry.queries("corpus_source_overlap")),
    // streaming funnel — per-user state machine through a real
    // StreamingQuery over the users-grow corpus: more keys, constant
    // per-key state
    ("stream_funnel", None, SparkEntry.queries("stream_funnel_events")),
    // r9: the production auto-trained IVF (√n lists — nlist grows with
    // the corpus, so per-query candidate volume stays ~nprobe·√n) and
    // the pinned-quantizer gate lane (FIXED 16 lists: candidates grow
    // linearly — the regime contrast that shows why production re-sizes
    // the quantizer as the corpus grows)
    ("sim_ivf_trained", None, SparkEntry.queries("sim_topk_ivf_trained")),
    ("sim_ivf_pinned", None, SparkEntry.queries("sim_topk_ivf")),
    // the probe-budget knob: radius-1 probing bounds the per-table mask
    // count at 1+b (vs radius 2's 1+b+b(b−1)/2 — the b² term that
    // dominates collision generation once scaledBits passes ~14). The
    // recall trade is the analytic per-table hit rate (see the
    // lshKnnGraph scaladoc); this row measures the wall-clock side
    ("knn_lsh_r1", None, knnLshRadius1Probe _),
    // r9 second pass: BM25 retrieval — one corpus-stats aggregation +
    // one map-side-filtered pivot aggregation: expect scan-bound (the
    // query-term token stream grows ×mult, everything else is a
    // broadcast row)
    ("text_bm25", None, SparkEntry.queries("text_bm25_documents")),
    // fuzzy entity-matching join over a corpus-sized name relation
    // (8-hex-char md5-prefix names derived per doc — sparse matches,
    // which is the record-linkage regime): signature generation is
    // map-side ×(1+L) rows, the equi-join shuffles short keys — expect
    // near-linear until signature-bucket occupancy grows
    ("fuzzy_join", None, fuzzyJoinProbe _),
    // drift — two count aggs over modulo-derived lineitem snapshots +
    // a value-cardinality-sized join: expect scan-bound (the bucketed
    // value domain is fixed-width, so only the aggregation input grows)
    ("dq_drift", None, driftProbe _),
    // FK audit — distinct aggs + a key-cardinality join per pair over
    // the scaled fact tables: distinct counts grow ×mult, the join is
    // on the (much smaller) key frames
    ("fk_discovery", None, fkProbe _),
    // r9 third pass: retention cohorts over the users-grow events
    // corpus — the one corpus pass is the (user, week) combinable
    // distinct; more users, constant per-key weeks → expect near-flat
    ("events_retention", None,
      SparkEntry.queries("events_retention_cohorts")),
    // split + leakage audit — stateless md5 assignment + ONE persisted
    // (fingerprint, split) aggregation; everything downstream is
    // fingerprint-sized → expect scan-bound
    ("corpus_split", None, SparkEntry.queries("corpus_split_documents")),
    // projected two-stage ANN — Θ(n·q) coarse scan over the 16-dim
    // sketch + a candidate-sized re-rank: linear in corpus at fixed
    // query count, reading a quarter of the floats the float brute
    // force reads
    ("sim_topk_projected", None, SparkEntry.queries("sim_topk_projected")),
    // resample + forward fill over the users-grow events corpus: more
    // keys, constant slots per key — work linear in keys, window state
    // bounded per key → expect near-linear with flat per-key cost
    ("events_resample", None, SparkEntry.queries("events_resample_ffill")),
    // robust anomalies composed on the resampled series: two grouped
    // exact percentiles whose per-key state is bounded by the key's
    // slot count → expect near-linear in keys, never superlinear
    ("events_anomaly", None, SparkEntry.queries("events_anomaly_robust")),
    // change-point detection composed on the resampled series: one
    // bounded-frame window pass per key + report-sized suppression →
    // expect near-linear in keys, never superlinear
    ("events_changepoint", None, SparkEntry.queries("events_changepoints")),
    // collocations — explode + two combinable counts; the unigram join
    // is vocabulary-sized (fixed word domain here) → expect scan-bound
    ("text_collocations", None,
      SparkEntry.queries("text_collocations_documents")),
    // boilerplate removal — line explode + template-cardinality count
    // + ONE regroup shuffle by doc: linear in corpus lines
    ("text_boilerplate", None,
      SparkEntry.queries("text_boilerplate_documents")),
    // incremental aggregate maintenance — bootstrap agg over the corpus
    // + change-feed-sized delta + group-cardinality join: the BOOTSTRAP
    // dominates at probe (the apply path alone is feed-sized by the
    // IncrementalAggSpec plan pin) → expect scan-bound
    ("agg_incremental", None, SparkEntry.queries("agg_incremental_events")),
    // correlation matrix — one combinable moment aggregation over the
    // pruned 3-column scan → expect scan-bound
    ("profile_corr", None, SparkEntry.queries("profile_corr_lineitem")),
    // quantile binning — per-group exact percentile (bounded groups) +
    // broadcast cut join + histogram agg → expect near-linear with the
    // percentile's per-group sort as the constant
    ("features_bins", None, SparkEntry.queries("features_quantile_bins")),
    // z-order layout evaluation — two combinable file-stat aggregations
    // over a codegen'd bit-interleave projection → expect scan-bound
    ("layout_zorder", None, SparkEntry.queries("layout_zorder_pruning")),
    // growth accounting — one combinable (user, bucket) distinct + a
    // user×buckets self-join; the windows run at bucket grain (fixed
    // time range) → expect near-linear in users
    ("events_growth", None, SparkEntry.queries("events_user_growth")),
    // semantic decontam — broadcast eval probe, map-side n×|eval|
    // scoring, combinable per-item max → expect linear in corpus at
    // fixed eval size
    ("decontam_semantic", None,
      SparkEntry.queries("decontam_semantic_embeddings")),
    // bucketed range join — interval explode bounded by length÷width,
    // points key into one bucket, equi-join + residual → expect
    // near-linear in events (users and their windows grow together)
    ("range_join", None, SparkEntry.queries("range_join_events")),
    // association rules — one basket aggregation + map-side C(k,2)
    // pair expansion bounded by maxBasket → expect near-linear in
    // baskets
    ("events_assoc", None, SparkEntry.queries("events_assoc_rules")),
    // r9 fifth pass: min/max maintained-view delta — bootstrap agg +
    // feed-sized delta + touched-group repair scan (repair scope is
    // delete-bounded, not corpus-bounded) → expect scan-bound like
    // agg_incremental
    ("agg_incremental_minmax", None,
      SparkEntry.queries("agg_incremental_minmax_events")),
    // transition matrix — ONE user-key window exchange then a
    // domain²-sized count over the users-grow corpus → expect the
    // keyed-window constant (sessionize/features_rolling family)
    ("events_transitions", None, SparkEntry.queries("events_transitions")),
    // winsorized z-score — two group-bounded stat aggregations +
    // broadcast joins + final histogram-grain agg → expect scan-bound
    ("features_standardize", None,
      SparkEntry.queries("features_standardize")),
    // unigram-LM scoring — two tokenize passes (counts → top-V +
    // total, then per-doc join agg); the scaled corpus suffixes tokens
    // per copy so the counts frame grows ×mult while the broadcast
    // vocab stays V rows → expect near-linear in tokens
    ("text_lm_score", None, SparkEntry.queries("text_lm_score_documents")),
    // CMS — one fixed-state scalar aggregate (4×32 longs) + a
    // domain-sized estimate join: the flattest sketch row, like
    // topk_sketch_subcap
    ("profile_cms", None, SparkEntry.queries("profile_cms_events")),
    // attribution — one key-window pass (shared frame for both
    // extremes) over the users-grow corpus + a channel-domain agg →
    // expect the keyed-window constant (transitions family)
    ("events_attribution", None,
      SparkEntry.queries("events_attribution")),
    // PageRank — 3 × (edge join + dst sum) over the FULL order-part
    // graph (the gate lane runs a category slice; the probe stresses
    // the whole thing); edges grow ×mult, the rank frame with the node
    // count → expect near-linear in edges with the per-iteration
    // shuffle as the slope
    ("graph_pagerank", None, pagerankFullProbe _),
    // triangle counting — basket C(k,2) expansion is map-side, the
    // wedge join fans out on ORIENTED out-degrees (√m-bounded), closing
    // is one semi-join: expect near-linear in wedges, which grow with
    // co-purchase density, not corpus length alone
    ("graph_triangles", None,
      SparkEntry.queries("graph_triangles_parts")),
    // BPE merge induction — ONE corpus pass (word counts) then
    // O(steps · W) iteration off the checkpointed top-W frame: expect
    // scan-bound (the scaled corpus suffixes tokens per copy, growing
    // the counts frame ×mult while W stays fixed)
    ("text_bpe", None,
      SparkEntry.queries("text_bpe_merges_documents")),
    // connected components — per round one edge join + one node-sized
    // self-join; scaled copies re-slice %16 over offset orderkeys, so
    // edges grow ×mult while the fixed 6 relax+jump rounds stay put:
    // expect near-linear in edges with the round count as the constant
    ("graph_components", None,
      SparkEntry.queries("graph_components_parts")),
    // sixth-pass lanes over scaled fact tables: journeys/actives/
    // ab-test are one combinable corpus pass + domain-sized tails →
    // expect scan-bound; the markov value iteration is domain-fixed
    ("events_markov", None,
      SparkEntry.queries("events_markov_attribution")),
    ("events_actives", None, SparkEntry.queries("events_active_users")),
    ("events_abtest", None, SparkEntry.queries("events_ab_test")),
    ("dq_suite", None, SparkEntry.queries("dq_suite_orders")),
    ("profile_melted", None,
      SparkEntry.queries("profile_melted_lineitem")),
    // golden records — fuzzy signatures fan out map-side over the
    // scaled customer dim; component rounds fixed → near-linear in
    // names until signature-bucket occupancy grows
    ("mdm_golden", None, SparkEntry.queries("mdm_golden_customers")),
    // closure — pairs grow as keys·log(keys); 5 doubling rounds fixed
    ("graph_closure", None,
      SparkEntry.queries("graph_closure_customers")),
    // r11 lanes: BPE ENCODE — one corpus (doc, word) aggregation, then
    // merge application over the DICTIONARY (O(rules·vocab), never
    // O(rules·corpus)) and the occurrence join back → expect
    // near-linear in tokens with the dictionary join as the slope
    ("text_bpe_encode", None,
      SparkEntry.queries("text_bpe_encode_documents")),
    // k-means — bounded 256·k training sample + ONE map-side argmin
    // assignment scan + exact-decimal inertia aggregation → expect
    // scan-bound
    ("cluster_kmeans", None,
      SparkEntry.queries("cluster_kmeans_embeddings")),
    // domain roll-up — map-side URL normalization + one combinable
    // domain aggregation (share division reads the report frame) →
    // expect scan-bound
    ("corpus_domains", None,
      SparkEntry.queries("corpus_domains_documents")),
    // temperature mixing — one combinable source aggregation +
    // |sources|-sized target math + the per-source cumsum window →
    // expect the mixing-family shape (near-linear, window per source)
    ("mix_temperature", None,
      SparkEntry.queries("corpus_mix_temperature_documents")),
    // quality buckets — LM scoring (two tokenize passes) + the
    // profiler's bounded bucket-count quantile selection + one bucket
    // roll-up → expect the text_lm_score slope plus a flat cut cost
    ("quality_buckets", None,
      SparkEntry.queries("corpus_quality_buckets_documents")),
    // novelty — shingle explode + per-doc distinct + two combinable
    // aggregations: the span-dedup frame without the join back →
    // expect near-linear in shingles
    ("dedup_novelty", None,
      SparkEntry.queries("dedup_novelty_documents")),
    // r12: SemDeDup COMPOSED run — clusterCount(n) actually grows with
    // the corpus (x1 = 2k embeddings → k = 20, driver trainer +
    // literal argmin; x10 = 20k → k = 200, Spark ML trainer +
    // broadcast-join assignment), so this row exercises the k-growth
    // machinery end to end: occupancy stays ~100, so within-cluster
    // pairs grow O(n·occupancy) → expect near-linear with the ML-fit
    // jobs as a fixed tax at the top scale
    ("cluster_semdedup", None, semdedupProbe _),
    // r12: incremental MinHash probe — the batch (20% of docs) probes
    // the corpus band index; both sides grow ×mult but the corpus is
    // streamed once and everything after the bucket match is
    // candidate-sized → expect the minhash family's slope (the index
    // build dominates), never the self-join's
    ("dedup_incremental_minhash", None,
      SparkEntry.queries("dedup_incremental_minhash_documents")),
    // the streaming twin: same probe work + the per-micro-batch
    // foreachBatch machinery (state append, checkpoint) as a fixed tax
    // → expect the batch row's slope shifted up by a constant
    // (the BATCH-COUNT axis lives in graft.tools.NearDupBatchProbe —
    // fixed corpus, growing micro-batch count, compaction off/on)
    ("stream_neardup", None,
      SparkEntry.queries("stream_neardup_documents")),
    // r13 lanes. HTML/markdown extraction — one map-side regexp chain,
    // no shuffle → expect pure scan-bound linearity (the flattest text
    // rows); any superlinearity here would mean the chain fell out of
    // codegen
    ("text_extract_html", None,
      SparkEntry.queries("text_extract_html_documents")),
    ("text_extract_markdown", None,
      SparkEntry.queries("text_extract_markdown_documents")),
    // quality classifier — LIVE training collects the corpus at gate
    // shape, so the probe isolates the real scale path: PINNED-weight
    // inference only (one map-side scan, the production
    // apply-per-batch seam)
    ("text_quality_infer", None, qualityInferProbe _),
    // composed curation loop at its PRODUCTION shape: the registered
    // lane pins k = 8 centroids (gate-corpus SemDeDup), which would go
    // quadratic-within-cluster as embeddings scale — the probe instead
    // runs SemDedup.run's occupancy rule (k grows with n), i.e. what a
    // real deployment runs. Expect the extraction scan term plus the
    // cluster_semdedup row's near-linear dedup term.
    ("corpus_curate_e2e", None, curateE2eProbe _),
    // r14 lanes. Repeated-substring coverage — ONE gram-keyed exchange
    // (60-bit hashes, never strings), a join back that reuses the same
    // hash partitioning, and a doc-keyed interval window: expect
    // near-linear in total tokens (the scaled corpora suffix tokens
    // per copy, so cross-copy repeats do not explode the matched side)
    ("dedup_substring", None,
      SparkEntry.queries("dedup_substring_documents")),
    // routed temperature mixing — one (route, source) aggregate + one
    // corpus shuffle for the selection window at ANY route count:
    // expect the un-routed mixing family's slope
    ("route_lang_mix", None,
      SparkEntry.queries("corpus_route_lang_documents")),
    // perceptual image hash — map-side seam hashing + the 16-bit-chunk
    // banded self-join (candidates bounded by same-chunk pairs):
    // near-linear while the planted dup rate stays per-copy
    ("image_hash", None,
      SparkEntry.queries("dedup_image_hash_documents")),
    // acoustic fingerprint — pure map-side RIFF parse + energy hash,
    // report windows over the fp-grouped frame: flattest new row
    ("audio_hash", None,
      SparkEntry.queries("dedup_audio_hash_documents")),
    // Gopher line signals — a single map-side projection: scan-bound
    ("gopher_signals", None,
      SparkEntry.queries("text_gopher_documents")),
    // r15 additions. Model-routed curation: live driver training
    // (id-sorted, capped) + map-side literal-weight line inference +
    // the routed-mixing shuffle — expect the route_lang_mix slope
    // plus the linear training term
    ("route_lang_model", None,
      SparkEntry.queries("corpus_route_lang_model_documents")),
    // banded media near-dup: map-side parse + the bounded
    // fingerprint-group join (candidates capped per bucket) — the
    // bound is the 100 TB claim this row measures
    ("media_neardup", None,
      SparkEntry.queries("dedup_audio_neardup_documents")),
    // partition-pruned merge: stage + merge; I/O O(touched)+O(batch)
    // per batch — at fixed nParts the touched set saturates, so the
    // slope should be the staging scan, not the merge
    ("pruned_merge", None,
      SparkEntry.queries("scd1_merge_pruned_events")),
    // threshold selection: one map-side scoring pass + a 9-row
    // suffix window — scan-bound
    ("quality_threshold", None,
      SparkEntry.queries("text_quality_threshold_documents")))

  /** The composed curation loop (NFC → extraction → pinned-weight
    * scoring → SemDeDup → temperature mixing) with the SCALE-path
    * SemDeDup (occupancy-rule k, fitAuto) instead of the gate lane's
    * pinned 8 centroids. Scaled corpora stride doc_id and vec_id
    * independently, so the embedding join covers the id intersection —
    * per-stage volumes still grow with the corpus, which is what the
    * probe measures.
    */
  private def curateE2eProbe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{abs => _, _}
    val docs = graft.io.Tables.load(s, dir, "documents",
      parallelize = true)
    val scored = graft.text.QualityModel.scorePinned(
        graft.text.HtmlExtract.extract(
          graft.text.TextQueries.withHtmlFixture(docs)
            .withColumn("html",
              graft.text.TextAnalysis.nfc(col("html"))),
          "doc_id", "html", keepCols = Seq("source")),
        "doc_id", "text", graft.text.QualityGatePinned.weights,
        graft.text.QualityGatePinned.bias, keepCols = Seq("source"))
      .select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("keep"))
      .localCheckpoint(true)
    val q = scored.filter(col("keep"))
    val pruned = graft.sim.SemDedup.run(
        graft.io.Tables.load(s, dir, "embeddings")
          .join(q.select(col("doc_id").as("vec_id")), Seq("vec_id")),
        "vec_id", "embedding", tau = 0.3)
      .filter(col("kept")).select(col("vec_id").as("doc_id"))
      .localCheckpoint(true)
    val sel = graft.pipeline.Mixing.byTemperatureT2(
        q.join(pruned, Seq("doc_id")), "source", "doc_id", "n_tokens",
        totalTokens = 5000L)
      .select(col("doc_id"), lit(true).as("__sel"))
    scored
      .join(pruned.withColumn("__dd", lit(true)), Seq("doc_id"), "left")
      .join(sel, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("__dd"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("__sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("__sel"), col("n_tokens")).otherwise(0L))
          .as("sel_tokens"))
      .orderBy("source")
  }

  /** Pinned-weight quality inference over the scaled corpus — the
    * production seam ([[graft.text.QualityModel.scorePinned]]); the
    * registered lane's LIVE training is gate-corpus-bounded by
    * contract, so the probe measures the part that actually scales.
    */
  private def qualityInferProbe(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityModel.scorePinned(
      graft.io.Tables.load(s, dir, "documents", parallelize = true),
      "doc_id", "text", graft.text.QualityGatePinned.weights,
      graft.text.QualityGatePinned.bias)

  /** PageRank over the UNFILTERED order-part graph (the gate lane's
    * category slice removed): the full per-iteration shuffle volume.
    */
  private def pagerankFullProbe(s: SparkSession, dir: String): DataFrame =
    graft.graph.PageRank.ranks(
        graft.graph.GraphQueries.orderPartEdges(
          graft.io.Tables.load(s, dir, "lineitem", parallelize = true)),
        3, assumeDistinct = true, assumeMirrored = true)
      .orderBy(col("r").desc, col("node")).limit(20)

  /** SemDeDup at its own occupancy rule: k = clusterCount(n) grows
    * with the corpus — the composed fitAuto + prune path (the
    * registered gate lane pins k at the gate corpus's value; this row
    * is where k actually grows, per the r11 verdict directive).
    */
  private def semdedupProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.io.Tables.load(s, dir, "embeddings")
    graft.sim.SemDedup.run(emb, "vec_id", "embedding", tau = 0.3,
        totalRows = Some(graft.io.Tables.rowCount(s, dir, "embeddings")))
      .orderBy("vec_id")
  }

  private def driftProbe(s: SparkSession, dir: String): DataFrame = {
    val li = graft.io.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    graft.dq.Drift.numericDrift(
      li.filter(col("l_orderkey") % 11 =!= 0),
      li.filter(col("l_orderkey") % 13 =!= 0),
      "l_extendedprice", width = 5000.0)
  }

  /** FK probe: the lineitem→orders inclusion audit over the scaled
    * fact side (scaled copies offset l_orderkey past the unscaled
    * orders domain, so containment honestly drops with scale — the
    * timing, not the metric, is what this row measures).
    */
  private def fkProbe(s: SparkSession, dir: String): DataFrame =
    graft.io.FkDiscovery.audit(Seq(graft.io.FkDiscovery.Candidate(
      "lineitem", graft.io.Tables.load(s, dir, "lineitem"), "l_orderkey",
      "orders", graft.io.Tables.load(s, dir, "orders"), "o_orderkey")))

  /** Fuzzy-join probe relation: one short name per document (md5-prefix
    * — deterministic, collision-sparse), matched at d=1.
    */
  private def fuzzyJoinProbe(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.FuzzyJoin.selfMatch(
        graft.io.Tables.load(s, dir, "documents", parallelize = true)
          .select(org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(
              col("doc_id").cast("string")), 1, 8).as("name")),
        "name", maxDist = 1)
      .orderBy("name_a", "name_b")

  /** Production MinHash lane (xxhash base + band hashes — the form
    * [[graft.dedup.Dedup.nearDuplicates]] defaults to; the registered
    * gate query runs the md5 oracle family since r8).
    */
  private def knnBruteProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.io.Tables.load(s, dir, "embeddings")
    graft.sim.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        graft.sim.SimilarityQueries.GraphK)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  private def simhashProductionProbe(s: SparkSession,
      dir: String): DataFrame =
    graft.dedup.SimHash.nearDuplicates(
        graft.io.Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text", shingleK = 3, maxHamming = 12)

  private def minhashProductionProbe(s: SparkSession,
      dir: String): DataFrame =
    graft.dedup.Dedup.nearDuplicates(
        graft.io.Tables.load(s, dir, "documents", parallelize = true),
        "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Production k-NN graph (AUTO-scaled LSH width — the registered gate
    * query pins the 8-bit gate width since r8; the auto form is the
    * 100 TB default whose O(n) candidate claim this probe measures).
    */
  private def knnLshProductionProbe(s: SparkSession,
      dir: String): DataFrame = {
    val emb = graft.io.Tables.load(s, dir, "embeddings")
    graft.sim.Similarity.lshKnnGraph(emb, "vec_id", "embedding",
        graft.sim.SimilarityQueries.GraphK,
        corpusSize = Some(graft.io.Tables.rowCount(s, dir, "embeddings")))
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** Same auto-width graph at probe radius 1 — the bounded-probe-budget
    * configuration for the high-bits regime.
    */
  private def knnLshRadius1Probe(s: SparkSession,
      dir: String): DataFrame = {
    val emb = graft.io.Tables.load(s, dir, "embeddings")
    graft.sim.Similarity.lshKnnGraph(emb, "vec_id", "embedding",
        graft.sim.SimilarityQueries.GraphK, probeRadius = 1,
        corpusSize = Some(graft.io.Tables.rowCount(s, dir, "embeddings")))
      .select("query_id", "rank", "neighbor_id", "cosine")
      .orderBy("query_id", "rank")
  }

  /** The bucketed join's foil: same join/aggregate off the raw parquet
    * tables — both fact sides shuffle on the key every run.
    */
  private def shuffledJoinProbe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.io.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .hint("merge")
      .join(graft.io.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("line_cnt"))
      .orderBy("o_orderstatus")
  }

  /** graft_topk with capacity 64 — far below l_partkey's distinct count
    * at every probe scale, so the Misra–Gries summaries stay fixed-size
    * while the data grows.
    */
  private def topkSubcapProbe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.io.Tables.load(s, dir, "lineitem", parallelize = true)
      .agg(graft.functions.VectorExpressions.approxTopK(
        col("l_partkey").cast("string"), 64, 10).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.value").as("value"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("value"))
  }

  def main(args: Array[String]): Unit = {
    val scales = args.toSeq.filterNot(_.startsWith("only="))
      .map { a =>
        val Array(label, dir) = a.split("=", 2)
        (label, dir)
      }
    require(scales.nonEmpty, "usage: ScaleProbe label=dir ... [only=p1,p2]")
    val only = args.find(_.startsWith("only="))
      .map(_.drop(5).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = probes.filter { case (n, _, _) => only.forall(_.contains(n)) }
    val spark = Sessions.local()
    val warmDir = "/root/testdata/sf0.001"
    Bench.warmUp(spark, warmDir, selected.map(_._3))
    selected.foreach { case (name, labelFilter, fn) =>
      scales.foreach { case (label, dir) =>
        if (labelFilter.forall(_.contains(label))) {
          val times = (1 to 3).map(_ => Bench.timedRun(spark, fn, dir))
          println(f"""SCALEPROBE {"probe":"$name","scale":"$label",""" +
            f""""min":${times.min}%.3f,"runs":[""" +
            times.map(t => f"$t%.3f").mkString(",") + "]}")
        }
      }
    }
    spark.stop()
  }
}
