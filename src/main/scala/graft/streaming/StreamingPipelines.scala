package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Scd1
import graft.util.{DeferredCleanup, DirSwap, Frames, Gates}

/** Structured Streaming extensions (SURVEY §2i — post-parity; the
  * reference has no streaming surface, so nothing here claims reference
  * citations).
  *
  * Design rule: every streaming capability REUSES the batch operator it
  * extends — the batch DQ/profile/merge pass is re-runnable incrementally
  * via `readStream` + `foreachBatch`, so semantics stay oracle-pinned by
  * the batch tests.
  *
  *   - [[windowedEventStats]]: tumbling-window counts/sums with a
  *     watermark (late data beyond the watermark is dropped, state is
  *     bounded — the 100 TB requirement for an infinite stream).
  *   - [[incrementalScd1]]: per-micro-batch SCD1 upsert into a parquet
  *     target using [[Scd1.merge]] — the streaming form of the reference's
  *     generated MERGE pipeline (`/root/reference/CODE_GENERATOR.sql:39-59`
  *     cited for the batch semantics being reused, not a streaming claim).
  *   - [[profileStream]]: per-micro-batch profiling via the batch
  *     [[graft.profile.Profiler]], appended to a results sink with a
  *     batch-id column.
  */
object StreamingPipelines {

  /** Tumbling-window event statistics with bounded state.
    *
    * @param events    streaming DataFrame with `tsCol` (timestamp),
    *                  `event_type`, `value`
    * @param window    tumbling window width, e.g. "1 hour"
    * @param watermark lateness bound, e.g. "2 hours"
    */
  def windowedEventStats(events: DataFrame, tsCol: String,
      window: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    windowedEventStatsWatermarked(
      events.withWatermark(tsCol, watermark), tsCol, window)

  /** [[windowedEventStats]] for an input that ALREADY carries a
    * watermark — the composition form: chaining stateful operators
    * (e.g. [[dedupStream]] → windowed agg) in one StreamingQuery
    * inherits the upstream watermark, and redefining it downstream is an
    * AnalysisException under multiple-stateful-operator support.
    */
  def windowedEventStatsWatermarked(events: DataFrame, tsCol: String,
      window: String): DataFrame =
    events
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window)
          .as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("win.start").as("window_start"),
        col("win.end").as("window_end"), col("event_type"), col("n"),
        col("value_sum"))

  /** Bounded-state streaming deduplication: keep the first arrival of each
    * key, dropping re-deliveries that land within the watermark horizon.
    * `dropDuplicatesWithinWatermark` evicts key state once the watermark
    * passes it — the ONLY dedup form whose state stays bounded on an
    * infinite stream (plain `dropDuplicates` keys state forever). The
    * streaming counterpart of the batch [[graft.dedup.Dedup.exact]].
    *
    * @param tsCol     event-time column the watermark rides on
    * @param watermark re-delivery horizon, e.g. "2 days": duplicates
    *                  arriving later than this after the original may
    *                  survive (at-least-once → effectively-once, bounded
    *                  by the horizon)
    */
  def dedupStream(source: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    source.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream interval join: left rows match right rows
    * with the same `equi` key whose right timestamp is within
    * `[leftTs, leftTs + lookback]` — i.e. the left event happened in the
    * `lookback` window BEFORE the right one (attribution joins:
    * clicks-before-purchase). The two-sided time bound in the join
    * condition plus both watermarks is what lets Spark evict join state —
    * the only stream-stream join form with bounded memory on an infinite
    * stream. Both inputs must use distinct column names.
    */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
      rightTs: String, equi: org.apache.spark.sql.Column,
      lookback: String, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        equi && col(leftTs) >= col(rightTs) - expr(s"INTERVAL $lookback")
          && col(leftTs) <= col(rightTs))

  /** Incremental SCD1: each micro-batch is merged into the parquet target
    * with the batch [[Scd1.merge]] (latest-per-key dedup inside the batch,
    * anti-join + union against the current target), written to
    * `<target>.tmp` and swapped in through `<target>.bak`
    * ([[graft.util.DirSwap]]); each batch first finishes a swap that
    * crashed, so a replayed batch merges into the old or the new target,
    * both fixed points of the upsert.
    *
    * Latest-per-key within a batch, source wins across batches (as the
    * reference's generated MERGE does): a later batch's row replaces
    * the target's row for its key even when its `orderCol` is older. The
    * target equals [[Scd1.latestPerKey]] over the whole stream only when
    * batches arrive in event-time order; callers who need that must feed
    * them so.
    *
    * Returns the started query; callers await/stop it. Use
    * `Trigger.AvailableNow` for catch-up runs (tests), a processing-time
    * trigger for live tailing.
    */
  def incrementalScd1(source: DataFrame, targetPath: String,
      keys: Seq[String], orderCol: String, tieBreakers: Seq[String] = Nil,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    eachBatch(source, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val target = existingTarget(spark, targetPath, batch)
      val merged = Scd1.merge(target, batch, keys, orderCol, tieBreakers)
      swapInto(merged, targetPath)
    }

  /** Run `f` on every micro-batch of `source` (append mode) under
    * `checkpoint`; returns the started query. Each batch runs in its own
    * [[DeferredCleanup.scoped]], so a cache that `f` (or an operator it
    * calls) defers is released when the batch ends.
    */
  private def eachBatch(source: DataFrame, checkpoint: String,
      trigger: Trigger)(f: (DataFrame, Long) => Unit): StreamingQuery = {
    val scopedF: (DataFrame, Long) => Unit =
      (batch, batchId) => DeferredCleanup.scoped(f(batch, batchId))
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(scopedF)
      .start()
  }

  /** Restore scan parallelism for a micro-batch before heavy fused
    * map work (tokenize/shingle/fingerprint/extract chains): a
    * FileStreamSource batch over few — often one single-row-group —
    * files arrives with that few partitions, so the whole per-doc map
    * chain would run in ONE task (measured ~2s single-threaded per
    * batch on the simhash gate lane; the [[graft.io.Tables]]
    * `parallelize` story on the stream side). Round-robin to the
    * FIXED [[graft.io.Tables.ScanParallelism]] — a literal, never the
    * core count, for the same reason Tables pins it: double
    * aggregates accumulate in partition order, and the bench re-runs
    * at several core counts. Batches that already carry ≥ that many
    * partitions (cluster-scale file splits) pass through untouched,
    * so at real scale this is a no-op, exactly like the batch
    * loader's repartition.
    */
  private def spread(batch: DataFrame): DataFrame = {
    val n = graft.io.Tables.ScanParallelism
    if (batch.rdd.getNumPartitions >= n) batch else batch.repartition(n)
  }

  /** [[spread]] gated on the micro-batch's INPUT SIZE rather than its
    * partition count ([[graft.util.Gates.spreads]]): a FileStreamSource
    * batch knows its file bytes exactly (logical-plan statistics — no
    * extra job). Below the gate the repartition is a pure tax (r16 A/B:
    * +0.2-0.5s per lane at gate scale); past it the pre-exchange
    * single-task segment (tokenize/shingle/gram explode) dominates the
    * batch (r17 A/B at 10× the gate corpus). At cluster scale big
    * batches arrive ≥ 32 partitions from file splits and this stays a
    * no-op, like [[spread]] itself.
    */
  private def spreadByBytes(batch: DataFrame): DataFrame =
    if (Gates.spreads(batch.queryExecution.optimizedPlan.stats.sizeInBytes))
      spread(batch)
    else batch

  /** Write `merged` to `<targetPath>.tmp` and swap it in
    * ([[DirSwap.replace]]): the merged plan READS `targetPath`, so a
    * direct overwrite would clobber its own input mid-scan.
    */
  private def swapInto(merged: DataFrame, targetPath: String): Unit = {
    val (dst, tmp, bak) = DirSwap.siblings(targetPath)
    merged.write.mode("overwrite").parquet(tmp.toString)
    DirSwap.replace(DirSwap.fsOf(merged.sparkSession, targetPath),
      dst, tmp, bak)
  }

  /** The target's current rows (empty before its first batch), after
    * finishing a swap that crashed ([[DirSwap.recover]]) — a replayed
    * batch must never mistake a target renamed aside for an absent one.
    */
  private def existingTarget(spark: SparkSession, path: String,
      batch: DataFrame): DataFrame = {
    val fs = DirSwap.fsOf(spark, path)
    val (p, tmp, bak) = DirSwap.siblings(path)
    DirSwap.recover(fs, p, tmp, bak)
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasData) spark.read.schema(batch.schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
  }

  /** Per-micro-batch profile of a stream using the batch Profiler; each
    * batch's per-column stats land in `resultsPath` tagged with the batch
    * id (an incremental DQ audit log).
    *
    * @param now injectable clock for the future-date pillar (same seam as
    *            [[graft.profile.Profiler.profile]]) — a fixed literal
    *            keeps an oracle-compared run deterministic.
    */
  def profileStream(source: DataFrame, resultsPath: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      now: org.apache.spark.sql.Column = current_timestamp())
      : StreamingQuery =
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      // NOT spread: A/B'd flat (2.09 vs 2.10) — the profile pass is
      // not the batch's bottleneck at gate scale
      graft.profile.Profiler.profile(batch, now = now)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(resultsPath)
    }

  /** Streaming rolling-actives maintenance ([[graft.pipeline.Actives]]
    * incrementally): per micro-batch, the batch's `(user, day)` pairs
    * union-distinct into the STATE frame (the reduced pairs frame —
    * user×active-days rows, never events; swapped through
    * `<statePath>.tmp`/`.bak` like [[incrementalScd1]]), then the
    * DAU/rolling/stickiness report recomputes from state alone and
    * overwrites `reportPath`.
    * Distinct-union is commutative and idempotent, so the result is
    * independent of the micro-batch cut and equals the batch operator
    * on the same corpus — the [[graft.streaming.MaintainedAgg]]
    * equality story, which is exactly what the gate lane's
    * batch-identical oracle pins.
    */
  def activesStream(source: DataFrame, userCol: String, tsCol: String,
      window: Int, statePath: String, reportPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(source, checkpoint, trigger) { (batch, _) =>
      val s = batch.sparkSession
      // NOT spread: A/B'd +0.16s — the pairs map is light and the
      // distinct-union exchange already fans out
      val newPairs = graft.pipeline.Actives.pairs(batch, userCol, tsCol)
      val merged = existingTarget(s, statePath, newPairs)
        .unionByName(newPairs).distinct()
      swapInto(merged, statePath)
      graft.pipeline.Actives
        .rollingFromPairs(s.read.parquet(statePath), window)
        .write.mode("overwrite").parquet(reportPath)
    }

  /** Read the matches sink [[nearDupStream]] maintains — one
    * overwrite-idempotent subdir per micro-batch, so a checkpoint-
    * replayed batch rewrites its own matches instead of appending
    * duplicates.
    */
  def nearDupMatches(s: SparkSession, matchesPath: String): DataFrame =
    s.read.option("recursiveFileLookup", "true").parquet(matchesPath)

  /** Streaming quality-model scoring
    * ([[graft.text.QualityModel.scorePinned]] incrementally — the
    * X102 classifier composed into the streaming family): each
    * micro-batch scores its documents with the LITERAL weights (the
    * apply-per-batch production seam) and writes its per-`groupCol`
    * partial aggregate `(n_docs, n_keep, margin_sum)` to a
    * batch-owned, overwrite-idempotent state subdir; the report
    * (totals + keep_rate) then re-aggregates the full state and
    * overwrites `reportPath`. Integer sums commute, so the report is
    * independent of the micro-batch cut and equals the batch operator
    * on the same corpus — the [[MaintainedAgg]] equality story the
    * gate lane's oracle pins. State layout, compaction and crash
    * recovery: [[BatchState]] (fold-inclusive).
    */
  def qualityStream(source: DataFrame, idCol: String, textCol: String,
      groupCol: String, weights: Array[Long], bias: Long,
      statePath: String, reportPath: String, checkpoint: String,
      compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    def total(parts: DataFrame): DataFrame =
      parts.groupBy(col(groupCol)).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_keep")).as("n_keep"),
        sum(col("margin_sum")).as("margin_sum"))
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.text.QualityModel
        .scorePinned(spread(batch), idCol, textCol, weights, bias,
          keepCols = Seq(groupCol))
        .groupBy(col(groupCol)).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          sum(col("margin")).as("margin_sum"))
        .write.mode("overwrite")
        .parquet(BatchState.partial(statePath, batchId))
      val st = BatchState.open(s, statePath, batchId + 1, compactEvery)
      // the checkpoint pays off only when the frame feeds BOTH the
      // report and a compaction fold; on ordinary batches the report
      // is the single consumer — write it straight
      val stateRaw = total(s.read.parquet(st.parts: _*))
      val state = if (st.due) stateRaw.localCheckpoint(true) else stateRaw
      state
        .select(col(groupCol), col("n_docs"), col("n_keep"),
          col("margin_sum"),
          (col("n_keep").cast("double") /
            greatest(col("n_docs"), lit(1L))).as("keep_rate"))
        .write.mode("overwrite").parquet(reportPath)
      st.compact(g => state.write.mode("overwrite").parquet(g))
    }
  }

  /** The STREAMING curation loop — the complete modern curation
    * pipeline (`corpus_curate_e2e_documents`: NFC → HTML extraction →
    * pinned-weight quality inference → SemDeDup pruning → temperature
    * mixing → per-source funnel) maintained through a real
    * StreamingQuery. Each micro-batch runs the map-side half
    * ([[graft.text.Curation.scoreDocs]] — extract + score, no
    * shuffle) and writes its per-doc METADATA partial
    * `(id, source, n_tokens, keep)` to a batch-owned,
    * overwrite-idempotent state subdir; the report then re-runs the
    * selection half ([[graft.text.Curation.funnel]] — SemDeDup with
    * the pinned centroids + T = 2 mixing, both global decisions that
    * need the full survivor set) over the maintained frame and
    * overwrites `reportPath`.
    *
    * Equality contract: a document's metadata row is a pure function
    * of the document alone, so the maintained frame — and therefore
    * the funnel computed from it — is independent of the micro-batch
    * cut and equals the batch lane on the same corpus (the
    * [[MaintainedAgg]] story; both halves are the literally-shared
    * [[graft.text.Curation]] code, so the engines cannot drift).
    *
    * State layout, compaction and crash recovery: [[BatchState]]
    * (fold-inclusive). Per-doc metadata is ~32 bytes × corpus docs —
    * columnar-compressed id/count rows, the same footprint contract as
    * the near-dup index state.
    */
  def curateStream(source: DataFrame, idCol: String, htmlCol: String,
      sourceCol: String, weights: Array[Long], bias: Long,
      embeddings: DataFrame, embIdCol: String, embCol: String,
      centroids: Array[Array[Double]], tau: Double, budget: Long,
      statePath: String, reportPath: String, checkpoint: String,
      compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      minScore: Long = graft.text.QualityThresholdPinned.MinScore)
      : StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      graft.text.Curation
        .scoreDocs(spread(batch), idCol, htmlCol, sourceCol, weights,
          bias, minScore)
        .write.mode("overwrite")
        .parquet(BatchState.partial(statePath, batchId))
      val st = BatchState.open(s, statePath, batchId + 1, compactEvery)
      // NO checkpoint on the state read: the partials are already
      // materialized parquet, so the funnel's three consumers each
      // re-scan metadata-sized files — cheaper than the extra
      // materialization job a localCheckpoint costs per batch
      val scored = s.read.parquet(st.parts: _*)
      graft.text.Curation
        .funnel(scored, idCol, sourceCol, embeddings, embIdCol,
          embCol, centroids, tau, budget)
        .write.mode("overwrite").parquet(reportPath)
      st.compact(g => scored.write.mode("overwrite").parquet(g))
    }
  }

  /** Streaming benchmark decontamination
    * ([[graft.text.Decontam.overlapReportFromArrays]] through a real
    * StreamingQuery — the X17 eval-gram probe applied at ingest time,
    * so contaminated documents are flagged as they ARRIVE instead of
    * in a later corpus pass): the eval side is FIXED (`evalArrays`
    * cached once here for the whole stream — the docGramArrays
    * materialization contract; released at the caller's
    * [[DeferredCleanup.drain]]), each micro-batch probes its
    * documents map-side against the broadcast set and writes its
    * per-doc contamination report to a batch-owned,
    * overwrite-idempotent subdir of `reportPath`
    * ([[nearDupMatches]]-style sink — read it with [[decontamReports]]),
    * and a one-row-per-batch corpus LEDGER (docs seen, contaminated,
    * gram totals) maintains under [[BatchState]] (fold-inclusive).
    *
    * A document's contamination depends only on (document, eval set) —
    * no cross-batch state — so the report sink equals the BATCH
    * operator under any micro-batch cut: the maintained-equality
    * story, which is exactly what the gate lane's oracle (the batch
    * lane's SQL verbatim) pins.
    */
  def decontamStream(source: DataFrame, idCol: String, textCol: String,
      evalArrays: DataFrame, n: Int, reportPath: String,
      ledgerPath: String, statePath: String, checkpoint: String,
      compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    // the docGramArrays contract: the frame the probe explodes must be
    // MATERIALIZED — cache the eval side once for the whole stream
    // (each batch re-derives only the bounded distinct gram set from
    // the cached arrays); deferred outside any batch scope, so it
    // outlives the batches and releases when the caller drains
    val evalCached = Frames.deferred(evalArrays)
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      Frames.cached(graft.text.Decontam
          .docGramArrays(spreadByBytes(batch), idCol, textCol, n)) { grams =>
        val report = graft.text.Decontam
          .overlapReportFromArrays(grams, evalCached, idCol)
          .localCheckpoint(true) // read by the sink AND the partial
        report.write.mode("overwrite")
          .parquet(s"$reportPath/b$batchId")
        // one-row batch partial for the maintained corpus ledger
        // coalesce: sum over an all-empty micro-batch is NULL (the
        // hits side already coalesces matched_grams the same way)
        val totals = grams.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("__grams")).cast("long")), lit(0L))
            .as("total_grams"))
        val hits = report.agg(
          count(lit(1)).as("contaminated_docs"),
          coalesce(sum(col("matched_grams")), lit(0L))
            .as("matched_grams"))
        totals.crossJoin(hits).write.mode("overwrite")
          .parquet(BatchState.partial(statePath, batchId))
      }
      val st = BatchState.open(s, statePath, batchId + 1, compactEvery)
      // checkpoint only when a compaction fold will read the frame
      // too; otherwise the ledger write is the single consumer
      val stateRaw = s.read.parquet(st.parts: _*)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_grams")).as("total_grams"),
          sum(col("contaminated_docs")).as("contaminated_docs"),
          sum(col("matched_grams")).as("matched_grams"))
      val state = if (st.due) stateRaw.localCheckpoint(true) else stateRaw
      state
        .select(col("n_docs"), col("contaminated_docs"),
          col("total_grams"), col("matched_grams"),
          (col("contaminated_docs").cast("double") /
            greatest(col("n_docs"), lit(1L)))
            .as("contaminated_frac"))
        .write.mode("overwrite").parquet(ledgerPath)
      st.compact(g => state.write.mode("overwrite").parquet(g))
    }
  }

  /** Read the per-doc contamination sink [[decontamStream]] maintains
    * (one overwrite-idempotent subdir per micro-batch).
    */
  def decontamReports(s: SparkSession, reportPath: String): DataFrame =
    s.read.option("recursiveFileLookup", "true").parquet(reportPath)

  /** STREAMING SimHash near-dup — the bounded fingerprint-group
    * report ([[graft.dedup.SimHash.nearDupFromGroups]]) MAINTAINED
    * through [[BatchState]]: each micro-batch fingerprints its
    * documents map-side (`fingerprintOf` — one projection, no
    * shuffle) and lands its per-fingerprint group partial
    * `(fp, min id, count)` in a batch-owned state dir; the partials
    * COMMUTE under (min, sum), so the folded index over ANY batch
    * cut equals the batch operator's group collapse, and the
    * maintained report — the shared banded/bounded/verified tail
    * over the folded groups — IS the batch near-dup report of the
    * drained corpus (the gate oracle is the batch lane's SQL
    * VERBATIM). State is FINGERPRINT-grain (one row per distinct
    * fingerprint — boilerplate pileups collapse in the partials
    * themselves, so a million identical docs cost ONE state row),
    * kept under [[BatchState]] (fold-inclusive).
    */
  def simhashStream(source: DataFrame, idCol: String, textCol: String,
      fingerprintOf: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column,
      chunkBits: Int, nChunks: Int, maxHamming: Int, maxBucket: Int,
      reportPath: String, statePath: String, checkpoint: String,
      compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      spread(batch)
        .select(col(idCol), fingerprintOf(col(textCol)).as("fp"))
        .groupBy("fp")
        .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__n"))
        .write.mode("overwrite")
        .parquet(BatchState.partial(statePath, batchId))
      val st = BatchState.open(s, statePath, batchId + 1, compactEvery)
      val parts = st.parts
      // a single state part (batch 0, or a replay right after a
      // compaction) IS the fold — each partial is already grouped
      // by fingerprint, so skip the re-aggregate and its barrier.
      // Multi-part folds checkpoint only when the compaction write
      // adds a third consumer: the report tail reads the fold from
      // exactly TWO subtrees (the chunk/window side is checkpointed
      // inside nearDupFromGroups, the diagonal re-aggregates), and
      // re-running the fingerprint-grain aggregate over materialized
      // state parquet twice is cheaper than the eager checkpoint
      // job it replaces (A/B'd on the gate lane this round)
      val foldedRaw =
        if (parts.size == 1) s.read.parquet(parts.head)
        else s.read.parquet(parts: _*)
          .groupBy("fp")
          .agg(min(col(idCol)).as(idCol), sum(col("__n")).as("__n"))
      val folded =
        if (st.due && parts.size > 1) foldedRaw.localCheckpoint(true)
        else foldedRaw
      graft.dedup.SimHash
        .nearDupFromGroups(folded, idCol, "fp", chunkBits, nChunks,
          maxHamming, maxBucket, persistIntermediates = false)
        .write.mode("overwrite").parquet(reportPath)
      st.compact(g => folded.write.mode("overwrite").parquet(g))
    }
  }

  /** STREAMING repeated-substring self-scrub —
    * [[graft.dedup.SubstringDedup]] through [[BatchState]]
    * (the ingest-time form a production corpus build runs): each
    * micro-batch lands TWO batch-owned state partials —
    * `b<i>/grams`, the per-gram `(gh, __n, __minkey)` aggregate
    * ([[graft.dedup.SubstringDedup.gramPartials]] — COMMUTING
    * sum/min partials, so the folded index is batch-cut-independent),
    * and `b<i>/docs`, the batch's materialized gram-array projection
    * (the persisted corpus index, the [[nearDupStream]] shingle-table
    * precedent at gram grain) — then the maintained report re-runs
    * the shared scrub core ([[graft.dedup.SubstringDedup
    * .scrubAgainstFirsts]]) over the folded first-occurrence index
    * and the docs-so-far state. Both halves are the BATCH operator's
    * own functions, which is what licenses the gate oracle to be the
    * batch lane's SQL verbatim: after the stream drains, the report
    * IS the batch scrub of the full corpus (a gram first seen in
    * batch 0 and repeated in batch 3 folds to `n = 2` with the global
    * minimal key — no strictly-earlier cutoff, unlike the near-dup
    * match sink whose arrival order is the semantics).
    *
    * State: [[BatchState]] (fold-inclusive); a compaction re-aggregates
    * `grams` and concatenates `docs`. The per-batch report recompute is
    * the maintained-report contract (the [[curateStream]] ruling);
    * a 100 TB deployment runs the report on a cadence instead by
    * raising `compactEvery` and reading the same state.
    */
  def substringScrubStream(source: DataFrame, idCol: String,
      textCol: String, minLen: Int, reportPath: String,
      statePath: String, checkpoint: String, compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      val own = BatchState.partial(statePath, batchId)
      // the gramArrays cache contract: the frame is read by the
      // docs-layer write AND the partial aggregate
      Frames.cached(graft.dedup.SubstringDedup
          .gramArrays(spreadByBytes(batch), idCol, textCol, minLen)) { arrays =>
        arrays.write.mode("overwrite").parquet(s"$own/docs")
        graft.dedup.SubstringDedup.gramPartials(arrays, idCol)
          .write.mode("overwrite").parquet(s"$own/grams")
      }
      val st = BatchState.open(s, statePath, batchId + 1, compactEvery,
        "docs", "grams")
      val docsState = s.read.parquet(st.layer("docs"): _*)
      val foldedRaw = graft.dedup.SubstringDedup.foldGramPartials(
        s.read.parquet(st.layer("grams"): _*))
      // checkpoint only when the compaction fold reads it too
      val folded =
        if (st.due) foldedRaw.localCheckpoint(true) else foldedRaw
      graft.dedup.SubstringDedup
        .scrubAgainstFirsts(docsState,
          graft.dedup.SubstringDedup.firstsOf(folded), idCol, minLen)
        .write.mode("overwrite").parquet(reportPath)
      st.compact { g =>
        folded.write.mode("overwrite").parquet(s"$g/grams")
        docsState.write.mode("overwrite").parquet(s"$g/docs")
      }
    }
  }

  /** Streaming incremental NEAR-dup dedup — [[graft.dedup.IncrementalNearDup]]
    * maintained through a real StreamingQuery: each micro-batch first
    * PROBES the persisted corpus LSH index (band + shingle-set tables
    * under `statePath`) for near-duplicates of its documents, writes
    * the verified `(batch_id, dup_of, jaccard)` matches to its own
    * subdir of `matchesPath` ([[nearDupMatches]] reads the sink), and
    * only then MERGES its own bands/sets into the index. A document
    * therefore matches exactly the documents that arrived in STRICTLY
    * EARLIER micro-batches — the daily-ingest semantics, with arrival
    * order supplied by the source ([[StreamStage.ensureOrdered]] for
    * the gate fixture). Probe-before-merge also means within-batch
    * pairs are out of scope, identical to the batch operator's
    * contract.
    *
    * State: [[BatchState]] with horizon `batchId` (the index holds
    * strictly earlier batches), sublayers `sets` and `bands` in the
    * persisted [[graft.dedup.IncrementalNearDup.Index]] layout — row
    * for row what [[graft.dedup.IncrementalNearDup.buildOracled]]
    * builds over the batch (the md5 family, 128 hashes, 32 bands).
    */
  def nearDupStream(source: DataFrame, idCol: String, textCol: String,
      statePath: String, matchesPath: String, checkpoint: String,
      threshold: Double = 0.8, compactEvery: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(compactEvery >= 2, "compactEvery must be at least 2")
    eachBatch(source, checkpoint, trigger) { (batch, batchId) =>
      val s = batch.sparkSession
      // writing the batch's sets/bands to its own partial materializes
      // them exactly ONCE (the write is the checkpoint — no separate
      // localCheckpoint jobs), and the probe index is the state of
      // EARLIER batches, so probe-before-merge needs no ordering tricks
      val own = BatchState.partial(statePath, batchId)
      graft.dedup.Dedup.shingleSets(spreadByBytes(batch), idCol,
          textCol, 3)
        .write.mode("overwrite").parquet(s"$own/sets")
      val sets = s.read.parquet(s"$own/sets")
      graft.dedup.Dedup.minHashBands(graft.dedup.HashFamily.Md5, sets,
          idCol, numHashes = 128, bands = 32)
        .write.mode("overwrite").parquet(s"$own/bands")
      val bands = s.read.parquet(s"$own/bands")
      // horizon batchId: the index is strictly-earlier batches only
      val st = BatchState.open(s, statePath, batchId, compactEvery,
        "sets", "bands")
      val out =
        if (st.parts.nonEmpty) {
          val idx = graft.dedup.IncrementalNearDup.Index(
            s.read.parquet(st.layer("bands"): _*),
            s.read.parquet(st.layer("sets"): _*))
          graft.dedup.IncrementalNearDup.matches(idx, sets, bands,
            idCol, threshold)
        } else {
          // first batch probes an EMPTY index: write a typed empty
          // frame so the matches sink always has a readable schema
          val schema = new org.apache.spark.sql.types.StructType()
            .add("batch_id", sets.schema(idCol).dataType)
            .add("dup_of", sets.schema(idCol).dataType)
            .add("jaccard", org.apache.spark.sql.types.DoubleType)
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        }
      out.write.mode("overwrite").parquet(s"$matchesPath/b$batchId")
      // the generation folds exactly the probe index read above, never
      // this batch's own partial, so a replay that lands after the
      // marker moved still probes precisely the earlier-batch corpus
      st.compact { g =>
        Seq("sets", "bands").foreach { l =>
          s.read.parquet(st.layer(l): _*)
            .write.mode("overwrite").parquet(s"$g/$l")
        }
      }
    }
  }
}
