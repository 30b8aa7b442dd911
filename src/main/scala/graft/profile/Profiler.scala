package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.TypeMapper
import graft.util.Frames

/** Single-pass per-column table profiling.
  *
  * The reference profiles a table with 2N+1 full-scan queries — one catalog
  * query plus, per column, a counts query
  * (`/root/reference/Data_Quality_Table.sql:70-77`), a numeric-stats query
  * for the numeric family (`:89-100`), and a future-date count per temporal
  * column (`:148-151`). That is N+1 round trips and N+ full scans.
  *
  * Here all per-column statistics are computed in ONE `df.agg(...)` job —
  * one scan of the table, with partial aggregation (map-side combine) done
  * by Catalyst. Exact `COUNT(DISTINCT)` over many columns expands the
  * aggregate (Spark's Expand operator multiplies rows by the number of
  * distinct-aggregate groups); for oracle-exact results at test scale this
  * is the right trade. At 100 TB use [[approxProfile]], which swaps in
  * HyperLogLog `approx_count_distinct` and keeps the plan a plain
  * single-pass hash aggregate.
  */
object Profiler {

  /** Stats emitted per column (long format, one row per column). */
  val outputColumns: Seq[String] = Seq(
    "column_name", "data_type", "count_all", "count_distinct", "count_nulls",
    "null_ratio", "distinct_ratio", "min_val", "max_val", "avg_val",
    "stddev_val", "future_count")

  /** Profile every column of `df`.
    *
    * Job shape: the non-distinct statistics are ONE plain aggregation pass
    * (partial aggregation map-side, a single scan). Exact
    * `COUNT(DISTINCT)` over N columns would force Catalyst's Expand plan
    * (row×(N+1) multiplication of the FULL-width row; mixing it with the
    * other aggregates additionally makes every expanded row update every
    * stat buffer — measured ~4× slower). So the exact path computes all
    * distinct counts in a SECOND melt pass — (column_name, value) rows,
    * partial-deduped map-side, one narrow shuffle — broadcast-joined onto
    * the stacked stats: two scans total, versus the reference's 2N+1
    * (`/root/reference/Data_Quality_Table.sql:66-104`). The HLL path
    * (`exact=false`) keeps everything in one scan.
    *
    * @param now injectable clock for the future-date accuracy check
    *            (`/root/reference/Data_Quality_Table.sql:148-151`); pass a
    *            literal in tests for determinism.
    * @param exact exact `COUNT(DISTINCT)` (oracle-parity) vs HLL approx
    *              (the 100 TB configuration).
    * @param withRaw also emit unrounded `avg_raw`/`stddev_raw` columns —
    *                for downstream consumers that need full-precision
    *                moments (e.g. z-score bounds) without a second stats
    *                scan of the table.
    */
  def profile(df: DataFrame, now: Column = current_timestamp(),
              exact: Boolean = true, withRaw: Boolean = false): DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "cannot profile a zero-column table")

    val perCol = fields.flatMap { f =>
      val c = col(f.name)
      val isNum = TypeMapper.familyOf(f.dataType) == TypeMapper.NumericFamily
      val isTemporal =
        TypeMapper.familyOf(f.dataType) == TypeMapper.TemporalFamily
      val nullD = lit(null).cast(DoubleType)
      val nullL = lit(null).cast(LongType)
      val base = Seq(
        count(c).as(s"${f.name}__nonnull"),
        (if (isNum) min(c.cast(DoubleType)) else nullD)
          .as(s"${f.name}__min"),
        (if (isNum) max(c.cast(DoubleType)) else nullD)
          .as(s"${f.name}__max"),
        (if (isNum) avg(c.cast(DoubleType)) else nullD)
          .as(s"${f.name}__avg"),
        (if (isNum) stddev_samp(c.cast(DoubleType)) else nullD)
          .as(s"${f.name}__stddev"),
        (if (isTemporal) sum(when(c > now, 1L).otherwise(0L)) else nullL)
          .as(s"${f.name}__future"))
      if (exact) base
      // default sketch precision (rsd 0.05): tighter rsd measured 3-4x
      // slower updates — the approx path exists to be CHEAP at scale, and
      // its error is pinned empirically in ProfilerSpec
      else approx_count_distinct(c).as(s"${f.name}__distinct") +: base
    }
    // perCol already carries approx_count_distinct when !exact; the exact
    // distinct counts come from the melt pass below instead.
    val aggs = count(lit(1)).as("count_all") +: perCol.toSeq
    val wide = df.agg(aggs.head, aggs.tail: _*)

    // Reshape the single wide row to long format (one row per column)
    // without leaving the plan: stack() is a Generate over one input row.
    val stackArgs = fields.map { f =>
      val n = f.name
      Seq(s"'$n'", s"'${TypeMapper.toEngineType(f.dataType)}'",
        (if (exact) "CAST(NULL AS BIGINT)" else s"`${n}__distinct`"),
        s"`${n}__nonnull`", s"`${n}__min`",
        s"`${n}__max`", s"`${n}__avg`", s"`${n}__stddev`", s"`${n}__future`"
      ).mkString(", ")
    }.mkString(", ")
    val statsLong = wide.selectExpr(
      "count_all",
      s"stack(${fields.length}, $stackArgs) as " +
        "(column_name, data_type, count_distinct, count_nonnull, min_val, " +
        "max_val, avg_val, stddev_val, future_count)")

    // Exact COUNT(DISTINCT) for all columns in ONE narrow-row pass: melt
    // to (column_name, value-as-string) and distinct-count per column.
    // Beats the Expand plan Catalyst builds for N distinct aggregates
    // (which multiplies the scan into N+1 copies of the FULL-width row;
    // the melt's rows are 2 columns and partial-deduped map-side) —
    // measured 1.6x on an 11-column table, and the long shape joins
    // straight onto the stacked stats. The encoding must be INJECTIVE per
    // column: -0.0 is normalized first (aggregation equates it with 0.0,
    // its string doesn't), binary goes through hex (charset decoding is
    // lossy), and nested types through to_json (their display cast joins
    // elements ambiguously: array('a, b') and array('a', ' b') collide).
    val stacked =
      if (!exact) statsLong
      else {
        // Fixed-width columns melt to an injective LONG image instead
        // of a rendered string (r17, §2.3 narrower types): integral
        // identity, timestamp → µs, date → days, boolean → 0/1,
        // double/float → the order-preserving bit image with ±0.0
        // normalized first (aggregation equates them; their bit images
        // differ) and NaN canonical via doubleToLongBits — exactly the
        // value classes the old string rendering produced, so the
        // distinct COUNT is unchanged while the melt skips per-value
        // string allocation + hashing (measured 1.65× on the events
        // profile). Variable-width/other types keep the injective
        // string path. One pass still: each row melts to
        // (ordinal, long-or-null, string-or-null) and the two
        // families' disjoint countDistincts add per column.
        val lv = fields.map(f =>
          fixedLongImage(f).getOrElse(lit(null).cast(LongType)))
        val sv = fields.map(f =>
          if (fixedLongImage(f).isDefined) lit(null).cast(StringType)
          else stringImage(f))
        val melted = df
          .select(posexplode(arrays_zip(array(lv: _*).as("l"),
            array(sv: _*).as("s"))).as(Seq("__ci", "__p")))
          .select(col("__ci"), col("__p.l").as("__vl"),
            col("__p.s").as("__vs"))
        val nameOf = map(fields.zipWithIndex.flatMap { case (f, i) =>
          Seq(lit(i), lit(f.name))
        }: _*)
        // manual two-level distinct: Catalyst rewrites the PAIR of
        // countDistincts into an Expand (gid) plan that doubles every
        // melted row before the first aggregate; the explicit
        // dedup-then-count is the same two exchanges without the
        // doubling, and count() ignoring nulls adds the disjoint
        // families exactly like the countDistinct pair did (per column
        // one family is ALL null, so distinct (ci, vl, vs) rows are
        // that column's distinct values plus at most one all-null row,
        // which neither count sees)
        val distincts = melted.distinct()
          .groupBy("__ci")
          .agg((count(col("__vl")) + count(col("__vs"))).as("__nd"))
          .select(element_at(nameOf, col("__ci")).as("column_name"),
            col("__nd"))
        statsLong.drop("count_distinct")
          .join(broadcast(distincts), Seq("column_name"), "left")
          .withColumn("count_distinct", coalesce(col("__nd"), lit(0L)))
          .drop("__nd")
      }

    val base = Seq(
      col("column_name"), col("data_type"), col("count_all"),
      col("count_distinct"),
      (col("count_all") - col("count_nonnull")).as("count_nulls"),
      // long/long division is always DOUBLE in Spark; one IEEE op on
      // identical operands is bit-stable across engines, no rounding needed.
      // Divisor is max(count_all, 1) — empty-table guard per
      // `/root/reference/Data_Quality_Table.sql:83-84`.
      ((col("count_all") - col("count_nonnull")) /
        greatest(col("count_all"), lit(1L))).as("null_ratio"),
      (col("count_distinct") / greatest(col("count_all"), lit(1L)))
        .as("distinct_ratio"),
      // avg/stddev accumulate in nondeterministic partition order → round
      // for cross-engine comparability; min/max are order-insensitive.
      col("min_val"), col("max_val"),
      round(col("avg_val"), 4).as("avg_val"),
      round(col("stddev_val"), 4).as("stddev_val"),
      col("future_count"))
    val raw =
      if (withRaw) Seq(col("avg_val").as("avg_raw"),
        col("stddev_val").as("stddev_raw"))
      else Seq.empty
    stacked.select(base ++ raw: _*)
  }

  /** Injective LONG image of a fixed-width column — null-preserving,
    * one equality class per SQL-aggregation-distinct value (±0.0
    * normalized before the bit image, NaN canonical via
    * doubleToLongBits): integral identity, timestamp → µs,
    * date → days, boolean → 0/1, double/float → order-preserving bit
    * image. None for variable-width/other types (callers fall back to
    * the injective string rendering). Shared by the profile's exact
    * distinct melt and the FD pillar's fingerprints (r17): an 8-byte
    * word hashes/aggregates far cheaper than a rendered string.
    */
  private[graft] def fixedLongImage(
      f: org.apache.spark.sql.types.StructField): Option[Column] = {
    import graft.functions.VectorExpressions.doubleBits
    val c = col(f.name)
    f.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           BooleanType => Some(c.cast(LongType))
      case TimestampType => Some(unix_micros(c))
      case DateType => Some(unix_date(c).cast(LongType))
      case DoubleType =>
        Some(doubleBits(when(c === 0.0, 0.0).otherwise(c)))
      case FloatType =>
        val d = c.cast(DoubleType)
        Some(doubleBits(when(d === 0.0, 0.0).otherwise(d)))
      case _ => None
    }
  }

  /** Injective string rendering of a non-fixed-width column (the
    * pre-r17 melt encoding, kept for the types with no long image).
    */
  private[graft] def stringImage(
      f: org.apache.spark.sql.types.StructField): Column =
    f.dataType match {
      case BinaryType => expr(s"hex(`${f.name}`)")
      case _: ArrayType | _: StructType | _: MapType =>
        expr(s"to_json(`${f.name}`)")
      case _ => col(f.name).cast(StringType)
    }

  /** 100 TB variant: HLL distinct counts, no Expand in the plan. */
  def approxProfile(df: DataFrame, now: Column = current_timestamp())
      : DataFrame = profile(df, now, exact = false)

  /** 100 TB percentile configuration: t-digest `approx_percentile` for
    * every requested column in ONE single-scan aggregation — the
    * documented swap for [[quantiles]]'s exact distributed selection,
    * the same trade the HLL path makes for distinct counts. Rank error
    * is bounded by n/`accuracy`; the estimate is an actual data value
    * near the rank (no interpolation), so `ProfilerSpec` pins it inside
    * an exact-quantile rank window rather than by value equality.
    * `accuracy` 1000 (rank error 0.1%) is the profiling sweet spot —
    * the summaries compress per ~accuracy updates, and 10000 measured
    * ~2× slower for precision far beyond what a p50/p95 profile needs.
    * Output shape matches [[quantiles]]: (column_name, names…).
    */
  def approxQuantiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
      names: Seq[String], accuracy: Int = 1000): DataFrame = {
    require(cols.nonEmpty, "no columns requested")
    require(ps.nonEmpty && ps.length == names.length,
      "ps and names must align")
    // ONE summary per column (array-percentile form), not one per
    // (column, percentile): each approx_percentile aggregate maintains
    // its own full summary over every row, so the scalar form pays the
    // whole update stream ps.length times. Measured 2× on the x10
    // scaling corpus for the p50/p95 profile.
    val pArr = ps.mkString("array(", ", ", ")")
    val aggs = cols.map { c =>
      expr(s"approx_percentile(CAST(`$c` AS DOUBLE), $pArr, $accuracy)")
        .as(s"__q_$c")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      (s"'$c'" +: names.indices.map(i => s"`__q_$c`[$i]")).mkString(", ")
    }.mkString(", ")
    wide.selectExpr(s"stack(${cols.length}, $stackArgs) as " +
      s"(column_name, ${names.mkString(", ")})")
  }

  /** Exact interpolated percentiles for several columns at once by
    * DISTRIBUTED SELECTION over ORDER-PRESERVING BIT BUCKETS: locate
    * each requested rank's value without ranking — or even shuffling —
    * the data.
    *
    * Spark's built-in exact `percentile` buffers a value→count map per
    * column and merges those maps across partial aggregates — a memory
    * hazard for high-cardinality doubles — and a histogram-then-rank
    * rewrite still shuffles every distinct value. Selection instead does:
    *
    *  1. ONE counting pass: each value maps to a fixed bucket — the top
    *     `prefixBits` bits of its sort-order-isomorphic bit image
    *     ([[graft.functions.VectorExpressions.doubleBits]], three integer
    *     ops, codegen'd; HDR-histogram style). Buckets are
    *     data-independent and order-contiguous, so no boundary-estimation
    *     pass exists at all, and the aggregation's groups are only the
    *     buckets actually present (≤ a few thousand per column): the
    *     shuffle is tiny regardless of row count. Every bucket boundary's
    *     exact global rank falls out of the running sum driver-side, and
    *     each requested rank `r = (n−1)·p` maps to a (bucket, local rank)
    *     pair — `n` comes free from the same counts.
    *  2. ONE selection job over a union of per-target branches: a
    *     bucket's value interval is recovered exactly by inverting the
    *     bit image, so each branch reads ONE column under a plain
    *     double-range predicate — pruned by the cached projection's
    *     per-batch min/max statistics — sorts only that bucket's slice, and
    *     keeps the bracketing order statistics, interpolated as
    *     `lo + frac·(hi − lo)` (the `quantile_cont` definition).
    *
    * No task ever sorts more than one bucket's slice and no full-volume
    * shuffle exists anywhere. At 100 TB, raise `prefixBits` (each +1 bit
    * halves the slice) or recurse the count-then-select step inside an
    * oversized bucket (e.g. one value repeated everywhere);
    * `approx_percentile` (t-digest) remains the documented swap when a
    * bounded-error estimate is acceptable, like the HLL distinct path.
    *
    * DRIVER MEMORY: phase 1's bucket-count frame is collected, and its
    * size is bounded by `cols.length × 2^prefixBits` ROWS — a function
    * of the requested width, never of the data volume (the buckets are
    * the distinct 20-bit sign-exponent-mantissa prefixes actually
    * present, ≤ 2^20 ≈ 1M per column, ~24 B each ⇒ ≲ 25 MB/column worst
    * case, typically thousands). Profiling a VERY wide table (hundreds
    * of numeric columns) multiplies that bound by the column count:
    * chunk the `cols` argument, lower `prefixBits` (the recursion note
    * above restores precision inside oversized buckets), or take the
    * t-digest swap ([[approxQuantiles]]), whose state is O(accuracy)
    * per column regardless of width.
    *
    * The projected double columns are cached across the two passes
    * (released before returning — quantiles is eager, so no cache
    * outlives the call).
    *
    * Columns whose values are all null yield null percentiles. The
    * result (one row per requested column) is materialized eagerly and
    * returned as a local frame.
    *
    * Output: (column_name, p_0, p_1, …) — one row per requested column,
    * percentile columns named by `names`.
    */
  def quantiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
      names: Seq[String], prefixBits: Int = 20): DataFrame = {
    require(cols.nonEmpty && ps.nonEmpty && ps.length == names.length)
    require(prefixBits >= 1 && prefixBits <= 63, "prefixBits in [1, 63]")
    val spark = df.sparkSession
    val shift = 64 - prefixBits
    Frames.cached(
        df.select(cols.map(c => col(c).cast(DoubleType).as(c)): _*)) { work =>
      // Phase 1 — exact per-(column, bit-bucket) counts in one pass.
      val counts: Map[String, Seq[(Long, Long)]] =
        bucketCounts(work, cols, shift)
          .collect()
          .map(r => (cols(r.getInt(0)), r.getLong(1), r.getLong(2)))
          .groupBy(_._1)
          .map { case (c, rs) =>
            c -> rs.map(t => t._2 -> t._3).sortBy(_._1).toSeq
          }

      // Driver-side rank arithmetic (tiny): global rank r lives in the
      // first bucket whose cumulative count reaches r; its local rank is
      // r minus the preceding buckets' total.
      def locate(cum: Seq[(Long, Long)], rank: Long): (Long, Long) = {
        var before = 0L
        for ((b, c) <- cum) {
          if (before + c >= rank) return (b, rank - before)
          before += c
        }
        throw new IllegalStateException(s"rank $rank beyond $cum")
      }
      val plans: Map[String, QuantilePlan] = cols.map { c =>
        val cum = counts.getOrElse(c, Seq.empty)
        val n = cum.map(_._2).sum
        val tgts = if (n == 0) Seq.empty else ps.map { p =>
          val idx = (n - 1) * p
          val lo = locate(cum, math.floor(idx).toLong + 1)
          val hi = locate(cum, math.ceil(idx).toLong + 1)
          RankTarget(lo, hi, idx - math.floor(idx))
        }
        c -> QuantilePlan(n, tgts)
      }.toMap

      // Phase 2 — selection: per-target range scans, each sorted
      // independently. The collected result is ≤ 2·cols·ps values.
      val needed: Map[(String, Long), Set[Long]] = plans.toSeq
        .flatMap { case (c, qp) =>
          qp.targets.flatMap(t =>
            Seq((c, t.lo._1) -> t.lo._2, (c, t.hi._1) -> t.hi._2))
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val picked: Map[(String, Long, Long), Double] =
        if (needed.isEmpty) Map.empty
        else selectionFrame(work, needed, shift).collect()
          .map(r => (r.getString(0), r.getLong(2), r.getLong(3)) ->
            r.getDouble(1))
          .toMap

      val outRows = cols.map { c =>
        val qp = plans(c)
        val vals: Seq[Any] = qp.targets match {
          case Seq() => names.map(_ => null)
          case ts => ts.map { t =>
            val lo = picked((c, t.lo._1, t.lo._2))
            val hi = picked((c, t.hi._1, t.hi._2))
            (lo + t.frac * (hi - lo)): java.lang.Double
          }
        }
        org.apache.spark.sql.Row.fromSeq(c +: vals)
      }
      val schema = StructType(
        StructField("column_name", StringType, nullable = false) +:
          names.map(StructField(_, DoubleType, nullable = true)))
      spark.createDataFrame(java.util.Arrays.asList(outRows: _*), schema)
    }
  }

  private case class RankTarget(lo: (Long, Long), hi: (Long, Long),
      frac: Double)
  private case class QuantilePlan(n: Long, targets: Seq[RankTarget])

  /** Exact per-(column, bucket) counts in one scan: each row explodes to
    * (column, bucket-id) pairs — bucket assigned pre-explode by the bit
    * image's top bits, null values mapped to a null bucket and dropped —
    * and the aggregate's groups are only the buckets present, so the
    * shuffle is tiny regardless of row count.
    */
  private def bucketCounts(df: DataFrame, cols: Seq[String],
      shift: Int): DataFrame = {
    import graft.functions.VectorExpressions.doubleBits
    // POSITIONAL explode (r17): the per-row fan-out carries
    // (ordinal INT, bucket LONG) instead of a struct holding the
    // column-NAME string — the aggregation key stays on the primitive
    // hash-map fast path and each exploded row is two fixed-width
    // words, never a repeated string (§2.3 narrower types; measured
    // on the gate lane below). The ordinal resolves back to its name
    // on the collected result — ≤ cols · 2^prefixBits rows, driver-side.
    val entries = cols.map(c => shiftright(doubleBits(col(c)), shift))
    df.select(posexplode(array(entries: _*)).as(Seq("__ci", "__bkt")))
      .filter(col("__bkt").isNotNull)
      .groupBy("__ci", "__bkt").agg(count(lit(1)).as("__c"))
  }

  /** The exact double interval covered by bit-bucket `b`: invert the
    * sort-isomorphic image at the bucket's edge longs. Total (the image
    * is a bijection on longs), so membership in the interval IS
    * membership in the bucket — except when an edge inverts to NaN
    * (buckets at the top of the image) or to a zero (±0.0 compare equal
    * as doubles though their images differ); those callers fall back to
    * comparing images.
    */
  private def bucketInterval(b: Long, shift: Int): (Double, Double) = {
    def inv(s: Long): Double = {
      val bits = if (s >= 0L) s else s ^ java.lang.Long.MAX_VALUE
      java.lang.Double.longBitsToDouble(bits)
    }
    (inv(b << shift), inv((b << shift) | ((1L << shift) - 1)))
  }

  /** The selection job: a union of per-target branches, each scanning
    * ONE column filtered to its bucket — a plain double-range predicate
    * (pushable to the parquet reader) whenever the bucket's interval
    * inverts cleanly, the bit-image comparison otherwise — then ranked
    * within their (column, bucket) slice and filtered to the needed
    * local ranks. Package-private so the plan spec can pin its shape:
    * the row_number window partitions by (column_name, __bkt) — never a
    * whole column.
    */
  private[graft] def selectionFrame(df: DataFrame,
      needed: Map[(String, Long), Set[Long]], shift: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.doubleBits
    val branches = needed.keys.toSeq.sorted.map { case (c, b) =>
      val v = col(c)
      val (vLo, vHi) = bucketInterval(b, shift)
      val cleanEdges = !vLo.isNaN && !vHi.isNaN && vLo != 0.0 && vHi != 0.0
      val pred =
        if (cleanEdges) v.isNotNull && v >= lit(vLo) && v <= lit(vHi)
        else shiftright(doubleBits(v), shift) === lit(b)
      df.filter(pred).select(lit(c).as("column_name"),
        v.as("__v"), lit(b).as("__bkt"))
    }
    val uni = branches.reduce(_ unionAll _)
    val w = Window.partitionBy("column_name", "__bkt").orderBy("__v")
    val rankWanted = needed
      .map { case ((c, b), ranks) =>
        col("column_name") === lit(c) && col("__bkt") === lit(b) &&
          col("__rn").isInCollection(ranks)
      }
      .reduce(_ || _)
    uni.withColumn("__rn", row_number().over(w).cast(LongType))
      .filter(rankWanted)
  }
}
