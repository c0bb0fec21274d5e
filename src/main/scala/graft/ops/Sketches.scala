package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable-sketch rollups — the 100 TB pattern for distinct counts:
  * per-stratum HLL sketches are small (KBs), additive, and reusable, so
  * daily/partition sketches persist once and every later rollup is a
  * register-wise union instead of a re-scan of raw data. Built on Spark's
  * native Datasketches HLL functions (hll_sketch_agg / hll_union_agg —
  * codegen'd aggregates, order-independent merges, deterministic for a
  * given input set). */
object Sketches {

  /** Per-group distinct estimates PLUS the all-groups rollup row (group =
    * NULL), computed by unioning the per-group sketches — never re-reading
    * the corpus. Output: (group, n_distinct_est, is_rollup). */
  def distinctRollup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol)).as("__sk"))
    val groups = perGroup.select(col(groupCol),
      hll_sketch_estimate(col("__sk")).cast("long").as("n_distinct_est"),
      lit(false).as("is_rollup"))
    // the rollup row keeps the group column's ORIGINAL type (int/date/... 
    // group keys must not be silently re-typed to string by the union)
    val total = perGroup.agg(
      hll_sketch_estimate(hll_union_agg(col("__sk"))).cast("long").as("n_distinct_est"))
      .select(lit(null).cast(df.schema(groupCol).dataType).as(groupCol),
        col("n_distinct_est"), lit(true).as("is_rollup"))
    groups.unionByName(total)
  }

  /** KMV (k-minimum-values) DISTINCT SKETCH — the mergeable distinct
    * counter whose output is ENGINE-PORTABLE, unlike HLL: the sketch is
    * just the k smallest 60-bit md5 fingerprints of the value set, so any
    * engine that can compute md5 reproduces the exact same retained set and
    * the exact same estimate. That turns the usual "sketch estimates can't
    * be oracle-checked" into a full cross-engine correctness pin — the
    * DuckDB oracle replays the estimator itself (Bar-Yossef et al. 2002:
    * `DV ≈ (k−1)/θ` with `θ = h_(k)/2^60`), not a degenerate config.
    *
    * Per group: distinct (group, fingerprint) — one map-side-combinable
    * shuffle whose volume is the distinct set, then the k smallest survive
    * via the bounded-heap aggregate ([[graft.functions.BoundedTopK]]:
    * ≤ k values per group per map task, never a per-group sort). Groups
    * with fewer than k distinct values keep their whole fingerprint set —
    * the estimate is EXACT and flagged so. The rollup row (group NULL)
    * demonstrates mergeability: the union of per-group retained sets
    * provably contains the k global minima (each global minimum is some
    * group's local minimum), so the rollup re-selects k smallest from the
    * ≤ k·G retained fingerprints — never re-reading the data. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 256): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2: $k")
    val twoPow60 = 1152921504606846976.0 // 2^60, exact as a double
    // 60-bit md5 prefix — the portable fingerprint family (same form as
    // text_fingerprint's fp60); uniform enough for the KMV estimator and
    // replayable in any engine with md5 + hex casts
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val hashes = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), h.as("__h")).distinct()
    val kept = graft.ops.Sampling.groupTopK(hashes, Seq("grp"),
      Seq(col("__h")), k)
    def finish(retained: DataFrame, rollup: Boolean) = {
      val est = lit((k - 1).toDouble) / (col("__hk").cast("double") / lit(twoPow60))
      retained.groupBy("grp")
        .agg(count(lit(1)).as("__c"), max(col("__h")).as("__hk"))
        .select(col("grp"),
          when(col("__c") < k, col("__c"))
            .otherwise(round(est).cast("long")).as("n_distinct_est"),
          (col("__c") < k).as("is_exact"), lit(rollup).as("is_rollup"))
    }
    // rollup: dedupe the retained fingerprints ACROSS groups (the same
    // value in two groups carries the same fingerprint), k smallest again
    val merged = graft.ops.Sampling.groupTopK(
      kept.select(lit(null).cast(df.schema(groupCol).dataType).as("grp"), col("__h"))
        .distinct(),
      Seq("grp"), Seq(col("__h")), k)
    finish(kept, rollup = false).unionByName(finish(merged, rollup = true))
  }

  /** FIXED-GRID HISTOGRAM QUANTILES — mergeable approximate per-group
    * quantiles with NO sort anywhere: one map-side-combinable count
    * aggregate over (group, fixed-width bucket), a cumulative window over
    * the BOUNDED per-group bucket frame (≤ nBuckets rows per group at any
    * data size), and linear interpolation inside the rank's bucket. The
    * histogram is the mergeable artifact (bucket counts are additive
    * across partitions/days, same as the KMV/HLL sketches); the grid is
    * DECLARED (width × nBuckets, clamped both ends), so estimates are
    * engine-identical and the DuckDB oracle replays the whole estimator —
    * where sort-based quantiles are exact-but-unmergeable and t-digest
    * style sketches are engine-specific.
    *
    * Estimate for q: the first bucket whose running count reaches
    * `q · n`, then `lo + width · (q·n − cum_before) / bucket_count`.
    * Error is bounded by one bucket width. Output: one row per
    * (group, q) — (grp, q, n, quantile_est). */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                         bucketWidth: Double, nBuckets: Int = 256,
                         qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    require(bucketWidth > 0 && nBuckets >= 2, "need width > 0, nBuckets >= 2")
    val counts = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        bucketOf(col(valueCol), bucketWidth, nBuckets).as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("__c"))
    quantilesFromCounts(counts, bucketWidth, qs)
  }

  /** The declared fixed grid: `floor(v / width)` clamped into
    * `[0, nBuckets)` on both ends — identical in any engine. */
  def bucketOf(v: org.apache.spark.sql.Column, bucketWidth: Double,
               nBuckets: Int): org.apache.spark.sql.Column =
    greatest(least(floor(v.cast("double") / bucketWidth),
      lit(nBuckets - 1)), lit(0)).cast("long")

  /** The histogram-quantile FINISH over already-aggregated bucket counts
    * (`grp`, `bucket`, `__c`) — shared by [[histogramQuantiles]] and the
    * streaming form (where the per-(window, bucket) counts come out of a
    * watermarked windowed aggregation). Both windows run over the bounded
    * per-group bucket frame. */
  def quantilesFromCounts(counts: DataFrame, bucketWidth: Double,
                          qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0, 1]: $qs")
    val w = Window.partitionBy("grp").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(Window.partitionBy("grp")))
    val spark = counts.sparkSession
    val qDf = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val target = col("q") * col("__n").cast("double")
    // argmin bucket with cum >= target, carried with its interpolation
    // inputs through an associative min(struct) — no second window. The
    // argmin bucket is the FIRST reaching the target, so its predecessor's
    // cum (= cum − c) is strictly below it and the interpolation fraction
    // lands in (0, 1] by construction (0 exactly for q = 0).
    val hit = cum.crossJoin(broadcast(qDf))
      .where(col("__cum").cast("double") >= target)
      .groupBy("grp", "q")
      .agg(min(struct(col("bucket"), col("__cum"), col("__c"), col("__n"))).as("__w"))
      .select(col("grp"), col("q"),
        col("__w.__n").as("n"),
        col("__w.bucket").as("__b"), col("__w.__cum").as("__cum"),
        col("__w.__c").as("__c"))
    val est = col("__b").cast("double") * bucketWidth + lit(bucketWidth) *
      ((col("q") * col("n").cast("double") -
        (col("__cum") - col("__c")).cast("double")) / col("__c").cast("double"))
    hit.select(col("grp"), col("q"), col("n"), round(est, 6).as("quantile_est"))
  }

  /** EXACT heavy hitters over a high-cardinality item stream: every item
    * whose frequency is ≥ `phi` of the non-null stream, with its exact
    * count — without ever shuffling the full distinct-item set.
    *
    * The 100 TB shape, two phases:
    *  1. ONE NARROW PASS: each partition runs a Misra–Gries summary with
    *     k = ⌈1/phi⌉ counters. Pigeonhole gives the soundness: an item with
    *     global count ≥ phi·N must hold ≥ phi·Nₚ of some partition p, and
    *     MG with k counters decrements at most Nₚ/(k+1) < phi·Nₚ times, so
    *     that partition's summary retains the item. The union of survivor
    *     sets is therefore a SUPERSET of the true phi-heavy set, and it is
    *     bounded: ≤ k items per partition (k=500 × 1000 executors = 500k
    *     candidate rows worst-case — broadcastable).
    *  2. EXACT VERIFY: the candidate set broadcasts back; a semi-join
    *     prefilter + groupBy counts only candidate items. Shuffle volume is
    *     ∝ candidates, not distinct items — frequency mining over 10⁹
    *     distinct keys becomes a broadcast filter plus a few-hundred-key
    *     aggregation, where the naive groupBy+HAVING shuffles every
    *     distinct item and Spark's freqItems is approximate with no counts.
    *
    * mapPartitions is justified here (imperative bounded-memory counter
    * state has no Column-expression form); the per-partition summaries are
    * a bounded small frame, and the one driver action is a single-scalar
    * total off that frame (documented-bounded, like the ≤#strata reads in
    * [[Sampling]]). Beyond-reference scope: SURVEY §2.10 training-data ops.
    */
  def heavyHitters(items: DataFrame, itemCol: String = "item",
                   phi: Double = 0.001): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1]: $phi")
    val spark = items.sparkSession
    import spark.implicits._
    val k = math.ceil(1.0 / phi).toInt
    val typed = items.select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)
    // phase 1: per-partition MG survivors, plus one (null, Nₚ) row per
    // partition so the total comes out of the same pass. Tiny (≤ (k+1)·P
    // rows) but costs a full input pass — pinned ONCE, so neither the total
    // below nor the lazy candidate join re-runs the MG pass (a persist
    // would be freed before the caller's action runs)
    val summaries = Barrier.pin(typed.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { x =>
        n += 1
        counters.get(x) match {
          case Some(c) => counters(x) = c + 1
          case scala.None if counters.size < k => counters(x) = 1L
          case scala.None =>
            // decrement-all: amortized O(1) per input item overall. Iterate
            // a key snapshot — mutating a HashMap inside its own foreach is
            // documented-undefined even when only values change
            counters.keysIterator.toArray.foreach { w =>
              val c = counters(w)
              if (c == 1L) counters.remove(w) else counters(w) = c - 1
            }
        }
      }
      counters.keysIterator.map(w => (Option(w), 0L)) ++
        Iterator((scala.Option.empty[String], n))
    }.toDF("item", "n"))
    val total = summaries.where(col("item").isNull)
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val minCount = math.ceil(phi * total).toLong.max(1L)
    val candidates = summaries.where(col("item").isNotNull).select("item").distinct()
    typed
      .join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }
}
