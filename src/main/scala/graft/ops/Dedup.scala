package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for training-data pipelines: exact, word-n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine (see [[Similarity]]).
  *
  * Scale design: every stage is a shuffle on a compact key (hash / shingle /
  * band bucket), never on document text. Candidate generation is always
  * followed by exact verification, so LSH parameters trade compute for
  * recall without changing the verified result. At 100 TB the shingle
  * explosion dominates — it's a flatMap (no skew), and the band-bucket
  * groupBy keys are uniformly distributed by construction (md5).
  */
object Dedup {

  /** Exact dedup: cluster on md5(normalized text), keep the smallest id.
    * One map-side-combinable groupBy on a 32-char key. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol), md5(TextAnalysis.normText(col(textCol))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count("*").as("n_docs"))

  /** Exact dedup, keep-BEST copy: cluster on md5(normalized text) but keep
    * the duplicate maximizing `qualityCol` (ties: smallest id) — the
    * RefinedWeb-style canonical selection when copies of the same content
    * differ upstream (longer capture, cleaner decode, newer snapshot).
    * min(struct(-quality, id)) is an associative argmax, so this stays the
    * same ONE map-side-combinable groupBy as [[exact]] — full rows never
    * shuffle, only (hash, best-so-far, count) partials do; a window
    * row_number over the hash would shuffle every row instead.
    * `qualityCol` must be non-null: a null sorts FIRST through the negated
    * struct ordering and would win every cluster it touches (SQL's
    * `ORDER BY q DESC` puts nulls last — coalesce a default first). */
  def exactKeepBest(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    qualityCol: String = "n_chars",
                    /** pack (quality, id) into ONE orderable long so the
                      * argmax gets a mutable HashAggregate buffer — see
                      * [[packArgmax]] for the bounds contract (guarded by a
                      * per-row assert, so out-of-range data fails loudly
                      * instead of silently mis-selecting). The struct path
                      * stays the default: it is domain-agnostic (string
                      * ids, negative/huge qualities) at the cost of a
                      * SortAggregate. */
                    packedArgmax: Boolean = false): DataFrame = {
    val hashed =
      if (packedArgmax)
        df.select(md5(TextAnalysis.normText(col(textCol))).as("content_hash"),
            packArgmax(df, qualityCol, idCol).as("__best"))
          .groupBy("content_hash")
          .agg(min("__best").as("best"), count(lit(1)).as("n_docs"))
          .select(col("content_hash"),
            unpackArgmaxId(col("best")).cast(df.schema(idCol).dataType).as("keep_id"),
            unpackArgmaxQuality(col("best"))
              .cast(df.schema(qualityCol).dataType).as("keep_quality"),
            col("n_docs"))
      else
        df.select(md5(TextAnalysis.normText(col(textCol))).as("content_hash"),
            struct((-col(qualityCol)).as("nq"), col(idCol).as("id")).as("__best"))
          .groupBy("content_hash")
          .agg(min("__best").as("best"), count(lit(1)).as("n_docs"))
          .select(col("content_hash"), col("best.id").as("keep_id"),
            (-col("best.nq")).as("keep_quality"), col("n_docs"))
    hashed
  }

  /** (quality desc, id asc) argmax key packed into ONE long:
    * ((2³¹−1−q) << 32) | id, so `min` over it selects the same row as
    * `min(struct(-q, id))` — but a LONG buffer is mutable, so the plan gets
    * a HashAggregate where the struct ordering key forced SortAggregate (a
    * per-task sort of every input row; min/max over a struct has no
    * mutable buffer — VERDICT r20 #4). Bounds contract, asserted per row:
    * 0 ≤ quality < 2³¹ and 0 ≤ id < 2³² — both hold by construction for
    * corpus shapes where quality is a length/score count and ids are
    * non-negative synthetic longs; data outside it raises instead of
    * silently mis-selecting. */
  private def packArgmax(df: DataFrame, qualityCol: String, idCol: String): Column = {
    // a fractional quality would truncate in the pack (5.7 and 5.2 tie and
    // id order picks the winner), so only integral types are accepted
    val qType = df.schema(qualityCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(qType),
      s"packedArgmax needs an integral quality column: $qualityCol is " +
        s"${qType.simpleString} (use the struct path for fractional qualities)")
    val (quality, id) = (col(qualityCol), col(idCol))
    val ok = quality >= 0 && quality < lit(1L << 31) &&
      id >= 0 && id < lit(1L << 32)
    val packed = (lit((1L << 31) - 1) - quality.cast("long")) * lit(1L << 32) +
      id.cast("long")
    // NULL parts print as "null": concat would otherwise null the message
    def shown(c: Column) = coalesce(c.cast("string"), lit("null"))
    when(ok, packed).otherwise(raise_error(concat(
      lit("packedArgmax bounds violated: quality="), shown(quality),
      lit(" id="), shown(id),
      lit(" (need 0 <= quality < 2^31, 0 <= id < 2^32)"))).cast("long"))
  }
  private def unpackArgmaxQuality(packed: Column): Column =
    lit((1L << 31) - 1) - shiftright(packed, 32)
  private def unpackArgmaxId(packed: Column): Column =
    packed.bitwiseAND(lit((1L << 32) - 1))

  /** Distinct word n-gram shingles per doc as ONE array column — a pure
    * scan-side map, no window/explode/distinct shuffle. At 100 TB this is
    * the difference between zero shuffles and two full-corpus shuffles
    * before any dedup work starts. Normalization/tokenization stays the
    * Catalyst [[TextAnalysis.words]] expression (oracle-identical); the
    * linear gram walk runs in JVM code (array HOFs would re-inline the
    * tokenizer per gram — quadratic). */
  def shingleArray(df: DataFrame, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    // Row-encoded so the id keeps its ORIGINAL type (string/long/null alike)
    val projected = df.select(col(idCol), TextAnalysis.words(col(textCol)).as("__ws"))
    val outSchema = StructType(Seq(
      projected.schema.head, StructField("grams", ArrayType(StringType), nullable = false)))
    projected.map { row =>
      val ws: Seq[String] = if (row.isNullAt(1)) Nil else row.getSeq[String](1) // NULL text ⇒ no grams
      val arr = ws.toArray
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= arr.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(arr(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      Row(row.get(0), seen.toArray(new Array[String](seen.size)).toSeq)
    }(Encoders.row(outSchema)).toDF(idCol, "grams")
  }

  /** Distinct word n-gram shingles per doc: (id, gram) rows. */
  def shingles(df: DataFrame, n: Int = 3,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleArray(df, n, idCol, textCol)
      .select(col(idCol), explode(col("grams")).as("gram"))

  /** Candidate pairs sharing ≥1 shingle, with exact Jaccard ≥ threshold.
    * Self-equi-join on the shingle — the exact (non-LSH) baseline.
    *
    * `maxDocFreq` (0 = off) drops shingles appearing in more than that many
    * documents from CANDIDATE GENERATION only: a shingle shared by d docs
    * produces d² candidate rows, so one ubiquitous boilerplate gram turns
    * the join quadratic. Surviving candidates are re-verified against the
    * FULL gram sets (same shape as [[minhashLsh]]'s verify stage), so every
    * emitted pair carries its exact Jaccard and thresholding is exact over
    * the candidate set — the only recall loss is pairs sharing *no* uncapped
    * gram (ADVICE r2: the old form thresholded an underestimate). */
  def jaccardPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxDocFreq: Int = 0): DataFrame = {
    // No cache (r3 cached the exploded rows and never unpersisted — a leak
    // in a long-lived session, and pointless at 100 TB where the shingled
    // corpus doesn't fit in storage memory anyway). Instead the per-doc gram
    // count rides ALONG the exploded rows (it's just size(grams), computed
    // before the explode), so the join output already carries na/nb and the
    // old two count-joins — two more full re-tokenizations of the corpus —
    // disappear from the plan.
    // Grams shrink to 64-bit keys BEFORE any shuffle: every downstream
    // stage (df count, anti/semi joins, the pair self-join and its hash
    // aggregate) keys on a long instead of a ~25-byte string — measured 2×
    // on the whole operator at sf0.1 (4.5 s → 2.1 s warm), and at 100 TB
    // it's the difference between shuffling gram text and shuffling 8-byte
    // keys. Collision risk is the same class as the 62-bit rolling hash
    // [[contaminationSpans]] already accepts: P ≈ d²/2⁶⁴ per corpus —
    // vanishing below any realistic gram cardinality — and every
    // downstream count (ck, the boundary re-verify) consistently uses the
    // same 64-bit gram identity, so the collision class is paid once.
    val shx = shingleArray(df, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram")))
    if (maxDocFreq <= 0) {
      // uncapped: the self-join IS the exact common count — no re-verify
      // pass (two scans of the cheap hashed stream beat an eager
      // materialization barrier here — measured neutral-to-worse with one)
      val a = shx.select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
      val b = shx.select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
      val common = a.join(b, Seq("gram")).where(col("a") < col("b"))
        .groupBy("a", "b", "na", "nb").agg(count("*").as("common"))
      finishJaccard(common, threshold)
    } else {
      // The cap is applied by SUBTRACTION, not collection: count df per gram
      // (a map-side-combinable long per key — safe at any skew), keep only
      // the OVER-cap grams (a provably small set: ≤ totalGramRows/maxDocFreq
      // rows — AQE broadcasts it), anti-join them off the exploded stream,
      // and self-join the residual exactly like the uncapped path. Every
      // stage stays whole-stage-codegen; the residual join's output is
      // bounded by maxDocFreq × the surviving gram rows, so the quadratic
      // boilerplate blowup is structurally impossible. (An earlier shape
      // collected capped (id, ng) buckets with a TypedImperativeAggregate —
      // memory-bounded too, but its ObjectHashAggregate boxes every gram's
      // struct buffer, and on a low-skew corpus that costs ~3× this plan;
      // measured at sf0.1: 7.2 s bucket-collect vs 2.4 s subtractive.)
      // materialize the hashed stream ONCE ([[Barrier.pin]];
      // (id, n_grams, gram) longs ≈ 24 B/row): the cap
      // machinery otherwise re-runs the tokenize+shingle scan four times —
      // for the df count, the anti-join, the per-doc heavy count, and the
      // self-join — measured ~1 s of pure recompute at sf0.1. At corpus
      // scale the same move is staging the gram table before the joins; a
      // pipeline that wants to avoid the materialization can pre-shingle
      // into a table and call the join stages itself.
      val shxM = Barrier.pin(shx)
      val heavy = shxM.groupBy("gram").agg(count(lit(1)).as("__df"))
        .where(col("__df") > maxDocFreq).select("gram")
      val kept = shxM.join(heavy, Seq("gram"), "left_anti")
      // per-doc count of EXCLUDED grams — the only uncertainty the cap
      // introduces; docs absent from this table have none
      val heavyPerDoc = shxM.join(heavy, Seq("gram"), "left_semi")
        .groupBy(idCol).agg(count(lit(1)).as("__h"))
      val a = kept.select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
      val b = kept.select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
      // LOSSLESS length prefilter (set-similarity joins' classic prefix
      // trick): jaccard ≤ min(na,nb)/max(na,nb), so any pair whose sizes
      // differ by more than the threshold ratio can never verify — it cuts
      // the raw pair stream before the aggregate reads it.
      // The kept-gram common count ck is EXACT except for heavy grams the
      // pair might share, and that error is bounded: ck ≤ common ≤
      // ck + min(ha, hb). Pairs whose UPPER-bound jaccard misses the
      // threshold are pruned without touching a gram array; pairs with no
      // possible heavy overlap (min(ha,hb)=0) are emitted exactly from ck;
      // only the boundary sliver — pairs near threshold that share heavy
      // docs — pays the array-intersect verify. (The previous shape
      // verified EVERY candidate pair: on a uniform-length corpus the
      // length prefilter passes ~everything and that was 841k array
      // intersections for 256 true pairs — measured 7-9 s vs ~3 s now.)
      val pairKept = a.join(b, Seq("gram"))
        .where(col("a") < col("b") &&
          least(col("na"), col("nb")).cast("double") /
            greatest(col("na"), col("nb")) >= lit(threshold))
        .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("ck"))
      val withBounds = pairKept
        .join(heavyPerDoc.select(col(idCol).as("a"), col("__h").as("ha")), Seq("a"), "left")
        .join(heavyPerDoc.select(col(idCol).as("b"), col("__h").as("hb")), Seq("b"), "left")
        .withColumn("__hmin",
          least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
      // division form IDENTICAL to finishJaccard: a multiply-form bound
      // (c >= t*(na+nb-c)) rounds differently and can drop exactly-at-
      // threshold pairs the final division-form test would emit. Pinned:
      // small (bounded candidate pairs), but three consumers below — the
      // exact branch, the verify branch, and the verify corpus restriction
      // — would each re-run the pair self-join without this barrier
      val maybe = Barrier.pin(withBounds.where(
        (col("ck") + col("__hmin")).cast("double") /
          (col("na") + col("nb") - col("ck") - col("__hmin")) >= lit(threshold)))
      val exactNow = maybe.where(col("__hmin") === 0)
        .select(col("a"), col("b"), col("ck").as("common"), col("na"), col("nb"))
      val needVerify = maybe.where(col("__hmin") > 0).select("a", "b")
      // only the boundary sliver re-verifies, and it does so over FULL
      // hashed gram sets REBUILT FROM THE STAGED STREAM (shxM carries
      // every gram, heavy included) — not by re-scanning and
      // re-tokenizing the corpus text (r12: the second text pass was
      // ~0.4 s of pure fixed overhead at bench SF, and at warehouse
      // scale a whole second scan of the text column). Hashed-gram
      // identity is the SAME exactness class as `ck` itself — the
      // candidate count already equates grams by their 64-bit key, and
      // the accepted collision probability (~d²/2⁶⁴) is unchanged.
      val candIds = needVerify.select(col("a").as(idCol))
        .unionByName(needVerify.select(col("b").as(idCol))).distinct()
      val sliverArr = shxM.join(candIds, Seq(idCol), "left_semi")
        .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
      finishJaccard(exactNow, threshold).unionByName(
        verifyJaccard(needVerify, sliverArr, threshold, idCol))
    }
  }

  /** PREFIX-FILTERED capped Jaccard pairs — IDENTICAL OUTPUT to the
    * df-capped [[jaccardPairs]] (same oracle), with candidate generation
    * cut by the prefix-filtering principle of set-similarity joins
    * (Chaudhuri/Ganti/Kaushik SSJoin 2006; Xiao et al. PPJoin 2011),
    * extended with a HEAVY-GRAM correction so the df cap's semantics are
    * preserved exactly.
    *
    * Principle: under any global total order on grams, two sets sharing
    * ≥ c elements must share one inside each set's first |set| − c + 1
    * elements (else all c common grams fit in a suffix of size c − 1).
    * For full-Jaccard ≥ t, each side of a passing pair satisfies
    * common ≥ ⌈t·n⌉ (since common ≤ n of the partner), and the kept-gram
    * share of that common is ≥ ⌈t·n⌉ − h where h is the doc's own heavy
    * count — so the per-doc kept prefix of length k − max(1, ⌈t·n⌉ − h) + 1
    * is a LOSSLESS candidate filter for every pair the capped contract
    * can emit (pairs sharing zero kept grams are outside the contract by
    * definition). Docs where ⌈t·n⌉ − h exceeds the kept count can be in
    * no passing pair at all and generate nothing.
    *
    * Grams order by (global df ascending, hash) — rarest first — so
    * prefixes land on the lowest-df grams and the candidate join's
    * Σ df² collapses: the 500k-doc sf10 probe measures 86.7M total
    * shuffle-write rows vs the subtractive-cap join's 156.8M (1.8×, and
    * 31.7 s vs 49.6 s same-run wall-clock; see `SCALE_PROBE.md` — shuffle
    * rows are the run-stable metric, wall-clock varies up to 3× between
    * probe runs of identical code). The shared gram-explode stages
    * dominate what remains, so the candidate stage itself shrinks by far
    * more than the totals' ratio suggests. Every
    * candidate then verifies over its FULL hashed gram sets (one array
    * intersect per pair), so thresholding is exact over the candidate
    * set — no partial-count or bound arithmetic survives to the output.
    *
    * Cost shape vs [[jaccardPairs]]: one extra gram-keyed join (df onto
    * the kept stream — the price of the global order) and one per-doc
    * sort, in exchange for a multiplicatively smaller candidate join;
    * with the df ≥ 2 emission filter the two are at parity even at bench
    * SF (2.3 s vs 2.4 s at sf0.1), and the prefix form wins outright
    * wherever candidate volume, not fixed overhead, dominates. */
  def jaccardPairsPrefix(df: DataFrame, n: Int = 3, threshold: Double = 0.5,
                         idCol: String = "doc_id", textCol: String = "text",
                         maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "jaccardPairsPrefix needs a positive df cap")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val shx = Barrier.pin(shingleArray(df, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val dfCounts = shx.groupBy("gram").agg(count(lit(1)).as("__df"))
    // kept rows with the global df attached: the join keys on the gram —
    // co-partitioned with the aggregation that produced dfCounts
    val kept = shx.join(dfCounts.where(col("__df") <= maxDocFreq), Seq("gram"))
    // per-doc prefix: kept grams sorted (df asc, gram asc) — a globally
    // consistent total order — sliced to k − cmin + 1 where
    // cmin = max(1, ⌈t·n⌉ − heavy). sort_array on (df, gram) structs
    // orders lexicographically, exactly the order the theorem needs.
    // df-1 grams occupy their prefix slots (the slot count is part of the
    // bound) but never emit: a gram one single doc holds cannot witness a
    // pair, and on natural text df-1 grams are most of the stream
    val pr = prefixStream(kept, idCol, threshold,
      emitWhen = Some(col("__df") >= 2L))
    val a = pr.select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
    val b = pr.select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    // lossless size-ratio prune (common ≥ t·max(na, nb) ∧ common ≤ min)
    val cand = a.join(b, Seq("gram"))
      .where(col("a") < col("b") &&
        least(col("na"), col("nb")).cast("double") /
          greatest(col("na"), col("nb")) >= lit(threshold))
      .select("a", "b")
    val candIds = cand.select(col("a").as(idCol))
      .unionByName(cand.select(col("b").as(idCol))).distinct()
    val arr = shx.join(candIds, Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    verifyJaccard(cand, arr, threshold, idCol)
  }

  /** Per-doc heavy-corrected prefix stream shared by [[jaccardPairsPrefix]]
    * and [[jaccardAgainstPrefix]]. Input: kept (sub-cap) gram rows
    * `(idCol, n_grams, gram, __df)` where `n_grams` counts the doc's FULL
    * gram set and `__df` is the gram's global document frequency under the
    * join's shared order (any consistent total order works — the filter's
    * losslessness is pure counting; ordering by df ascending is what makes
    * it SELECTIVE). Output: one row per prefix gram,
    * `(idCol, n_grams, gram)`; docs whose kept count cannot reach cmin
    * emit nothing (they can be in no passing pair). `emitWhen` (a predicate
    * over `__df`) filters the exploded stream AFTER slicing — slot counting
    * is untouched, only emission of grams that provably cannot witness a
    * pair is suppressed: the self-join form drops df = 1 grams (nothing to
    * share them with — and on natural text MOST grams are df 1, so this is
    * the bulk of the exchange), the incremental form drops sentinel-df
    * batch grams the corpus never saw. Lossless in both cases: the
    * filtered gram could not have been the shared witness. */
  private def prefixStream(kept: DataFrame, idCol: String, threshold: Double,
                           emitWhen: Option[Column] = None): DataFrame = {
    val perDoc = kept.groupBy(col(idCol), col("n_grams")).agg(
        sort_array(collect_list(struct(col("__df"), col("gram")))).as("__sorted"))
      .withColumn("__ka", size(col("__sorted")).cast("long"))
      // the 1e-9 nudge keeps a floating-point upward error at an exact
      // t·n boundary from OVER-estimating cmin (a too-large cmin means a
      // too-short prefix = silent recall loss; a one-smaller cmin only
      // lengthens the prefix, which is always safe)
      .withColumn("__cmin", greatest(lit(1L),
        ceil(lit(threshold) * col("n_grams") - lit(1e-9)).cast("long")
          - (col("n_grams") - col("__ka"))))
      .where(col("__cmin") <= col("__ka"))
      .withColumn("__plen", (col("__ka") - col("__cmin") + 1L).cast("int"))
      .select(col(idCol), col("n_grams"),
        expr("slice(__sorted, 1, __plen)").as("__prefix"))
    val exploded = perDoc
      .select(col(idCol), col("n_grams"), explode(col("__prefix")).as("__p"))
      .select(col(idCol), col("n_grams"),
        col("__p.__df").as("__df"), col("__p.gram").as("gram"))
    emitWhen.fold(exploded)(p => exploded.where(p)).drop("__df")
  }

  /** Exact-Jaccard verification of a candidate pair set over the FULL
    * (uncapped) gram sets. Joins each pair to its two gram ARRAYS and
    * intersects in place — the grams are distinct by construction, so
    * |array_intersect| IS the exact common count and the array lengths are
    * the exact per-doc totals (no separate counts pass). Versus the old
    * exploded 3-way join + groupBy this moves per-pair work off the shuffle
    * entirely: the only shuffled payload is one gram array per candidate
    * doc, and the intersection is a linear in-task pass. Shared by
    * [[jaccardPairs]] (capped) and [[minhashLsh]]. */
  private[graft] def verifyJaccard(candidates: DataFrame, shArr: DataFrame,
                            threshold: Double, idCol: String): DataFrame =
    verifyJaccard2(candidates, shArr, shArr, threshold, idCol)

  /** Two-sided variant: the `a` side resolves its gram array in `shArrA`,
    * the `b` side in `shArrB` (equal for self-dedup, distinct for
    * batch-vs-corpus dedup). */
  private def verifyJaccard2(candidates: DataFrame, shArrA: DataFrame,
                             shArrB: DataFrame, threshold: Double,
                             idCol: String): DataFrame = {
    // ONE exchange both spreads and dedups the candidate stream: an explicit
    // (a, b)-hash repartition (AQE never coalesces user-specified
    // partitioning, and byte-based coalescing would serialize this
    // compute-bound stage — tiny pair rows, two array intersections each —
    // onto one task), then an in-partition dropDuplicates that reuses the
    // exchange's clustering. Callers emit raw multi-sighted pairs (one per
    // shared gram/bucket) and rely on the dedup here.
    val spread = candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .dropDuplicates("a", "b")
    val ga = shArrA.select(col(idCol).as("a"), col("grams").as("__ga"))
    val gb = shArrB.select(col(idCol).as("b"), col("grams").as("__gb"))
    val common = spread.join(ga, Seq("a")).join(gb, Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("long").as("common"),
        size(col("__ga")).cast("long").as("na"), size(col("__gb")).cast("long").as("nb"))
    finishJaccard(common, threshold)
  }

  /** INCREMENTAL dedup: near-duplicate pairs between an incoming batch and
    * an existing corpus — the recurring-pipeline shape (dedupe tonight's
    * crawl against the reference set) where re-running the corpus self-join
    * per batch would redo quadratic work. One capped aggregation over the
    * CORPUS grams + one gram-keyed join from the batch side: candidate
    * volume is bounded by |batch gram rows| × `maxDocFreq`, never corpus².
    * The df cap applies to the corpus side (ubiquitous corpus grams
    * generate no candidates — the same documented recall trade-off as
    * [[jaccardPairs]]); the lossless length-ratio prefilter runs on the raw
    * candidate stream, and verification is exact over the FULL gram sets of
    * both sides. Output: (a = incoming id, b = corpus id, jaccard). */
  def jaccardAgainst(incoming: DataFrame, corpus: DataFrame, n: Int = 3,
                     threshold: Double = 0.5, idCol: String = "doc_id",
                     textCol: String = "text", maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "jaccardAgainst needs a positive corpus df cap")
    // same subtractive cap + bounded verify as [[jaccardPairs]], with the
    // heavy set defined by CORPUS df: over-cap grams leave both streams,
    // the batch-gram join against the residual corpus stream is bounded to
    // maxDocFreq matches per gram row, and the kept common count resolves
    // exactly except for the bounded heavy-overlap sliver
    // hashed 64-bit gram keys before any shuffle (see [[jaccardPairs]]);
    // the threshold-boundary sliver re-verifies over full hashed gram
    // sets rebuilt from these same streams, restricted to sliver docs
    // the corpus stream is referenced by the df count, the anti/semi joins
    // AND the sliver rebuild: without the barrier each reference
    // re-tokenizes and re-shingles the whole corpus (shingleArray is
    // scan-side — there is no exchange for Catalyst to reuse)
    val corpusSh = Barrier.pin(shingleArray(corpus, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val newSh = Barrier.pin(shingleArray(incoming, n, idCol, textCol)
      .select(col(idCol).as("a"), size(col("grams")).cast("long").as("na"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val heavy = corpusSh.groupBy("gram").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("gram")
    val keptCorpus = corpusSh.join(heavy, Seq("gram"), "left_anti")
      .select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    val corpusHeavy = corpusSh.join(heavy, Seq("gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    val batchHeavy = newSh.join(heavy, Seq("gram"), "left_semi")
      .groupBy("a").agg(count(lit(1)).as("__h"))
    val pairKept = newSh.join(keptCorpus, Seq("gram"))
      .where(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")) >= lit(threshold))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("ck"))
    val withBounds = pairKept
      .join(batchHeavy, Seq("a"), "left")
      .join(corpusHeavy.select(col(idCol).as("b"), col("__h").as("__hb")), Seq("b"), "left")
      .withColumn("__hmin",
        least(coalesce(col("__h"), lit(0L)), coalesce(col("__hb"), lit(0L))))
    // division form identical to finishJaccard (see jaccardPairs). The
    // exact-now/sliver split reads `maybe` twice — pin the (small,
    // post-prune) pair frame so the candidate join never re-runs
    val maybe = Barrier.pin(withBounds.where(
      (col("ck") + col("__hmin")).cast("double") /
        (col("na") + col("nb") - col("ck") - col("__hmin")) >= lit(threshold)))
    val exactNow = maybe.where(col("__hmin") === 0)
      .select(col("a"), col("b"), col("ck").as("common"), col("na"), col("nb"))
    val needVerify = maybe.where(col("__hmin") > 0).select("a", "b")
    // boundary sliver re-verify over FULL hashed gram sets restricted to
    // the sliver's docs (r12, same move as [[jaccardPairs]]): the old
    // form re-shingled the ENTIRE corpus and batch and shuffled every
    // doc's string gram array into the verify joins — a second full text
    // pass whose shuffle payload dwarfed the handful of pairs it decided.
    // Hashed identity is the exactness class `ck` already uses.
    val arrA = newSh.join(needVerify.select("a").distinct(), Seq("a"), "left_semi")
      .groupBy("a").agg(collect_list(col("gram")).as("grams"))
      .select(col("a").as(idCol), col("grams"))
    val arrB = corpusSh.join(needVerify.select(col("b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    finishJaccard(exactNow, threshold).unionByName(
      verifyJaccard2(needVerify, arrA, arrB, threshold, idCol))
  }

  /** PREFIX-FILTERED incremental dedup — IDENTICAL OUTPUT to
    * [[jaccardAgainst]] (same oracle): batch-vs-corpus near-duplicate pairs
    * with candidate generation cut by the same heavy-corrected prefix bound
    * as [[jaccardPairsPrefix]], applied two-sided. Each side's kept grams
    * (corpus df ≤ cap) sort by (corpus df asc, gram) — one consistent
    * global order — and slice to `k − max(1, ⌈t·n⌉ − heavy) + 1`. The
    * bound holds per side (kept-common ≥ ⌈t·na⌉ − ha AND ≥ ⌈t·nb⌉ − hb,
    * and the prefix lemma needs only the max of the two), so every pair
    * the capped contract can emit — full Jaccard ≥ t with at least one
    * shared sub-cap gram — survives to the exact full-set verify.
    *
    * Batch grams the corpus has never seen get a sentinel df that sorts
    * LAST: they cannot displace a matchable gram from the prefix, and the
    * exploded stream drops them (no corpus partner exists, so a join row
    * would be dead weight). Both moves are lossless.
    *
    * Cost shape: the candidate join degrades from |batch gram rows| ×
    * df to Σ over prefix grams of (batch prefix rows × corpus prefix
    * rows) — on boilerplate-heavy batches the prefix keeps only each
    * doc's rarest grams, so the recurring nightly-crawl join stops paying
    * for the grams every near-duplicate shares. The 500k-doc sf10 probe
    * (10% batch vs 90% corpus): 103.1M total shuffle-write rows vs the
    * capped form's 183.6M, 14.8 s vs 32.1 s same-run (`SCALE_PROBE.md`). */
  def jaccardAgainstPrefix(incoming: DataFrame, corpus: DataFrame, n: Int = 3,
                           threshold: Double = 0.5, idCol: String = "doc_id",
                           textCol: String = "text", maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "jaccardAgainstPrefix needs a positive corpus df cap")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val corpusSh = Barrier.pin(shingleArray(corpus, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val newSh = Barrier.pin(shingleArray(incoming, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val dfCounts = corpusSh.groupBy("gram").agg(count(lit(1)).as("__df"))
    val keptCorpus = corpusSh
      .join(dfCounts.where(col("__df") <= maxDocFreq), Seq("gram"))
    val prefB = prefixStream(keptCorpus, idCol, threshold)
      .select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    // sentinel in the DF SLOT only (never compared against a gram hash);
    // a real corpus df is a row count and cannot reach Long.MaxValue
    val unseen = Long.MaxValue
    val keptBatch = newSh
      .join(dfCounts.where(col("__df") > maxDocFreq).select("gram"),
        Seq("gram"), "left_anti")
      .join(dfCounts, Seq("gram"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(unseen)))
    val prefA = prefixStream(keptBatch, idCol, threshold,
        emitWhen = Some(col("__df") =!= unseen))
      .select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
    // lossless size-ratio prune, identical to [[jaccardAgainst]]
    val cand = prefA.join(prefB, Seq("gram"))
      .where(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")) >= lit(threshold))
      .select("a", "b")
    val arrA = newSh.join(cand.select(col("a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    val arrB = corpusSh.join(cand.select(col("b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    verifyJaccard2(cand, arrA, arrB, threshold, idCol)
  }

  /** (a, b, common, na, nb) → thresholded exact-Jaccard pairs. */
  private[graft] def finishJaccard(common: DataFrame, threshold: Double): DataFrame =
    common
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))

  /** ASYMMETRIC containment near-dup pairs: containment(a, b) =
    * |grams(a) ∩ grams(b)| / min(|grams(a)|, |grams(b)|) — the fraction of
    * the SMALLER document's shingles shared with the other. Symmetric
    * Jaccard structurally misses subset duplicates at disparate sizes
    * (a 100-gram doc fully quoted inside a 10,000-gram page scores
    * J ≈ 0.01 but containment = 1.0); this is the standard second dedup
    * axis for quote extraction, boilerplate-wrapper collapse, and
    * "article + comments" near-copies.
    *
    * Same capped contract and plan shape as [[jaccardPairs]]: grams hash
    * to 64-bit keys before any shuffle, over-cap grams (df > `maxDocFreq`)
    * are SUBTRACTED before the candidate self-join (so candidate volume is
    * bounded by maxDocFreq × surviving gram rows — never corpus²), and the
    * score is exact over the FULL gram sets. The one structural difference:
    * NO length-ratio prefilter — containment is precisely the regime where
    * |a| and |b| diverge, so the Jaccard path's lossless size prune would
    * be lossy here. The heavy-overlap bound still splits candidates into
    * an exact-now set (no shared-heavy uncertainty: common = ck) and a
    * boundary sliver verified by one array intersect per pair over gram
    * arrays rebuilt from the staged hashed stream. */
  def containmentPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.8,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "containmentPairs needs a positive df cap")
    val shx = Barrier.pin(shingleArray(df, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val heavy = shx.groupBy("gram").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("gram")
    val kept = shx.join(heavy, Seq("gram"), "left_anti")
    val heavyPerDoc = shx.join(heavy, Seq("gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    val a = kept.select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
    val b = kept.select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    val pairKept = a.join(b, Seq("gram")).where(col("a") < col("b"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("ck"))
    val withBounds = pairKept
      .join(heavyPerDoc.select(col(idCol).as("a"), col("__h").as("ha")), Seq("a"), "left")
      .join(heavyPerDoc.select(col(idCol).as("b"), col("__h").as("hb")), Seq("b"), "left")
      .withColumn("__hmin",
        least(coalesce(col("ha"), lit(0L)), coalesce(col("hb"), lit(0L))))
    // common ≤ ck + min(ha, hb), so (ck + hmin)/min(na, nb) is a lossless
    // upper bound on containment — prune below-threshold pairs before any
    // array work, emit hmin = 0 pairs exactly from ck
    val maybe = Barrier.pin(withBounds.where(
      (col("ck") + col("__hmin")).cast("double") /
        least(col("na"), col("nb")) >= lit(threshold)))
    val exactNow = maybe.where(col("__hmin") === 0)
      .select(col("a"), col("b"), col("ck").as("common"), col("na"), col("nb"))
    val needVerify = maybe.where(col("__hmin") > 0).select("a", "b")
    val candIds = needVerify.select(col("a").as(idCol))
      .unionByName(needVerify.select(col("b").as(idCol))).distinct()
    val sliverArr = shx.join(candIds, Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    val ga = sliverArr.select(col(idCol).as("a"), col("grams").as("__ga"))
    val gb = sliverArr.select(col(idCol).as("b"), col("grams").as("__gb"))
    // needVerify is already one row per (a, b) (it comes from the pair
    // groupBy) — unlike verifyJaccard's multi-sighted inputs, no dedup is
    // needed; the explicit repartition only SPREADS the compute-bound
    // array-intersect stage (AQE would coalesce the tiny rows onto one task)
    val verified = needVerify
      .repartition(needVerify.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .join(ga, Seq("a")).join(gb, Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("long").as("common"),
        size(col("__ga")).cast("long").as("na"), size(col("__gb")).cast("long").as("nb"))
    finishContainment(exactNow, threshold)
      .unionByName(finishContainment(verified, threshold))
  }

  /** INCREMENTAL containment: asymmetric near-dup pairs between an incoming
    * batch and an existing corpus — "is tonight's crawl already subsumed?"
    * Same bounded structure as [[jaccardAgainst]] (corpus-df cap, candidate
    * volume ≤ |batch gram rows| × `maxDocFreq`, exact score over full gram
    * sets) with [[containmentPairs]]' scoring: common / min(na, nb), and no
    * size-ratio prefilter — a short batch doc fully quoted inside a long
    * corpus page is precisely the target. Output: (a = incoming id,
    * b = corpus id, containment). */
  def containmentAgainst(incoming: DataFrame, corpus: DataFrame, n: Int = 3,
                         threshold: Double = 0.8, idCol: String = "doc_id",
                         textCol: String = "text",
                         maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "containmentAgainst needs a positive corpus df cap")
    val corpusSh = Barrier.pin(shingleArray(corpus, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val newSh = Barrier.pin(shingleArray(incoming, n, idCol, textCol)
      .select(col(idCol).as("a"), size(col("grams")).cast("long").as("na"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val heavy = corpusSh.groupBy("gram").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("gram")
    val keptCorpus = corpusSh.join(heavy, Seq("gram"), "left_anti")
      .select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    val corpusHeavy = corpusSh.join(heavy, Seq("gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    val batchHeavy = newSh.join(heavy, Seq("gram"), "left_semi")
      .groupBy("a").agg(count(lit(1)).as("__h"))
    val pairKept = newSh.join(keptCorpus, Seq("gram"))
      .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("ck"))
    val withBounds = pairKept
      .join(batchHeavy, Seq("a"), "left")
      .join(corpusHeavy.select(col(idCol).as("b"), col("__h").as("__hb")), Seq("b"), "left")
      .withColumn("__hmin",
        least(coalesce(col("__h"), lit(0L)), coalesce(col("__hb"), lit(0L))))
    val maybe = Barrier.pin(withBounds.where(
      (col("ck") + col("__hmin")).cast("double") /
        least(col("na"), col("nb")) >= lit(threshold)))
    val exactNow = maybe.where(col("__hmin") === 0)
      .select(col("a"), col("b"), col("ck").as("common"), col("na"), col("nb"))
    val needVerify = maybe.where(col("__hmin") > 0).select("a", "b")
    val arrA = newSh.join(needVerify.select("a").distinct(), Seq("a"), "left_semi")
      .groupBy("a").agg(collect_list(col("gram")).as("grams"))
    val arrB = corpusSh.join(needVerify.select(col("b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
      .select(col(idCol).as("b"), col("grams"))
    // one row per (a, b) by construction — spread only, no dedup (see
    // [[containmentPairs]])
    val verified = needVerify
      .repartition(needVerify.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .join(arrA.select(col("a"), col("grams").as("__ga")), Seq("a"))
      .join(arrB.select(col("b"), col("grams").as("__gb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("long").as("common"),
        size(col("__ga")).cast("long").as("na"), size(col("__gb")).cast("long").as("nb"))
    finishContainment(exactNow, threshold)
      .unionByName(finishContainment(verified, threshold))
  }

  /** PREFIX-FILTERED containment pairs — IDENTICAL OUTPUT to
    * [[containmentPairs]] (same oracle): the candidate self-join is cut by
    * an ASYMMETRIC variant of the SSJoin/PPJoin prefix bound. Containment
    * ≥ t means common ≥ ⌈t·min(na, nb)⌉ — a bound only the SMALLER doc of
    * a pair can assert from its own size (the larger doc knows nothing:
    * its partner may be arbitrarily small, so its own lower bound
    * degenerates to common ≥ 1). Hence the join is one-sided: each doc's
    * heavy-corrected kept prefix (length k − max(1, ⌈t·n⌉ − heavy) + 1,
    * the same cmin arithmetic as [[jaccardPairsPrefix]] — when the doc is
    * the pair's smaller side, kept-common ≥ ⌈t·n⌉ − h) joins the FULL kept
    * stream restricted to the strictly-larger partner (ties take both
    * docs as "smaller", resolved to one direction by id). Candidate
    * volume drops from Σ df² to Σ (prefix-df × df) per gram — the prefix
    * keeps only each doc's rarest grams, which is where subset duplicates
    * are cheapest to witness. Every candidate verifies over its FULL
    * hashed gram sets, so no bound arithmetic reaches the output; the
    * heavy-overlap exact-now split is unnecessary (and absent) here.
    *
    * Losslessness under the capped contract (pair shares ≥ 1 sub-cap gram
    * AND full containment ≥ t): with na ≤ nb, kept-common ≥ ⌈t·na⌉ −
    * min(ha, hb) ≥ ⌈t·na⌉ − ha and kept-common ≥ 1, so by the prefix
    * lemma a shared kept gram sits inside a's kept prefix of length
    * ka − max(1, ⌈t·na⌉ − ha) + 1 — and that gram is somewhere in b's
    * kept set, which the large stream carries whole. Docs whose kept
    * count cannot reach cmin emit no prefix (they can be no pair's
    * smaller side) but still ride the large stream. df-1 grams are
    * filtered from BOTH streams post-slice: a gram one doc holds cannot
    * witness a pair. */
  def containmentPairsPrefix(df: DataFrame, n: Int = 3, threshold: Double = 0.8,
                             idCol: String = "doc_id", textCol: String = "text",
                             maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "containmentPairsPrefix needs a positive df cap")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val shx = Barrier.pin(shingleArray(df, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val dfCounts = shx.groupBy("gram").agg(count(lit(1)).as("__df"))
    val kept = shx.join(dfCounts.where(col("__df") <= maxDocFreq), Seq("gram"))
    val small = prefixStream(kept, idCol, threshold,
        emitWhen = Some(col("__df") >= 2L))
      .select(col(idCol).as("s"), col("n_grams").as("ns"), col("gram"))
    val large = kept.where(col("__df") >= 2L)
      .select(col(idCol).as("l"), col("n_grams").as("nl"), col("gram"))
    // strict-size or id-tiebreak orientation: each unordered pair is
    // generated from exactly one smaller-side direction (both docs of a
    // tied-size pair carry a valid prefix, so either direction suffices)
    val cand = small.join(large, Seq("gram"))
      .where(col("ns") < col("nl") ||
        (col("ns") === col("nl") && col("s") < col("l")))
      .select(least(col("s"), col("l")).as("a"),
        greatest(col("s"), col("l")).as("b"))
    val candIds = cand.select(col("a").as(idCol))
      .unionByName(cand.select(col("b").as(idCol))).distinct()
    val arr = shx.join(candIds, Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    verifyContainment2(cand, arr, arr, threshold, idCol)
  }

  /** PREFIX-FILTERED incremental containment — IDENTICAL OUTPUT to
    * [[containmentAgainst]] (same oracle): batch-vs-corpus subsumption with
    * the asymmetric prefix bound of [[containmentPairsPrefix]] applied in
    * BOTH directions, since either side of a (batch, corpus) pair may be
    * the smaller. Two one-sided joins partition the pair space by size:
    * batch prefixes (corpus-df order, sentinel for corpus-unseen grams —
    * they hold prefix slots but never emit, the [[jaccardAgainstPrefix]]
    * move) join all kept corpus grams where na ≤ nb, and corpus prefixes
    * join all corpus-seen kept batch grams where nb < na. Union, then one
    * exact full-set verify per distinct candidate. The corpus-df cap and
    * candidate contract (≥ 1 shared sub-cap corpus gram) are exactly
    * [[containmentAgainst]]'s; the recurring nightly-crawl shape stops
    * paying Σ (batch-df × corpus-df) on the grams every subset duplicate
    * shares. */
  def containmentAgainstPrefix(incoming: DataFrame, corpus: DataFrame,
                               n: Int = 3, threshold: Double = 0.8,
                               idCol: String = "doc_id", textCol: String = "text",
                               maxDocFreq: Int = 20): DataFrame = {
    require(maxDocFreq > 0, "containmentAgainstPrefix needs a positive corpus df cap")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    val corpusSh = Barrier.pin(shingleArray(corpus, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val newSh = Barrier.pin(shingleArray(incoming, n, idCol, textCol)
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram"))))
    val dfCounts = corpusSh.groupBy("gram").agg(count(lit(1)).as("__df"))
    val keptCorpus = corpusSh
      .join(dfCounts.where(col("__df") <= maxDocFreq), Seq("gram"))
    // sentinel in the DF SLOT only (see [[jaccardAgainstPrefix]])
    val unseen = Long.MaxValue
    val keptBatch = newSh
      .join(dfCounts.where(col("__df") > maxDocFreq).select("gram"),
        Seq("gram"), "left_anti")
      .join(dfCounts, Seq("gram"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(unseen)))
    // direction 1: batch doc is the pair's smaller side (ties included)
    val prefA = prefixStream(keptBatch, idCol, threshold,
        emitWhen = Some(col("__df") =!= unseen))
      .select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
    val largeB = keptCorpus
      .select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    val cand1 = prefA.join(largeB, Seq("gram"))
      .where(col("na") <= col("nb")).select("a", "b")
    // direction 2: corpus doc is strictly smaller; corpus-unseen batch
    // grams leave the large stream (no corpus partner can match them)
    val prefB = prefixStream(keptCorpus, idCol, threshold)
      .select(col(idCol).as("b"), col("n_grams").as("nb"), col("gram"))
    val largeA = keptBatch.where(col("__df") =!= unseen)
      .select(col(idCol).as("a"), col("n_grams").as("na"), col("gram"))
    val cand2 = largeA.join(prefB, Seq("gram"))
      .where(col("nb") < col("na")).select("a", "b")
    val cand = cand1.unionByName(cand2)
    val arrA = newSh.join(cand.select(col("a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    val arrB = corpusSh.join(cand.select(col("b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(idCol).agg(collect_list(col("gram")).as("grams"))
    verifyContainment2(cand, arrA, arrB, threshold, idCol)
  }

  /** Exact-containment verification over FULL gram sets — the containment
    * twin of [[verifyJaccard2]]: one spread-and-dedup exchange over the
    * multi-sighted candidate stream, then a linear in-task array intersect
    * per pair. */
  private def verifyContainment2(candidates: DataFrame, shArrA: DataFrame,
                                 shArrB: DataFrame, threshold: Double,
                                 idCol: String): DataFrame = {
    val spread = candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism,
        col("a"), col("b"))
      .dropDuplicates("a", "b")
    val ga = shArrA.select(col(idCol).as("a"), col("grams").as("__ga"))
    val gb = shArrB.select(col(idCol).as("b"), col("grams").as("__gb"))
    val common = spread.join(ga, Seq("a")).join(gb, Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("long").as("common"),
        size(col("__ga")).cast("long").as("na"), size(col("__gb")).cast("long").as("nb"))
    finishContainment(common, threshold)
  }

  /** (a, b, common, na, nb) → thresholded exact-containment pairs. */
  private def finishContainment(common: DataFrame, threshold: Double): DataFrame =
    common
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), round(col("containment"), 6).as("containment"))

  /** Portable 32-bit shingle hash: first 8 hex chars of md5 (same value
    * derivable in any engine — keeps LSH reproducible cluster-to-cluster). */
  private def shingleHash32(gram: org.apache.spark.sql.Column) =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long")

  val MinhashPrime = 4294967291L // largest 32-bit prime

  /** MinHash signatures: numHashes universal-hash mins over shingle hashes.
    * h_j(x) = (a_j·x + b_j) mod p with deterministic a_j, b_j. One groupBy
    * computes all mins (map-side partial agg). */
  /** One MessageDigest per executor thread: getInstance per gram is a
    * measurable hot-path allocation at billions of shingles; digest() resets
    * the instance, so thread-local reuse is safe. */
  private lazy val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** JVM twin of [[shingleHash32]] — identical md5-derived value. */
  private def shingleHash32Jvm(gram: String): Long = {
    val d = md5Local.get().digest(gram.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** 64-bit md5-derived gram hash (first 8 digest bytes) — the OPH
    * routing+value hash; 64 bits so bin minima don't collide. */
  private def shingleHash64Jvm(gram: String): Long = {
    val d = md5Local.get().digest(gram.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** ONE-PERMUTATION minhash signatures (Li, Owen, Zhang 2012) with
    * rotation densification (Shrivastava & Li 2014): instead of k
    * independent universal-hash transforms PER GRAM (k·|grams| multiplies
    * — the dominant cost of classic minhash at tokenizer scale), each gram
    * is hashed ONCE and routed to bin `hash mod k`; the bin keeps the
    * minimum. Empty bins (short docs) borrow the nearest non-empty bin to
    * the right (cyclic), offset by hops·C so borrowed values stay distinct
    * across bins — the densified signature keeps the collision property
    * E[sig_a(i) = sig_b(i)] ≈ J(a, b) that banding needs. Same output
    * shape as [[minhashSignatures]] (h0..h{k-1}), so the LSH banding and
    * exact-verify stages are shared; candidate recall is equivalent in
    * expectation and the verify stage makes the OUTPUT exact either way.
    * O(|grams| + k) per doc vs O(|grams|·k) — the 100 TB signature path. */
  def minhashSignaturesOph(shArr: DataFrame, numHashes: Int,
                           idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val projected = shArr.select(col(idCol), col("grams"))
    val outSchema = StructType(Seq(
      projected.schema.head, StructField("__sig", ArrayType(LongType), nullable = false)))
    val RotC = 0x9e3779b97f4a7c15L // golden-ratio odd constant per hop
    val sigs = projected.map { row =>
      val grams: Seq[String] = if (row.isNullAt(1)) Nil else row.getSeq[String](1)
      val k = numHashes
      val mins = Array.fill(k)(Long.MaxValue)
      grams.foreach { g =>
        val x = shingleHash64Jvm(g)
        val bin = java.lang.Math.floorMod(x, k.toLong).toInt
        if (x < mins(bin)) mins(bin) = x
      }
      // rotation densification: empty bin i takes the next non-empty bin's
      // value (cyclic, rightward) plus hops·C; an all-empty signature
      // (gramless doc) stays all-MaxValue — callers filter those like the
      // classic path does
      // borrow ORIGINAL minima only — a snapshot of pre-densification
      // emptiness, so a filled bin is never itself borrowed from
      val empty = mins.map(_ == Long.MaxValue)
      if (empty.exists(!_)) {
        var i = 0
        while (i < k) {
          if (empty(i)) {
            var hops = 1
            var j = (i + 1) % k
            while (empty(j)) { j = (j + 1) % k; hops += 1 }
            mins(i) = mins(j) + hops.toLong * RotC
          }
          i += 1
        }
      }
      Row(row.get(0), mins.toSeq)
    }(Encoders.row(outSchema))
    sigs.select(col(idCol) +:
      (0 until numHashes).map(j => col("__sig")(j).as(s"h$j")): _*)
  }

  /** Signatures straight from the per-doc gram ARRAY (see [[shingleArray]]):
    * all of a document's grams live in one row, so the minima compute in a
    * single map with primitive arrays — ZERO shuffles (the previous
    * groupByKey pass shuffled every gram; the 128-aggregate SQL form pays
    * wide-row hash-agg state — both strictly worse). */
  def minhashSignatures(shArr: DataFrame, numHashes: Int,
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val projected = shArr.select(col(idCol), col("grams"))
    val outSchema = StructType(Seq(
      projected.schema.head, StructField("__sig", ArrayType(LongType), nullable = false)))
    val sigs = projected.map { row =>
      val grams: Seq[String] = if (row.isNullAt(1)) Nil else row.getSeq[String](1)
      val mins = Array.fill(numHashes)(Long.MaxValue)
      grams.foreach { g =>
        val x = shingleHash32Jvm(g)
        var j = 0
        while (j < numHashes) {
          val h = ((2L * j + 1) * x + 1L * j * j + 7) % MinhashPrime
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      Row(row.get(0), mins.toSeq)
    }(Encoders.row(outSchema))
    sigs.select(col(idCol) +:
      (0 until numHashes).map(j => col("__sig")(j).as(s"h$j")): _*)
  }

  /** MinHash + LSH banding + exact-Jaccard verification.
    * bands of `rowsPerBand` signature values hash to buckets; docs sharing a
    * bucket are candidates; candidates are re-verified with exact Jaccard so
    * the *output* is exact — LSH only bounds the candidate set.
    *
    * `maxBucket` (0 = off) bounds CANDIDATE GENERATION the same way the
    * df-capped Jaccard path does: a band bucket holding d docs emits d²
    * candidate rows, and on a boilerplate-heavy corpus (or with banding
    * tuned far below the threshold, like the near-exhaustive 64×2 default)
    * the big buckets are precisely the ones full of pairs that verification
    * would reject anyway. Buckets over the cap are dropped via
    * [[graft.functions.CappedCollectList]] — memory bounded at cap+1 ids
    * per bucket through every partial/merge — so the recall loss is
    * confined to pairs whose EVERY colliding bucket is over-cap (with
    * multiple bands, near-identical pairs keep many chances to surface in
    * a small bucket; exact-duplicate cliques belong to [[exact]] anyway). */
  def minhashLsh(df: DataFrame, n: Int = 3, numHashes: Int = 128,
                 rowsPerBand: Int = 2, threshold: Double = 0.5,
                 idCol: String = "doc_id", textCol: String = "text",
                 maxBucket: Int = 0,
                 /** one-permutation signatures ([[minhashSignaturesOph]]):
                   * O(grams + k) per doc instead of O(grams·k) — the
                   * tokenizer-scale path; candidate recall equivalent in
                   * expectation, output exact either way (the verify). */
                 oph: Boolean = false): DataFrame = {
    val bands = numHashes / rowsPerBand
    // shArr feeds the signature map AND both sides of the exact verify (3
    // lineage references), and the shingle pass is scan-side, so without
    // the barrier each reference re-tokenizes + re-shingles the corpus
    val shArr = Barrier.pin(shingleArray(df, n, idCol, textCol))
    // gramless docs (shorter than n words / NULL text) get NO signature —
    // otherwise every one of them shares the all-MaxValue signature and they
    // band-bucket into a quadratic candidate clique
    val nonEmpty = shArr.where(size(col("grams")) > 0)
    val sig =
      if (oph) minhashSignaturesOph(nonEmpty, numHashes, idCol)
      else minhashSignatures(nonEmpty, numHashes, idCol)

    // band buckets: (band_id, xxhash64 of the sig slice) — a LONG bucket
    // key, not an md5 hex string: the bucket join/group shuffles 8 bytes
    // per band instead of 32-char text, and a hash collision can only ADD
    // candidate pairs, which the exact-Jaccard verify below removes
    val bandCols = (0 until bands).map { bd =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${bd * rowsPerBand + r}"))
      struct(lit(bd).as("band"), xxhash64(slice: _*).as("bucket"))
    }
    val buckets = sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))

    val candidates =
      if (maxBucket <= 0) {
        val l = buckets.select(col("band"), col("bucket"), col(idCol).as("a"))
        val r = buckets.select(col("band"), col("bucket"), col(idCol).as("b"))
        l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
          .select("a", "b")
      } else {
        // one capped shuffle groups ids per bucket (same plan shape as the
        // capped Jaccard candidate stage) and in-bucket pairs come from two
        // narrow explodes — no bucket self-join of raw rows at any skew
        import org.apache.spark.sql.graft.SqlBridge
        val cappedIds = SqlBridge.column(
          graft.functions.CappedCollectList(
            SqlBridge.expression(col(idCol)), maxBucket).toAggregateExpression())
        buckets.groupBy("band", "bucket").agg(cappedIds.as("__ids"))
          .where(size(col("__ids")).between(2, maxBucket))
          .select(explode(col("__ids")).as("a"), col("__ids"))
          .select(col("a"), explode(col("__ids")).as("b"))
          .where(col("a") < col("b"))
          .select("a", "b")
      }

    // exact verification on the candidate set only
    verifyJaccard(candidates, shArr, threshold, idCol)
  }

  /** Near-dup CLUSTERS: connected components over a duplicate-pair edge set
    * (e.g. [[jaccardPairs]] / [[minhashLsh]] output), labeling every document
    * with the smallest reachable id — the canonical representative a
    * training-data pipeline keeps.
    *
    * Scale design: the iteration runs ONLY over the duplicate graph (nodes
    * with ≥1 edge) — a small fraction of any corpus — as an RDD min-label
    * propagation with pointer jumping, every step co-partitioned by one
    * shared HashPartitioner sized to the edge count. Co-partitioning makes
    * the iterative joins narrow (no re-shuffle of the resident sides); each
    * round shuffles just the new label messages, converging in O(log
    * diameter) rounds with no per-component state on any single task.
    * Singletons never enter the loop; one final join labels the full corpus.
    * (RDD is deliberate here: a DataFrame loop re-plans and re-shuffles every
    * round — partitioner reuse across iterations is exactly the case
    * Catalyst can't express.) */
  def clusters(docs: DataFrame, pairs: DataFrame,
               idCol: String = "doc_id", maxIterations: Int = 25,
               driverEdgeCap: Long = 1000000L): DataFrame = {
    // ids keep their family: numeric ids label with the numeric min,
    // anything else (string/UUID ids — supported by the whole dedup stack)
    // with the lexicographic min. The col() projection resolves the pair
    // columns with Spark's (case-insensitive) resolution before the
    // dataType check, so 'A'/'B'-named inputs work too.
    val numericIds = pairs.select(col("a")).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (numericIds)
      runClusters[Long](docs, pairs, idCol, "long", maxIterations, driverEdgeCap)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
        implicitly, implicitly)
    else
      runClusters[String](docs, pairs, idCol, "string", maxIterations, driverEdgeCap)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING),
        implicitly, implicitly)
  }

  /** Canonical selection per near-dup CLUSTER: [[clusters]]' connected
    * components, each reduced to the single document maximizing
    * `qualityCol` (ties: smallest id) — the step a curation pipeline runs
    * after fuzzy dedup, where "keep the longest/cleanest copy" replaces
    * [[clusters]]' keep-smallest-id convention. Same associative
    * min(struct) argmax as [[exactKeepBest]]: one map-side-combinable
    * aggregate over the labeled corpus, no window, so full rows never
    * shuffle — only (cluster, best-so-far, count) partials do. Same
    * non-null `qualityCol` contract as [[exactKeepBest]]. */
  def clustersKeepBest(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id",
                       qualityCol: String = "n_chars",
                       maxIterations: Int = 25,
                       driverEdgeCap: Long = 1000000L,
                       /** [[exactKeepBest]]'s packed-long argmax contract
                         * (HashAggregate instead of SortAggregate; bounds
                         * asserted per row). */
                       packedArgmax: Boolean = false): DataFrame = {
    val labeled = clusters(docs, pairs, idCol, maxIterations, driverEdgeCap)
      .join(docs.select(col(idCol), col(qualityCol)), Seq(idCol))
    if (packedArgmax)
      labeled
        .select(col("cluster_id"),
          packArgmax(docs, qualityCol, idCol).as("__best"))
        .groupBy("cluster_id")
        .agg(min("__best").as("best"), count(lit(1)).as("n_docs"))
        .select(col("cluster_id"),
          unpackArgmaxId(col("best")).cast(docs.schema(idCol).dataType).as("keep_id"),
          unpackArgmaxQuality(col("best"))
            .cast(docs.schema(qualityCol).dataType).as("keep_quality"),
          col("n_docs"))
    else
      labeled
        .select(col("cluster_id"),
          struct((-col(qualityCol)).as("nq"), col(idCol).as("id")).as("__best"))
        .groupBy("cluster_id")
        .agg(min("__best").as("best"), count(lit(1)).as("n_docs"))
        .select(col("cluster_id"), col("best.id").as("keep_id"),
          (-col("best.nq")).as("keep_quality"), col("n_docs"))
  }

  /** Shared cast → label loop → join-back glue for one id family. */
  private def runClusters[K](docs: DataFrame, pairs: DataFrame, idCol: String,
                             castType: String, maxIterations: Int, driverEdgeCap: Long)(
      implicit enc: org.apache.spark.sql.Encoder[(K, K)],
      ct: scala.reflect.ClassTag[K], ord: Ordering[K]): DataFrame = {
    val pds = pairs.select(col("a").cast(castType), col("b").cast(castType))
      .as[(K, K)](enc).rdd.cache()
    val labels = docs.sparkSession
      .createDataset(ccLabels(pds, maxIterations, driverEdgeCap))(enc)
      .toDF("id", "cluster_id")
    val out = docs.select(col(idCol).cast(castType).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    pds.unpersist()
    out
  }

  /** Min-label propagation with pointer jumping over an undirected edge
    * list. Every keyed RDD shares ONE HashPartitioner sized to the edge
    * count, so the merge joins (labels ⟕ inbox, stepped ⟕ jump, the
    * convergence count) are narrow; the only shuffles per round are the
    * two message re-keys (neighbor sends + pointer-jump re-key), both
    * bounded by the duplicate-graph node set. Converges in O(log diameter)
    * rounds; the driver only ever sees the per-round changed-count scalar.
    *
    * Below `driverEdgeCap` edges the loop is skipped entirely for a driver
    * union-find: the duplicate graph is a sliver of any corpus (only docs
    * with ≥1 near-dup edge), and each distributed round costs a fixed
    * ~0.5 s of job latency that dwarfs the actual work on a small graph.
    * The cap bounds driver memory (1M edges ≈ 16 MB of longs); past it the
    * co-partitioned loop — checking convergence every TWO rounds, since the
    * count action is half the per-round latency — takes over. Same labels
    * either way: min reachable id. */
  private def ccLabels[K](pairs: org.apache.spark.rdd.RDD[(K, K)], maxIterations: Int,
                          driverEdgeCap: Long = 1000000L)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K])
    : org.apache.spark.rdd.RDD[(K, K)] = {
    val sc = pairs.sparkContext
    val nEdges = pairs.count()
    if (nEdges <= driverEdgeCap) return sc.parallelize(unionFind(pairs.collect()), 1)
    val nParts = math.max(1, math.min((nEdges / 500000L).toInt + 1, sc.defaultParallelism))
    val part = new org.apache.spark.HashPartitioner(nParts)
    val edges = pairs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).cache()
    var labels = edges.keys.map(k => (k, k)).reduceByKey(part, ord.min(_, _)).cache()
    // one propagate+jump round (two shuffles, all joins narrow via `part`)
    def step(ls: org.apache.spark.rdd.RDD[(K, K)]): org.apache.spark.rdd.RDD[(K, K)] = {
      // each node sends its label to its neighbors (shuffle 1: messages)
      val inbox = edges.join(ls).map { case (_, (y, lx)) => (y, lx) }
        .reduceByKey(part, ord.min(_, _))
      // narrow merge: labels and inbox are co-partitioned
      val stepped = ls.leftOuterJoin(inbox).mapValues {
        case (l, m) => m.fold(l)(ord.min(l, _))
      }
      // pointer jump: label := label(label) (shuffle 2: re-key by label)
      val jumpMsgs = stepped.map { case (id, l) => (l, id) }
        .join(stepped)                                  // (l, (id, label(l)))
        .map { case (_, (id, ll)) => (id, ll) }
        .reduceByKey(part, ord.min(_, _))
      stepped.leftOuterJoin(jumpMsgs).mapValues {
        case (l, m) => m.fold(l)(ord.min(l, _))
      }
    }
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      val jumped = step(step(labels)).cache()
      // narrow convergence count — both sides share `part`; checked once per
      // TWO rounds (detection is at most one round late, the sequential
      // latency bill is halved)
      val changed = jumped.join(labels)
        .filter { case (_, (n, o)) => ord.lt(n, o) }.count()
      labels.unpersist()
      labels = jumped
      converged = changed == 0
      iter += 2
    }
    edges.unpersist()
    labels
  }

  /** Driver-side min-label union-find (path compression + union-by-min):
    * root of every set is its minimum member, so resolving each node's root
    * yields exactly the distributed loop's labels. */
  private def unionFind[K](edges: Array[(K, K)])(implicit ord: Ordering[K]): Seq[(K, K)] = {
    val parent = scala.collection.mutable.HashMap.empty[K, K]
    def find(x: K): K = {
      var root = x
      while (parent.get(root).exists(r => !ord.equiv(r, root))) root = parent(root)
      var cur = x
      while (!ord.equiv(cur, root)) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (!ord.equiv(ra, rb)) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toSeq
  }

  /** Benchmark DECONTAMINATION: flag training documents that share any word
    * n-gram with an evaluation/benchmark corpus (the GPT-3-style n-gram
    * overlap check). One equi-join on the gram key: eval grams deduplicate
    * first (the eval set is small — Spark broadcasts it), so the train side
    * streams through at scan speed and only contaminated docs shuffle to
    * the per-doc count. */
  def contamination(train: DataFrame, eval: DataFrame, n: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // grams shrink to 64-bit keys before the shuffle (the [[jaccardPairs]]
    // move): only COUNTS survive to the output, so the join key never needs
    // the gram text — at 100 TB that's 8-byte vs ~40-byte 5-gram shuffles
    val trainSh = shingles(train, n, idCol, textCol)
      .withColumn("gram", xxhash64(col("gram")))
    val evalGrams = shingles(eval, n, idCol, textCol)
      .withColumn("gram", xxhash64(col("gram"))).select("gram").distinct()
    trainSh.join(evalGrams, Seq("gram"))
      .groupBy(idCol)
      .agg(count("*").as("n_contaminated_grams"))
  }

  /** EXACT SUBSTRING DEDUP (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): find every maximal character span of
    * length >= `windowChars` whose content occurs >= `minCount` times in the
    * corpus (cross-doc or within-doc), as merged [span_start, span_end)
    * codepoint intervals over the normalized text — the removal targets of
    * the paper's ExactSubstr method.
    *
    * Spark-first replacement for the paper's monolithic suffix array: the
    * [[graft.functions.RollingHashWindows]] codegen expression emits every
    * window hash in one O(chars) pass inside the scan, so a duplicated span
    * of any length >= w appears as a run of duplicated w-window hashes.
    * Stages: (1) posexplode the hash array — one row per codepoint, the
    * same O(n) row volume a distributed suffix-array build shuffles. This
    * projection is DELIBERATELY computed twice (once feeding the dup-count
    * aggregate, once as the join probe side): re-running a narrow
    * scan+hash pass is cheaper at scale than the alternative — one
    * repartition of full-width (id, pos, hash) rows to share the pass —
    * whenever the dup side broadcasts (the common case), and no worse when
    * it doesn't. All narrow until (2) one hash-keyed aggregate keeps hashes
    * seen >= minCount times (62-bit double hash: no birthday collisions at
    * corpus scale — a 31-bit hash would manufacture hundreds of false dup
    * spans per 10⁶ windows), (3) a semi-join marks duplicated positions
    * (the dup-hash side is the small one; AQE broadcasts it when it fits),
    * (4) per-doc gaps-and-islands merge — one window partition keyed by
    * doc, bounded by doc length. Output: (id, span_id, span_start,
    * span_end, span_chars), span_id ordered by start. */
  def substringDupSpans(df: DataFrame, windowChars: Int = 30, minCount: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowChars > 0, "windowChars must be positive")
    require(minCount >= 2, "minCount < 2 would mark every span a duplicate")
    org.apache.spark.sql.graft.SqlBridge.registerFunction(df.sparkSession,
      "rolling_hash_windows",
      exprs => graft.functions.RollingHashWindows(exprs(0), exprs(1)))
    val pos = df
      .select(col(idCol), TextAnalysis.normText(col(textCol)).as("__norm"))
      .select(col(idCol),
        posexplode(expr(s"rolling_hash_windows(__norm, $windowChars)")))
      .select(col(idCol), col("pos"), col("col").as("__h"))
    val dup = pos.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount).select("__h")
    val marked = pos.join(dup, Seq("__h"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > windowChars, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"), (max("pos") + windowChars).as("span_end"))
      .select(col(idCol),
        (col("__island") - 1).cast("int").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start")).cast("long").as("span_chars"))
  }

  /** SPAN-LEVEL BENCHMARK DECONTAMINATION — the cross-corpus form of
    * [[substringDupSpans]]: find every >= `windowChars` character span of a
    * TRAINING document whose content also appears in the EVAL corpus, as
    * merged [start, end) intervals ready for [[removeSpans]]. This is the
    * span-precise complement to [[contamination]]'s per-doc gram counts:
    * instead of flagging documents it localizes exactly WHAT leaked, so
    * curation can cut the leaked span and keep the document.
    *
    * Same machinery as the self-dedup: O(chars) rolling window hashes on
    * both sides, but duplicate marking is a semi-join of train positions
    * against the DISTINCT eval window-hash set — the eval side is the
    * small one (benchmarks are tiny next to a training corpus) and
    * broadcasts. */
  def contaminationSpans(train: DataFrame, eval: DataFrame, windowChars: Int = 30,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowChars > 0, "windowChars must be positive")
    org.apache.spark.sql.graft.SqlBridge.registerFunction(train.sparkSession,
      "rolling_hash_windows",
      exprs => graft.functions.RollingHashWindows(exprs(0), exprs(1)))
    def windows(df: DataFrame) = df
      .select(col(idCol), TextAnalysis.normText(col(textCol)).as("__norm"))
      .select(col(idCol),
        posexplode(expr(s"rolling_hash_windows(__norm, $windowChars)")))
      .select(col(idCol), col("pos"), col("col").as("__h"))
    val evalHashes = windows(eval).select("__h").distinct()
    val marked = windows(train).join(evalHashes, Seq("__h"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > windowChars, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"), (max("pos") + windowChars).as("span_end"))
      .select(col(idCol),
        (col("__island") - 1).cast("int").as("span_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start")).cast("long").as("span_chars"))
  }

  /** SPAN REMOVAL — the surgery step completing [[substringDupSpans]]:
    * cut every [span_start, span_end) codepoint interval out of the
    * NORMALIZED text and stitch the remainder. One doc-keyed window pass
    * over the span table (piece i spans [prev_end, start_i)), a join back
    * to the corpus for the text and the tail piece, and an ordered
    * reassembly — all bounded by per-doc span counts. Docs with no spans
    * pass through unchanged; `n_removed_chars` records the cut volume.
    * (Spans are produced maximal/disjoint by the island merge, which the
    * stitching relies on.) */
  def removeSpans(df: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("span_start"))
    val norm = TextAnalysis.normText(col(textCol))
    val docs = df.select(col(idCol), norm.as("__t"))
    // piece BEFORE each span: [prev span's end (or 0), this span's start)
    val pieces = spans
      .withColumn("__from", coalesce(lag(col("span_end"), 1).over(w), lit(0L)))
      .select(col(idCol), col("__from"), col("span_start"), col("span_end"))
    val agg = pieces.join(docs, Seq(idCol))
      .groupBy(col(idCol))
      .agg(
        // pieces reassemble in span_start order — the same ordering that
        // defined __from, so no coupling to the producer's span_id scheme
        concat_ws("", transform(
          array_sort(collect_list(struct(col("span_start"),
            col("__t").substr((col("__from") + 1).cast("int"),
              (col("span_start") - col("__from")).cast("int")).as("piece")))),
          x => x.getField("piece"))).as("__head"),
        max(col("span_end")).as("__last"),
        sum(col("span_end") - col("span_start")).cast("long").as("n_removed_chars"))
    docs.join(agg, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__last").isNull, col("__t"))
          .otherwise(concat(col("__head"),
            col("__t").substr((col("__last") + 1).cast("int"), lit(Int.MaxValue))))
          .as("clean_text"),
        coalesce(col("n_removed_chars"), lit(0L)).as("n_removed_chars"))
  }

  /** 60-bit SimHash over distinct words (weight 1): bit b of the signature is
    * 1 iff Σ_words (bit_b(hash(word)) ? +1 : -1) > 0.
    *
    * ONE JVM pass per document over the (already-tokenized) word array — all
    * `bits` bit-sums accumulate in a primitive array, ZERO shuffles (the r3
    * form exploded words×bits into a groupBy(id, b): ~60× the shuffle bytes
    * for the same signature). Tokenization stays the Catalyst
    * [[TextAnalysis.words]] expression, so values are oracle-identical; the
    * word hash is the first 15 md5 hex chars (= top 60 bits of the digest),
    * same value as the old `conv(substring(md5(w),1,15),16,10)` SQL form.
    * Docs whose text tokenizes to no words (NULL text) emit no row, matching
    * the old explode semantics. */
  def simhash(df: DataFrame, bits: Int = 60,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(bits <= 60, "simhash uses a 60-bit md5-derived word hash")
    val projected = df.select(col(idCol), TextAnalysis.words(col(textCol)).as("__ws"))
    val outSchema = StructType(Seq(
      projected.schema.head, StructField("simhash", LongType, nullable = false)))
    projected.flatMap { row =>
      val ws: Seq[String] = if (row.isNullAt(1)) Nil else row.getSeq[String](1)
      if (ws.isEmpty) Iterator.empty
      else {
        val seen = new java.util.HashSet[String]()
        val sums = new Array[Int](bits)
        ws.foreach { w =>
          if (seen.add(w)) {
            val d = md5Local.get().digest(w.getBytes("UTF-8"))
            // first 15 hex chars: bytes 0-6 whole + the high nibble of byte 7
            var hv = 0L
            var i = 0
            while (i < 7) { hv = (hv << 8) | (d(i) & 0xffL); i += 1 }
            hv = (hv << 4) | ((d(7) >> 4) & 0xfL)
            var b = 0
            while (b < bits) {
              if (((hv >> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
              b += 1
            }
          }
        }
        var sig = 0L
        var b = 0
        while (b < bits) { if (sums(b) > 0) sig |= (1L << b); b += 1 }
        Iterator(Row(row.get(0), sig))
      }
    }(Encoders.row(outSchema)).toDF(idCol, "simhash")
  }

  /** BANDED HAMMING NEAR-DUP JOIN over fixed-width bit signatures
    * ([[simhash]], [[Multimodal.perceptualHash]]): every pair within
    * `maxHamming` bit flips, WITHOUT the all-pairs comparison. Pigeonhole:
    * d < bands flipped bits leave at least one of the `bands` disjoint
    * bit-groups untouched, so every qualifying pair shares ≥1 exact band
    * value — candidates come from one band-keyed equi-join (signatures
    * exploded to `bands` rows, one shuffle on the 64-bit band key), then
    * verify exactly with `bit_count(a ^ b) ≤ maxHamming`. Recall is 100%
    * by construction; precision is exact (the verify is).
    *
    * Band width is sigBits/bands — the selectivity knob: more bands
    * tolerate larger d but make each band value coarser (2^width buckets
    * over n signatures), so keep width ≥ ~12 bits at corpus scale and cap
    * pathology with `maxBucket`.
    *
    * The join runs over DISTINCT signatures, expanded back to id pairs at
    * the end: a duplicate-heavy corpus (identical-signature cliques) would
    * otherwise pay clique² candidate rows in every one of its `bands`
    * buckets — distinct-sig banding pays the clique only once, at output
    * expansion, where it is exactly the result's own size (measured 3.7×
    * on the sf0.1 document corpus). `maxBucket` (0 = off, the exact/oracle
    * config) bounds BOTH knobs the skew can turn: signatures carried by
    * more than `maxBucket` ids are dropped entirely (their cliques are
    * [[exact]]'s job), and band buckets holding more than `maxBucket`
    * distinct signatures are dropped from candidate generation, the
    * [[minhashLsh]] trade. */
  def hammingPairs(sig: DataFrame, maxHamming: Int = 3, bands: Int = 0,
                   sigBits: Int = 60, idCol: String = "doc_id",
                   sigCol: String = "simhash", maxBucket: Int = 0): DataFrame = {
    val nb = if (bands > 0) bands else maxHamming + 1
    require(nb > maxHamming, s"bands ($nb) must exceed maxHamming ($maxHamming): pigeonhole")
    require(nb <= sigBits && sigBits <= 63, s"need bands <= sigBits <= 63, got $nb/$sigBits")
    // distinct() restores the old exploded-join's tolerance of duplicate
    // (id, sig) input rows (e.g. an accidental union of signature batches)
    // — without it the expansion joins would multiply the duplicates.
    // NOT checkpointed (r20 optimization round, measured): the distinct's
    // exchange is what every downstream reference reuses at runtime
    // (ReusedExchange fires — same columns everywhere), so an eager
    // barrier here only adds a job and loses the action's column pruning
    // (focused bench: 1.06 → 1.70 s on dedup_simhash_hamming with one).
    val ids0 = sig.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .where(col("__sig").isNotNull).distinct()
    val ids = dropMegaCliques(ids0, maxBucket)
    val exploded = ids.select(col("__sig")).distinct()
      .select(col("__sig"), explode(array(bandCols(nb, sigBits): _*)).as("band"))
      .select(col("__sig"), xxhash64(col("band.bi"), col("band.bv")).as("bk"))
    bandedPairs(ids, exploded, maxHamming, maxBucket)
  }

  /** The `bands` disjoint bit-group columns of a 64-bit signature in
    * `__sig`, bits distributed EVENLY (the first sigBits % nb bands get
    * the extra bit): the ceil-width layout left trailing bands zero-width
    * for legal (bands, sigBits) combos — a width-0 band is one global
    * bucket, which silently regenerates the all-pairs join the banding
    * exists to avoid. Deterministic in (nb, sigBits), which is what lets
    * [[saveSignatureIndex]] precompute band keys at BUILD time. */
  private[graft] def bandCols(nb: Int, sigBits: Int): Seq[Column] = {
    val widths = Array.tabulate(nb)(i => sigBits / nb + (if (i < sigBits % nb) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nb).map { i =>
      struct(lit(i).as("bi"),
        shiftrightunsigned(col("__sig"), offsets(i))
          .bitwiseAND(lit((1L << widths(i)) - 1)).as("bv"))
    }
  }

  /** Drop mega-clique signatures before anything else: their pairs are
    * clique²-sized whatever the join strategy (0 = off, the exact/oracle
    * config). */
  private def dropMegaCliques(ids0: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) ids0
    else {
      val small = ids0.groupBy("__sig").agg(count(lit(1)).as("__c"))
        .where(col("__c") <= maxBucket).select("__sig")
      ids0.join(small, Seq("__sig"), "left_semi")
    }

  /** The post-banding half of [[hammingPairs]], shared with the persisted
    * index path: bucket-cap → distinct-signature band join → exact
    * xor/bit_count verify → id expansion (+ the hamming-0 clique path).
    * `ids` is (__id, __sig) distinct, already mega-clique-dropped;
    * `exploded` is (__sig, bk) with one row per (distinct signature, band). */
  private def bandedPairs(ids: DataFrame, exploded: DataFrame,
                          maxHamming: Int, maxBucket: Int): DataFrame = {
    val capped =
      if (maxBucket <= 0) exploded
      else {
        val over = exploded.groupBy("bk").agg(count(lit(1)).as("__c"))
          .where(col("__c") > maxBucket).select("bk")
        exploded.join(over, Seq("bk"), "left_anti")
      }
    val sa = capped.select(col("__sig").as("sa"), col("bk"))
    val sb = capped.select(col("__sig").as("sb"), col("bk"))
    val sigPairs = sa.join(sb, Seq("bk")).where(col("sa") < col("sb"))
      .select("sa", "sb").distinct() // one row per signature pair, not per shared band
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .where(col("hamming") <= maxHamming)
    // expand signature pairs to id pairs (a signature's ids never overlap
    // another's, so least/greatest ordering introduces no duplicates) —
    // EXCEPT when one id carries two distinct signatures (the unioned
    // signature batches the `distinct()` above tolerates): if both sigs
    // fall within maxHamming the two expansion joins meet on that id and
    // least/greatest would collapse it to a degenerate a == b row, which
    // the old id-ordered join excluded
    val cross = sigPairs
      .join(ids.select(col("__id").as("__ia"), col("__sig").as("sa")), Seq("sa"))
      .join(ids.select(col("__id").as("__ib"), col("__sig").as("sb")), Seq("sb"))
      .where(col("__ia") =!= col("__ib"))
      .select(least(col("__ia"), col("__ib")).as("a"),
        greatest(col("__ia"), col("__ib")).as("b"), col("hamming"))
    // … and identical-signature cliques pair at hamming 0 directly
    val same = ids.select(col("__id").as("__ia"), col("__sig"))
      .join(ids.select(col("__id").as("__ib"), col("__sig")), Seq("__sig"))
      .where(col("__ia") < col("__ib"))
      .select(col("__ia").as("a"), col("__ib").as("b"), lit(0).as("hamming"))
    cross.unionByName(same)
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
  }

  /** The banding-geometry fingerprint stamped into a signature index —
    * (bands, sigBits) fully determine the bit layout and band keys, so a
    * plain readable config string is the whole contract (the
    * [[graft.ops.Similarity.quantizerMd5]] discipline; md5 is only needed
    * when the artifact is a float matrix). */
  private def bandConfig(nb: Int, sigBits: Int): String =
    s"bands=$nb;sigBits=$sigBits"

  private def storedBandConfig(index: DataFrame): Option[String] =
    if (!index.columns.contains("__band_config")) scala.None
    else index.select("__band_config").limit(1).collect()
      .headOption.map(_.getString(0))

  private[graft] def requireBandConfigMatch(index: DataFrame, nb: Int, sigBits: Int,
                                     what: String): Unit = {
    // a STAMPLESS table is refused outright, mirroring
    // appendToSignatureIndex: accepting it under any (bands, sigBits)
    // would silently lose the pigeonhole recall guarantee if its band
    // keys came from a different layout (ADVICE r16)
    val stored = storedBandConfig(index).getOrElse(throw new IllegalArgumentException(
      s"$what carries no banding-geometry stamp (__band_config): its band " +
        "keys cannot be verified against the requested geometry — rebuild " +
        "it with saveSignatureIndex"))
    val got = bandConfig(nb, sigBits)
    require(stored == got,
      s"$what was built under a DIFFERENT banding geometry (artifact " +
        s"$stored, requested $got): precomputed band keys would no " +
        "longer cover the requested hamming radius — rebuild the index " +
        "or query with the artifact's geometry")
  }

  /** Persist the BANDED SIGNATURE INDEX — (bk, id, sig) with one row per
    * (signature row, band), bucketed BY the band key — the media/simhash
    * face of [[graft.ops.Similarity.saveIndex]]'s index discipline. The
    * signature pass ([[Multimodal.perceptualHashDct]]'s decode + DCT, or
    * [[simhash]]'s token hashing) and the band arithmetic are paid at
    * BUILD time, once; every later [[hammingPairsIndexed]] call reads
    * precomputed keys, and the bucketBy(bk) layout serves the band-keyed
    * self-join from pre-hashed buckets. Atomic generation-swap write;
    * NULL signatures excluded. Row count is bands × corpus (bands is
    * small — maxHamming+1 by default), the trade every inverted index
    * makes. The banding geometry is stamped into the artifact; search and
    * append fail fast on a mismatch — band keys from a different layout
    * silently lose the pigeonhole recall guarantee, which no structural
    * check can see. */
  def saveSignatureIndex(spark: SparkSession, sig: DataFrame, table: String,
                         maxHamming: Int = 3, bands: Int = 0, sigBits: Int = 60,
                         idCol: String = "doc_id", sigCol: String = "simhash",
                         buckets: Int = 8): Unit = {
    val nb = if (bands > 0) bands else maxHamming + 1
    require(nb > maxHamming, s"bands ($nb) must exceed maxHamming ($maxHamming): pigeonhole")
    require(nb <= sigBits && sigBits <= 63, s"need bands <= sigBits <= 63, got $nb/$sigBits")
    val rows = sig.select(col(idCol).cast("long").as("id"), col(sigCol).as("__sig"))
      .where(col("__sig").isNotNull).distinct()
      .select(col("id"), col("__sig"),
        explode(array(bandCols(nb, sigBits): _*)).as("band"))
      .select(xxhash64(col("band.bi"), col("band.bv")).as("bk"),
        col("id"), col("__sig").as("sig"))
      .withColumn("__band_config", lit(bandConfig(nb, sigBits)))
    new graft.materialize.SessionCatalogWarehouse(spark).createOrReplace(
      table, rows, partitionBy = Nil, clusterBy = Nil,
      bucketBy = Seq("bk"), buckets = buckets)
  }

  /** INCREMENTAL signature-index maintenance — band ONLY the new batch
    * under the artifact's FROZEN geometry and append bucket-compatibly:
    * the nightly-crawl shape, where re-hashing the whole corpus per
    * ingest batch costs a corpus of decodes for a corpus-fraction of new
    * rows. Geometry is read from the stamp (and verified), bucket count
    * from the existing table's catalog metadata (`buckets` only the
    * metadata-less fallback). Band keys depend only on (bands, sigBits),
    * so an appended index is row-identical to a full rebuild —
    * `mm_phash_neardup_indexed` oracle-pins exactly that. */
  /** Parse a signature index's frozen (bands, sigBits) geometry from its
    * stamp — the artifact is the single source of truth, so append AND the
    * declarative serving surface both read the layout instead of asking
    * the caller to repeat it. Fails fast on a stampless or unparseable
    * table. */
  private[graft] def signatureGeometry(index: DataFrame, what: String): (Int, Int) = {
    val stored = storedBandConfig(index).getOrElse(throw new IllegalArgumentException(
      s"$what carries no banding-geometry stamp; rebuild it with saveSignatureIndex"))
    val stampPattern = "bands=(\\d+);sigBits=(\\d+)".r
    stored match {
      case stampPattern(b, sb) => (b.toInt, sb.toInt)
      case s => throw new IllegalArgumentException(
        s"$what: unparseable banding stamp '$s'")
    }
  }

  def appendToSignatureIndex(spark: SparkSession, newSigs: DataFrame, table: String,
                             idCol: String = "doc_id", sigCol: String = "simhash",
                             buckets: Int = 8): Unit = {
    val existing = spark.table(table)
    val (nb, sigBits) = signatureGeometry(existing, table)
    val stored = bandConfig(nb, sigBits)
    val nBuckets = graft.materialize.SessionCatalogWarehouse
      .backingTable(spark, table).flatMap(t =>
        org.apache.spark.sql.graft.SqlBridge.bucketCount(spark, t))
      .getOrElse(buckets)
    val rows = newSigs.select(col(idCol).cast("long").as("id"), col(sigCol).as("__sig"))
      .where(col("__sig").isNotNull).distinct()
      .select(col("id"), col("__sig"),
        explode(array(bandCols(nb, sigBits): _*)).as("band"))
      .select(xxhash64(col("band.bi"), col("band.bv")).as("bk"),
        col("id"), col("__sig").as("sig"))
      .withColumn("__band_config", lit(stored))
    new graft.materialize.SessionCatalogWarehouse(spark).append(
      table, rows, partitionBy = Nil, clusterBy = Nil,
      bucketBy = Seq("bk"), buckets = nBuckets)
  }

  /** Load a [[saveSignatureIndex]] artifact. Fail-fast on a frame without
    * the band-key/signature columns. */
  def loadSignatureIndex(spark: SparkSession, table: String): DataFrame = {
    val df = spark.table(table)
    require(df.columns.contains("bk") && df.columns.contains("sig") &&
      df.columns.contains("id"),
      s"$table is not a banded signature index (need bk + id + sig): " +
        df.columns.mkString(", "))
    df
  }

  /** [[hammingPairs]] OVER A PERSISTED SIGNATURE INDEX — zero per-call
    * signature or banding work: ids and precomputed band keys both read
    * from the [[saveSignatureIndex]] artifact, then the SAME
    * distinct-signature band join → exact xor/bit_count verify →
    * expansion machinery runs ([[bandedPairs]] is shared code, not a
    * reimplementation). The requested (maxHamming, bands, sigBits) must
    * match the artifact's frozen geometry — fail-fast on the stamp.
    * Output, ordering and cap semantics are [[hammingPairs]]'s;
    * banding-over-loaded-index ≡ fresh signatures is oracle-pinned
    * (`mm_phash_neardup_indexed`). */
  def hammingPairsIndexed(index: DataFrame, maxHamming: Int = 3, bands: Int = 0,
                          sigBits: Int = 60, maxBucket: Int = 0): DataFrame = {
    val nb = if (bands > 0) bands else maxHamming + 1
    require(nb > maxHamming, s"bands ($nb) must exceed maxHamming ($maxHamming): pigeonhole")
    require(nb <= sigBits && sigBits <= 63, s"need bands <= sigBits <= 63, got $nb/$sigBits")
    requireBandConfigMatch(index, nb, sigBits, "the signature index")
    val ids0 = index.select(col("id").as("__id"), col("sig").as("__sig")).distinct()
    val ids = dropMegaCliques(ids0, maxBucket)
    // precomputed band keys; mega-clique drops must mirror the fresh path,
    // so keep only keys whose signature survived the cap
    val sigKeys = index.select(col("sig").as("__sig"), col("bk")).distinct()
    val exploded =
      if (maxBucket <= 0) sigKeys
      else sigKeys.join(ids.select(col("__sig")).distinct(), Seq("__sig"), "left_semi")
    bandedPairs(ids, exploded, maxHamming, maxBucket)
  }

  /** BLOOM-GUARDED corpus-membership dedup (the Dolma recipe): build a
    * Bloom filter over the corpus's content fingerprints, broadcast it,
    * and split incoming documents on a might-contain probe. Bloom
    * NEGATIVES are definitely novel and skip the join entirely; POSITIVES
    * are either dropped outright (`exact = false`, Dolma's mode — loses at
    * most `fpp` of novel docs) or rescued through an exact anti-join
    * against the fingerprint table (`exact = true` — identical output to
    * the plain anti-join, but the join's probe side shrinks to the
    * duplicate rate + fpp sliver of the incoming volume).
    *
    * Scale shape: the filter builds via a distributed treeAggregate (one
    * corpus pass), costs ~1.2 GB per 10⁹ keys at 1% fpp on the driver and
    * each executor — the standard budget Dolma runs at — and the incoming
    * side is touched by one scan + one cheap probe per row. When incoming
    * ≫ duplicates (the steady-state crawl shape) the expensive
    * fingerprint join disappears for ~99% of rows. */
  def bloomDedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
                              fpp: Double = 0.01, exact: Boolean = true,
                              textCol: String = "text"): DataFrame =
    bloomDedup(incoming, buildCorpusBloom(corpus, fpp, textCol), exact)

  /** REUSABLE corpus-membership artifact: the Bloom filter over the
    * corpus's distinct content fingerprints plus the exact fingerprint
    * table for positive rescue. Build ONCE per corpus generation and apply
    * to every incoming batch with [[bloomDedup]] — rebuilding per call
    * (r7 verdict #4) charged every batch the full corpus scan AND filter
    * construction; the steady-state crawl loop only pays it when the
    * corpus itself changes. At warehouse scale, persist `fingerprints` (a
    * bucketed table on `__fp`) alongside the serialized filter. */
  final case class CorpusBloom(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      fingerprints: DataFrame, fpp: Double, textCol: String)

  /** One distributed corpus pass: distinct content fingerprints feed both
    * the Bloom filter (driver-merged treeAggregate inside
    * `stat.bloomFilter`) and the rescue table. ~1.2 GB per 10⁹ keys at 1%
    * fpp — the budget Dolma runs at. */
  def buildCorpusBloom(corpus: DataFrame, fpp: Double = 0.01,
                       textCol: String = "text"): CorpusBloom = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val fp = md5(TextAnalysis.normText(col(textCol)))
    val corpusFp = corpus.select(fp.as("__fp"))
      .where(col("__fp").isNotNull).distinct()
    val expected = math.max(corpusFp.count(), 1L)
    val bloom = corpusFp.stat.bloomFilter("__fp", expected, fpp)
    CorpusBloom(bloom, corpusFp, fpp, textCol)
  }

  /** BLOOM-GUARDED membership dedup against a prebuilt [[CorpusBloom]]:
    * Bloom NEGATIVES are definitely novel and skip the join entirely;
    * POSITIVES are either dropped outright (`exact = false`, Dolma's mode
    * — loses at most `fpp` of novel docs) or rescued through an exact
    * anti-join against the fingerprint table (`exact = true` — identical
    * output to the plain anti-join, but the join's probe side shrinks to
    * the duplicate rate + fpp sliver of the incoming volume). */
  def bloomDedup(incoming: DataFrame, artifact: CorpusBloom,
                 exact: Boolean = true): DataFrame = {
    val fp = md5(TextAnalysis.normText(col(artifact.textCol)))
    val bc = incoming.sparkSession.sparkContext.broadcast(artifact.bloom)
    val might = udf((s: String) => s != null && bc.value.mightContainString(s))
    val withFp = incoming.withColumn("__fp", fp)
    val novel = withFp.where(!might(col("__fp")))
    val out =
      if (!exact) novel
      else novel.unionByName(
        withFp.where(might(col("__fp")))
          .join(artifact.fingerprints, Seq("__fp"), "left_anti"))
    out.drop("__fp")
  }

  /** CROSS-STRATUM OVERLAP MATRIX — the dataset-card "how much does source
    * A repeat source B" number and the contamination screen between
    * training strata and a held-out stratum: for every pair of corpus
    * strata, the exact Jaccard similarity of their distinct word-n-gram
    * shingle sets. Shingling stays PER DOCUMENT (grams never span rows);
    * the stratum key just rides along. Pairs with an EMPTY intersection are
    * omitted by default (absence ⇒ jaccard 0); `emitZeros = true` also
    * emits disjoint pairs with jaccard 0 via a self-join of the G-row
    * SIZES table — a deliberate tiny nested-loop join over group names
    * only (G² rows for G strata), never over grams or documents, so it is
    * kept out of the cartesian-free registry plans and behind a flag.
    *
    * Scale shape: one distinct-shuffle on (stratum, gram), one gram-keyed
    * self-join whose per-key fan-out is bounded by the stratum count G (a
    * boilerplate gram present everywhere contributes G² rows TOTAL, not
    * d²), and a G²-row aggregate. No doc-pair blowup anywhere — this is
    * the corpus-level cousin of [[jaccardPairs]] with the quadratic term
    * capped by construction. */
  def corpusOverlap(df: DataFrame, groupCol: String = "source", n: Int = 3,
                    textCol: String = "text",
                    emitZeros: Boolean = false): DataFrame = {
    // hashed gram keys ([[jaccardPairs]]): the output carries only sizes
    // and intersection counts, so the distinct/join/agg chain keys on longs
    val sg = shingleArray(df, n, groupCol, textCol)
      .select(col(groupCol), explode(col("grams")).as("gram"))
      .withColumn("gram", xxhash64(col("gram")))
      .distinct()
    val sizes = sg.groupBy(groupCol).agg(count(lit(1)).cast("long").as("__n"))
    val a = sg.select(col(groupCol).as("group_a"), col("gram"))
    val b = sg.select(col(groupCol).as("group_b"), col("gram"))
    val inter0 = a.join(b, Seq("gram")).where(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b").agg(count(lit(1)).cast("long").as("n_common"))
    val inter =
      if (!emitZeros) inter0
      else sizes.select(col(groupCol).as("group_a"))
        .join(sizes.select(col(groupCol).as("group_b")),
          col("group_a") < col("group_b"), "inner")
        .join(inter0, Seq("group_a", "group_b"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
    inter
      .join(sizes.select(col(groupCol).as("group_a"), col("__n").as("n_a")), Seq("group_a"))
      .join(sizes.select(col(groupCol).as("group_b"), col("__n").as("n_b")), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }
}
