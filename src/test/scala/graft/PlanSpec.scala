package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape invariants for the scale-critical operators: the properties
  * that make a query survive a 100× scale-up (pushdown reaching the scan,
  * broadcast of small sides, bounded Exchanges, distributed top-N) are
  * asserted on the compiled plan so a refactor can't silently regress them.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("stratified sampling is a pure pruned scan — no shuffle, no extra columns") {
    val p = planOf("sample_stratified")
    assert(!p.contains("Exchange"), "sampling must not shuffle")
    // the scan prunes to exactly the projected columns — through the parquet
    // reader, or through the cached-relation scan when another suite already
    // cached the table in this shared session
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string>") ||
      """InMemoryTableScan \[doc_id#\d+L?, lang#\d+, source#\d+\]""".r.findFirstIn(p).nonEmpty,
      s"scan must prune to exactly the projected columns:\n$p")
  }

  test("vocabulary top-N plans as distributed TakeOrderedAndProject") {
    val p = planOf("text_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-N must not single-partition the vocabulary")
  }

  test("sessionize shares one user-key shuffle across windows and rollup") {
    val p = planOf("rel_sessionize")
    // count SHUFFLE exchanges specifically — a BroadcastExchange or
    // ReusedExchange elsewhere would not violate the invariant
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"windows + aggregation should reuse one user-key shuffle:\n$p")
  }

  test("repetition runs both aggregations on one id-keyed shuffle") {
    val p = planOf("text_repetition")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"id-partitioning should serve the per-bigram and per-id aggregations:\n$p")
  }

  test("c4 filter and gopher repetition run at scan speed — zero exchanges") {
    // both are per-document projections; any Exchange would mean a refactor
    // introduced a shuffle into what must stay an embarrassingly-parallel
    // single pass over the scan
    Seq("text_c4_filter", "text_gopher_repetition").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
    }
  }

  test("line dedup anti-joins the heavy-line set, never the full corpus") {
    val p = planOf("text_line_dedup")
    assert(p.contains("LeftAnti"),
      "corpus-frequent lines must be removed via anti-join against the heavy set")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup must stay equi-join shaped:\n$p")
  }

  test("contamination broadcasts the eval gram set") {
    assert(planOf("dedup_contamination").contains("BroadcastHashJoin"),
      "train side must stream against a broadcast eval side")
  }

  test("heavy hitters verify only broadcast candidates — no distinct-item shuffle") {
    val p = planOf("sketch_heavy_hitters")
    // the exact-count pass must semi-join the word stream against the
    // BROADCAST Misra–Gries candidate set before aggregating; a plain
    // groupBy over the raw stream would shuffle every distinct item
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"word stream must prefilter against broadcast candidates:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the candidate set must broadcast, never sort-merge:\n$p")
  }

  test("capped jaccard subtracts heavy grams before any gram self-join") {
    // inspect the LAZY form: the registered query pins the shared stages
    // eagerly, which truncates exactly the lineage this pin needs to see
    // (the executed work is identical)
    graft.core.Tables.register(spark, sfDir)
    val p = graft.ops.Barrier.lazily(graft.ops.Dedup.jaccardPairs(
      spark.table("documents"), n = 3, threshold = 0.5, maxDocFreq = 20))
      .queryExecution.executedPlan.toString
    // the boilerplate blowup guard: every gram-keyed self-join input must
    // first pass the LeftAnti subtraction of over-cap grams, so the join's
    // per-key fan-out is bounded by maxDocFreq at any skew
    assert(p.contains("LeftAnti"),
      "heavy grams must be anti-joined off the stream before pairing")
    assert(p.contains("LeftSemi"),
      "per-doc heavy counts (the verify-pruning bound) must come from a semi-join")
    // the bounded-verify split: exact pairs finish from the kept-gram count,
    // boundary pairs (possible heavy overlap) go through array_intersect
    assert(p.contains("array_intersect"),
      "boundary candidates must be exact-verified over the full gram sets")
    assert(!p.contains("CartesianProduct"))
    // grams must shrink to 64-bit keys BEFORE the shuffles — every gram
    // exchange moves an 8-byte long, never the gram text (r9: 2× measured)
    assert(p.contains("xxhash64"),
      s"gram shuffle keys must be 64-bit hashes, not strings:\n${p.take(800)}")
  }

  test("containment pairs share the capped jaccard plan discipline") {
    graft.core.Tables.register(spark, sfDir)
    val p = graft.ops.Barrier.lazily(graft.ops.Dedup.containmentPairs(
      spark.table("documents"), n = 3, threshold = 0.8, maxDocFreq = 20))
      .queryExecution.executedPlan.toString
    // same scale guards as the capped jaccard pin: over-cap grams
    // subtracted before the self-join, per-doc heavy counts via semi-join,
    // boundary sliver exact-verified over full gram sets, 64-bit gram keys
    assert(p.contains("LeftAnti"),
      "heavy grams must be anti-joined off the stream before pairing")
    assert(p.contains("LeftSemi"),
      "per-doc heavy counts (the verify-pruning bound) must come from a semi-join")
    assert(p.contains("array_intersect"),
      "boundary candidates must be exact-verified over the full gram sets")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("xxhash64"),
      s"gram shuffle keys must be 64-bit hashes, not strings:\n${p.take(800)}")
  }

  test("prefix jaccard pairs candidates from sliced prefix streams only") {
    graft.core.Tables.register(spark, sfDir)
    val selfQe = graft.ops.Barrier.lazily(graft.ops.Dedup.jaccardPairsPrefix(
      spark.table("documents"), n = 3, threshold = 0.5, maxDocFreq = 20))
      .queryExecution
    // expression-level asserts read the OPTIMIZED LOGICAL plan: physical
    // ObjectHashAggregate.toString lists only its agg functions, so
    // result-projection expressions (sort_array here) are invisible in the
    // executed plan's text even though they execute
    val self = selfQe.optimizedPlan.toString
    val selfPhys = selfQe.executedPlan.toString
    // the candidate join must consume per-doc SLICES of the df-sorted kept
    // grams — pairing the full kept streams would re-create exactly the
    // volume the operator exists to avoid (sf10: 157M → 87M shuffle rows)
    assert(self.contains("slice("),
      s"candidates must come from prefix slices:\n${self.take(800)}")
    assert(self.contains("sort_array"),
      "prefixes must come from the (df asc, gram) global order")
    assert(self.contains("array_intersect"),
      "every candidate must exact-verify over the full gram sets")
    assert(self.contains("xxhash64"),
      "gram shuffle keys must be 64-bit hashes, not strings")
    // df-1 grams must not reach the candidate join: nothing shares them,
    // and on natural text they are most of the exploded stream
    assert(self.contains(".__df >= 2"),
      s"the df>=2 emission filter is missing:\n${self.take(800)}")
    assert(!selfPhys.contains("CartesianProduct"))
    val docs = spark.table("documents")
    import org.apache.spark.sql.functions.col
    val incQe = graft.ops.Barrier.lazily(graft.ops.Dedup.jaccardAgainstPrefix(
      docs.where(col("doc_id") % 10 === 3), docs.where(col("doc_id") % 10 =!= 3),
      n = 3, threshold = 0.5, maxDocFreq = 20))
      .queryExecution
    val inc = incQe.optimizedPlan.toString
    assert(inc.contains("slice(") && inc.contains("sort_array") &&
      inc.contains("array_intersect"),
      s"incremental prefix form lost a structural guard:\n${inc.take(800)}")
    assert(!incQe.executedPlan.toString.contains("CartesianProduct"))
    assert(inc.contains("LeftAnti"),
      "corpus-heavy grams must anti-join off the batch stream")
    // batch grams the corpus never saw (sentinel df = Long.MaxValue) must
    // filter out of the exploded prefix — they have no join partner, and
    // emitting them would pay dead shuffle rows per unseen gram
    assert(inc.contains(Long.MaxValue.toString),
      s"unseen-gram sentinel drop missing from the plan:\n${inc.take(800)}")
  }

  test("banded hamming join bands DISTINCT signatures, not exploded ids") {
    graft.core.Tables.register(spark, sfDir)
    val df = graft.ops.Dedup.hammingPairs(
      graft.ops.Dedup.simhash(spark.table("documents")), maxHamming = 7, bands = 8)
    val p = df.queryExecution.optimizedPlan.toString
    // the clique guard: every band explode's DIRECT child must be the
    // signature-distinct Aggregate — banding per id would pay clique²
    // candidate rows in every band bucket (r10: 3.7× measured at sf0.1)
    val gens = "Generate explode".r.findAllMatchIn(p).size
    val dedupedGens =
      "Generate explode[^\\n]*\\n[^\\n]*\\+- Aggregate \\[__sig".r.findAllMatchIn(p).size
    assert(gens >= 2 && dedupedGens == gens,
      s"every band explode ($gens) must consume the signature distinct " +
        s"($dedupedGens did):\n${p.take(1500)}")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("mixture rebalance broadcasts the rate table — corpus pays one filter pass") {
    val p = planOf("sample_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"the <= #strata rate table must broadcast onto the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the rate join:\n$p")
  }

  test("token-budget selection never plans a global (unpartitioned) window") {
    val p = planOf("sample_token_budget")
    val specs = "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected a window in the plan:\n$p")
    assert(specs.forall(_.contains("__pid")),
      s"every window must partition by the range-partition id, got: $specs")
    // the partitioning must be RANGE on the sort key (splits concentrated
    // scores by id), not a derived score-value bucket
    assert(p.contains("rangepartitioning"),
      s"expected a range repartition on the sort key:\n$p")
  }

  test("ccnet buckets rank distributed — range partition, no ntile, LM cached once") {
    val p = planOf("text_ccnet_buckets")
    // the corpus must RANGE-partition on (lang, score, id) — a dominant
    // language still splits across partitions — and rank locally; a plain
    // per-language ntile window would sort the whole stratum in one task
    assert(p.contains("rangepartitioning"),
      s"expected a range repartition on the (lang, score, id) sort key:\n$p")
    assert(!p.contains("ntile"), s"per-language ntile must not appear:\n$p")
    assert("windowspecdefinition\\(__pid".r.findFirstIn(p).nonEmpty,
      s"the corpus rank window must partition by the range-partition id:\n$p")
    // the doc-keyed slice is cached: without it the unigram-LM lineage
    // would compute twice (column pruning defeats exchange reuse)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"the partitioned slice must be cached so the LM trains once:\n$p")
  }

  test("substring dedup: codegen window hashes, semi-join mark, one doc shuffle") {
    val p = planOf("dedup_substring_spans")
    // the O(n) rolling-hash expression runs inside the scan's Generate —
    // the corpus is never re-read per window, and there is no UDF
    assert(p.contains("posexplode(rolling_hash_windows"), s"expected native windows:\n$p")
    assert(p.contains("LeftSemi"), "duplicate marking must be a semi-join")
    assert(!p.contains("CartesianProduct"))
    // the island merge + span rollup share ONE doc-keyed Exchange
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length == 1,
      s"windows and rollup must reuse one doc-keyed shuffle:\n$p")
  }

  test("range join: equi-join on the manufactured bucket, never nested-loop") {
    val p = planOf("rel_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not plan a nested-loop/cartesian:\n$p")
    assert(p.contains("Join") || p.contains("join"), "expected a join in the plan")
  }

  test("no cartesian products anywhere in the registry's relational plans") {
    // no exemptions: even simhash's deliberate words×bits crossJoin plans as
    // a BroadcastNestedLoopJoin over the 60-row literal side, never a
    // CartesianProduct
    SparkEntry.queries.keys.foreach { name =>
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — unbounded at scale")
    }
  }

  test("epoch mixture is a pure projection + explode — no shuffle") {
    val p = planOf("sample_mixture_epochs")
    assert(!p.contains("Exchange"), s"epoch mixture must not shuffle:\n$p")
    assert(p.contains("Generate"), "expected the explode's Generate node")
  }

  test("embedding decontamination streams the corpus — no join, no exchange") {
    val p = planOf("dedup_contamination_embedding")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"the broadcast-probe corpus scan must stay a map:\n$p")
  }

  test("weighted sampling plans a distributed TakeOrdered, never a global sort") {
    val p = planOf("sample_weighted_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES selection must not single-partition the corpus:\n$p")
  }

  test("keyed row diff aggregates map-side over the single key join — no window") {
    val p = planOf("diff_keyed_rows")
    assert(!p.contains("Window"), s"keyed diff must not plan a window:\n$p")
    assert(p.contains("partial"), s"aggregate must map-side combine:\n$p")
  }

  test("winsorize broadcasts the group-bounds frame back onto the rows") {
    val p = planOf("rel_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds join must broadcast, never shuffle the data side:\n$p")
    assert(!p.contains("Window"), "winsorize must not plan a window")
  }

  test("overlay CDC state reads prune base partitions through the composed view") {
    // the localized-fold cost claim rests on a bucket filter over the
    // composed (union + NOT IN exclusions) view reaching the base scan as a
    // PARTITION filter — if pushdown through the view broke, every
    // "O(touched buckets)" read would silently scan the whole base
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.materialize.SessionCatalogWarehouse
    import graft.streaming.Streams
    val wh = new SessionCatalogWarehouse(spark)
    SessionCatalogWarehouse.dropAny(spark, "plan_ov_state")
    val win = Window.partitionBy(col("id")).orderBy(col("seq").desc, col("op").desc)
    def latestOf(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__rn", row_number().over(win)).where(col("__rn") === 1).drop("__rn")
    val w = new Streams.OverlayStateWriter(Seq("id"), Some(8))
    w.upsert(wh, "plan_ov_state", latestOf(
      spark.createDataFrame((1 to 40).map(i => (i, s"v$i", "c", 1L)))
        .toDF("id", "v", "op", "seq")), latestOf, Nil, Nil)
    w.upsert(wh, "plan_ov_state", latestOf(
      spark.createDataFrame(Seq((1, "uno", "u", 2L))).toDF("id", "v", "op", "seq")),
      latestOf, Nil, Nil)
    def scansFor(bucket: String) = spark.table("plan_ov_state")
      .where(col("__bucket") === bucket)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    val overlaid = spark.table("plan_ov_state").where(col("id") === 1)
      .select("__bucket").head().getString(0)
    val other = spark.table("plan_ov_state").select("__bucket").distinct()
      .collect().map(_.getString(0)).filterNot(_ == overlaid).head

    // a filter on the OVERLAID bucket folds the base branch away entirely
    // (its NOT IN exclusion contradicts the equality): only the overlay scans
    val sOverlaid = scansFor(overlaid)
    assert(sOverlaid.nonEmpty &&
      sOverlaid.forall(_.tableIdentifier.exists(_.table.contains("__cdcov_"))),
      s"overlaid-bucket read should touch only overlays: " +
        s"${sOverlaid.map(_.tableIdentifier)}")

    // a filter on an UN-overlaid bucket reaches the base scan as a PARTITION
    // filter (pruned listing), and the overlay branch folds away
    val sBase = scansFor(other)
    val baseScan = sBase.find(_.tableIdentifier.exists(_.table.contains("__cdcbase_")))
    assert(baseScan.nonEmpty, s"base scan missing: ${sBase.map(_.tableIdentifier)}")
    val pf = baseScan.get.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("__bucket"),
      s"bucket filter must reach the base scan as a partition filter, got: $pf")
    SessionCatalogWarehouse.dropAny(spark, "plan_ov_state")
  }

  test("quality CDF windows only the aggregated frame and broadcasts it back") {
    val p = planOf("text_quality_cdf")
    // the cumulative window's input must be the distinct-(lang, score)
    // aggregate, NEVER raw document rows — the structural bound that makes
    // the operator safe at any corpus size. In the executed plan that
    // shows as: every Window sits above a hash aggregate exchange, and the
    // frame joins back onto the scan via broadcast.
    assert(p.contains("Window"), "expected the bounded-frame window")
    assert(p.contains("BroadcastHashJoin"),
      s"the cdf frame must broadcast back onto the doc scan:\n${p.take(600)}")
    // the doc rows themselves are never globally sorted
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort of document rows:\n${p.take(600)}")
  }

  test("KMV sketch plans as bounded-heap aggregates — no window, no sort") {
    val p = planOf("sketch_distinct_kmv")
    assert(!p.contains("Window"), s"KMV must not window:\n${p.take(600)}")
    assert(!p.contains("Sort "), s"KMV must not sort:\n${p.take(600)}")
    assert(p.contains("bounded_top_k"),
      s"k-minima must come from the bounded-heap aggregate:\n${p.take(600)}")
  }

  test("histogram quantiles never exchange more than the bucket frame") {
    val p = planOf("sketch_quantile_histogram")
    // the only hash exchanges are (grp, bucket)-keyed aggregate frames —
    // the raw value rows reduce map-side before any shuffle; the quantile
    // probe set is a broadcast of the literal q list
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the q list must broadcast:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort anywhere:\n${p.take(600)}")
  }

  test("bucketed tables join with ZERO exchanges — the write-once shuffle layout") {
    import org.apache.spark.sql.functions._
    // same layout move as mat_bucketed_join: both sides bucketBy the join
    // key at write time; every later key-join must read the bucket files as
    // pre-hashed partitions — broadcast disabled so a silent bucketing
    // regression can't hide behind a BroadcastHashJoin
    graft.core.Tables.register(spark, sfDir)
    val wh = new graft.materialize.SessionCatalogWarehouse(spark)
    wh.createOrReplace("plan_bk_orders",
      spark.table("orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice")),
      partitionBy = Nil, clusterBy = Nil,
      bucketBy = Seq("o_custkey"), buckets = 8)
    wh.createOrReplace("plan_bk_customer",
      spark.table("customer").select(col("c_custkey"), col("c_mktsegment")),
      partitionBy = Nil, clusterBy = Nil,
      bucketBy = Seq("c_custkey"), buckets = 8)
    val sess = org.apache.spark.sql.graft.SqlBridge.sessionWithConf(
      spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val joined = sess.table("plan_bk_orders")
      .join(sess.table("plan_bk_customer"),
        col("o_custkey") === col("c_custkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
    // and the rows are the plain join's
    val plain = sess.table("orders")
      .join(sess.table("customer"), col("o_custkey") === col("c_custkey"))
      .count()
    assert(joined.count() == plain)
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "plan_bk_orders")
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "plan_bk_customer")
  }

  test("IVF-routed knn join: list-keyed cogroup, no cartesian, no global sort") {
    val p = planOf("ann_knn_join_ivf_exact")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"routing must stay a list-keyed cogroup:\n${p.take(600)}")
    // the only exchanges are the list cogroup and the bounded merge window's
    // per-query hash partitioning — never a range (global-sort) exchange
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort anywhere:\n${p.take(600)}")
  }

  test("persisted IVF index: no assignment pass in the routed plan; bucketed layout for SQL consumers") {
    import org.apache.spark.sql.functions._
    // the point of saveIndex: the corpus→list assignment is paid at BUILD
    // time. The routed query batch's plan must therefore contain NO
    // centroid-assignment map over the index side — the index scan feeds
    // the list-keyed cogroup directly — and never a cartesian or global
    // sort. (Scoring deliberately stays the primitive-kernel cogroup: the
    // declarative bucket-join alternative paid per-row operator overhead on
    // every scored pair — 15.9 s vs 3.2 s at the sf1 probe.)
    graft.core.Tables.register(spark, sfDir)
    val corpus = spark.table("embeddings").where(col("label") =!= 0)
    val cents = graft.ops.Similarity.ivfCentroids(corpus, nlist = 16)
    graft.ops.Similarity.saveIndex(spark, corpus, cents, "plan_ivf_index")
    val joined = graft.ops.Similarity.knnJoinIvfIndexed(
      spark.table("embeddings").where(col("label") === 0),
      graft.ops.Similarity.loadIndex(spark, "plan_ivf_index"),
      cents, k = 5, nprobe = 4)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"routing must stay a list-keyed cogroup:\n${p.take(600)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort anywhere:\n${p.take(600)}")
    // the index side is a plain scan + cogroup: exactly ONE deserializer
    // map on it (the typed read), no flatMap doing per-row centroid
    // assignment — the index table supplies list_id pre-computed
    val indexBranch = p.linesIterator.filter(_.contains("plan_ivf_index")).mkString("\n")
    assert(indexBranch.nonEmpty, s"plan must scan the index table:\n${p.take(1200)}")
    // and the on-disk artifact keeps the bucketed layout for SQL consumers
    // (the stream-static join, per-list stats): a list_id-keyed SQL
    // aggregate over the table plans with zero exchange
    val agg = spark.table("plan_ivf_index").groupBy("list_id").count()
    val ap = agg.queryExecution.executedPlan.toString
    assert(ap.contains("SelectedBucketsCount") && !ap.contains("Exchange hashpartitioning"),
      s"bucketed layout must serve SQL aggregates exchange-free:\n${ap.take(1200)}")
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "plan_ivf_index")
  }

  test("debezium decode parses each envelope exactly once behind the Generate barrier") {
    // the r14 regression class: filter pushdown inlined the aliased
    // from_json into every conjunct and projected field (18 instances,
    // ~6x the JSON work). The explode(array(...)) barrier pins it to the
    // two declared parses — wrapped and bare — however the plan around it
    // is optimized.
    val df = graft.streaming.Streams.debeziumDecode(
      spark.range(1).selectExpr("'{}' AS value"),
      "o_orderkey BIGINT, o_totalprice DOUBLE")
    val n = "from_json".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(n <= 2, s"decode must parse once per layout, found $n from_json instances")
  }

  test("phash banding joins bucket keys, never a pair blowup plan") {
    val p = planOf("mm_phash_neardup_exact")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded hamming join must stay bucket-keyed:\n${p.take(600)}")
  }

  test("streaming ANN spill tier joins packed list ROWS, never a pair stream") {
    // batch replay of the streaming plan (watermark drops, window stays).
    // The r15 spill tier's join OUTPUT was the (nprobe/nlist)·C·Q pair
    // stream (~2.8 µs of row machinery per scored pair — 430.8 s vs
    // 35.7 s at sf10); the fix folds the static index to ONE ROW PER LIST
    // before the join, so the join output is Q·nprobe query rows. Pins:
    // the static-side fold (MapGroups) feeding the join, the primitive
    // scoring kernel (MapPartitions) after it, the bounded-heap windowed
    // top-k, and no CodegenFallback HOF anywhere in the hot path.
    import org.apache.spark.sql.functions._
    graft.core.Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val cents = graft.ops.Similarity.ivfCentroids(emb.where(col("label") =!= 0), nlist = 8)
    // maxBroadcastBytes = 0 forces the SPILL tier — the plan this pin is about
    val p = graft.streaming.Streams.streamingAnnTopK(
      queries, emb.where(col("label") =!= 0), cents, k = 3, nprobe = 2,
      maxBroadcastBytes = 0L)
      .queryExecution.executedPlan.toString
    // the packed fold itself sits behind the persist (InMemoryTableScan),
    // so pin its LAYOUT at the join instead: the static side must arrive
    // as flat-packed per-list arrays, not per-vector rows
    assert(p.contains("__flat") && p.contains("__ids"),
      s"static side must fold to one packed row per list:\n${p.take(800)}")
    assert(p.contains("ann_list_top_k"),
      s"scoring must be the in-place native expression (a typed kernel " +
        s"would re-deserialize the list arrays per query row):\n${p.take(800)}")
    assert(p.contains("bounded_top_k"), s"top-k must be the bounded heap:\n${p.take(800)}")
    assert(!p.contains("lambdafunction"), s"no HOF in the hot path:\n${p.take(800)}")
  }

  test("streaming IVFADC spill tier: packed code rows + in-place ADC expression") {
    // batch replay of the ADC stream plan with the broadcast gate forced
    // to 0: the static side must arrive as flat-packed per-list CODE
    // arrays, scoring must be the in-place ann_adc_list_top_k expression
    // (quantizers ride as codegen reference objects), and the windowed
    // merge stays the bounded heap — the float spill tier's shape with
    // the payload shrunk d*4/m x.
    import org.apache.spark.sql.functions._
    graft.core.Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("label") =!= 0).where(col("embedding").isNotNull)
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val cents = graft.ops.Similarity.ivfCentroids(corpus, nlist = 4)
    val books = graft.ops.Pq.residualCodebooks(corpus, cents, m = 2, k = 8)
    graft.ops.Pq.savePqIndex(spark, corpus, cents, books, "g_planspec_adc_idx")
    val p = graft.streaming.Streams.streamingAnnAdcTopK(queries,
      graft.ops.Pq.loadPqIndex(spark, "g_planspec_adc_idx"), cents, books,
      k = 3, nprobe = 2, maxBroadcastBytes = 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("__codes"),
      s"static side must fold to flat-packed code rows:\n${p.take(800)}")
    assert(p.contains("ann_adc_list_top_k"),
      s"scoring must be the in-place ADC expression:\n${p.take(800)}")
    assert(p.contains("bounded_top_k"), s"top-k must be the bounded heap:\n${p.take(800)}")
    assert(!p.contains("lambdafunction"), s"no HOF in the hot path:\n${p.take(800)}")
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "g_planspec_adc_idx")
  }

  test("spill-tier static folds register with ServingCache and release") {
    // the folds persist for the life of their query (ADVICE r16); the
    // registry is how one-shot owners (bench/verify/serve) release them —
    // without it every (re)start leaks a corpus-sized cache entry
    import org.apache.spark.sql.functions._
    graft.streaming.ServingCache.releaseAll()
    graft.core.Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val cents = graft.ops.Similarity.ivfCentroids(emb.where(col("label") =!= 0), nlist = 4)
    graft.streaming.Streams.streamingAnnTopK(
      queries, emb.where(col("label") =!= 0), cents, k = 3, nprobe = 2,
      maxBroadcastBytes = 0L)
    assert(graft.streaming.ServingCache.names.contains("ann_packed_lists"),
      s"the packed-list fold must register: ${graft.streaming.ServingCache.names}")
    val released = graft.streaming.ServingCache.releaseAll()
    assert(released >= 1)
    assert(graft.streaming.ServingCache.size == 0)
  }

  test("ServingCache release is owner-scoped: stopping one serve keeps the other's folds") {
    // two serve assets on one session (pipeline concurrency: 2) must
    // release independently — through r17 the only release was global, so
    // stopping one serve unpersisted the other's corpus-sized fold and
    // silently degraded it to a re-fold every micro-batch (ADVICE r17 #2)
    import org.apache.spark.sql.functions._
    import graft.streaming.ServingCache
    ServingCache.releaseAll()
    graft.core.Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val corpus = emb.where(col("label") =!= 0)
    val cents = graft.ops.Similarity.ivfCentroids(corpus, nlist = 4)
    def buildSpillTier(): Unit = {
      graft.streaming.Streams.streamingAnnTopK(
        queries, corpus, cents, k = 3, nprobe = 2, maxBroadcastBytes = 0L)
      ()
    }
    ServingCache.withOwner("serve:a")(buildSpillTier())
    ServingCache.withOwner("serve:b")(buildSpillTier())
    assert(ServingCache.namesFor("serve:a").contains("ann_packed_lists"))
    assert(ServingCache.namesFor("serve:b").contains("ann_packed_lists"))
    val aFolds = ServingCache.namesFor("serve:a").size
    val releasedA = ServingCache.release("serve:a")
    assert(releasedA == aFolds, "release(token) must drop exactly that owner's folds")
    assert(ServingCache.namesFor("serve:a").isEmpty)
    assert(ServingCache.namesFor("serve:b").contains("ann_packed_lists"),
      "the concurrent serve's folds must survive the other's release")
    // releasing an already-released token is a no-op, not a second unpersist
    assert(ServingCache.release("serve:a") == 0)
    assert(ServingCache.releaseAll() >= 1)
    assert(ServingCache.size == 0)
  }

  test("streaming rerank past the gate composes the spill shortlist, not a refusal") {
    // r16 REFUSED past the broadcast gate and told the caller to
    // hand-assemble; r17 wires the packed-code spill shortlist + exact
    // rerank itself. Batch replay with the gate forced to 0 pins the
    // composed shape: flat-packed code rows on the static side, the
    // in-place ADC expression shortlisting, the exact native cosine in
    // stage 2, the bounded-heap windowed merge — and no pair stream.
    import org.apache.spark.sql.functions._
    graft.core.Tables.register(spark, sfDir)
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("label") =!= 0).where(col("embedding").isNotNull)
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val cents = graft.ops.Similarity.ivfCentroids(corpus, nlist = 4)
    val books = graft.ops.Pq.residualCodebooks(corpus, cents, m = 2, k = 8)
    graft.ops.Pq.savePqIndex(spark, corpus, cents, books, "g_planspec_rrs_idx")
    val p = graft.streaming.Streams.streamingAnnRerankTopK(queries,
      graft.ops.Pq.loadPqIndex(spark, "g_planspec_rrs_idx"), corpus, cents,
      books, k = 3, shortlist = 5, nprobe = 2, maxBroadcastBytes = 0L)
      .queryExecution.executedPlan.toString
    assert(p.contains("__codes"),
      s"shortlist static side must be flat-packed code rows:\n${p.take(800)}")
    assert(p.contains("ann_adc_list_top_k"),
      s"shortlist must be the in-place ADC expression:\n${p.take(800)}")
    assert(p.contains("cosine_sim"),
      s"stage 2 must re-score with the exact native cosine:\n${p.take(800)}")
    assert(p.contains("bounded_top_k"), s"top-k must be the bounded heap:\n${p.take(800)}")
    assert(!p.contains("lambdafunction"), s"no HOF in the hot path:\n${p.take(800)}")
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "g_planspec_rrs_idx")
  }

  test("recall monitor's graded-window read prunes the served sink to one date partition") {
    // VERDICT r18 #4: serving sinks are partitioned by the window-derived
    // date column and the monitor's latest-window read filters on it —
    // grading one window must never scan the full served history. The pin:
    // the equality on window_date reaches the scan as a PARTITION filter
    // and the pruned scan lists only the graded date's files.
    import org.apache.spark.sql.functions._
    import graft.materialize.SessionCatalogWarehouse
    SessionCatalogWarehouse.dropAny(spark, "plan_srv_sink")
    // two served dates, several windows each — the shape a long-running
    // serve leaves behind
    spark.range(0, 48)
      .select((col("id") % 5).as("q"), col("id").as("b"), lit(1).as("rank"),
        (lit("2024-01-01 00:00:00").cast("timestamp") +
          make_dt_interval(lit(0), col("id") % 2 * 24, col("id") % 6 * 5, lit(0)))
          .as("window_start"))
      .withColumn("window_date", to_date(col("window_start")))
      .write.partitionBy("window_date").saveAsTable("plan_srv_sink")
    val latest = java.sql.Timestamp.valueOf("2024-01-02 00:25:00")
    val graded = graft.exec.Serving.gradedWindow(spark.table("plan_srv_sink"), latest)
    val scans = graded.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("window_date"),
      s"the graded-window read must carry a window_date PARTITION filter, got: $pf")
    // the pruned listing reads the one graded date, not the full history
    val readFiles = scans.head.selectedPartitions.toPartitionArray.map(_.urlEncodedPath)
    assert(readFiles.nonEmpty && readFiles.forall(f =>
        f.contains("window_date=2024-01-02") || f.contains("window_date%3D2024-01-02")),
      s"scan must list only the graded date partition: ${readFiles.take(5).toSeq}")
    // and the behavior is intact: exactly the graded window's rows
    assert(graded.select("window_start").distinct().collect()
      .map(_.getTimestamp(0)).toSeq == Seq(latest))
    SessionCatalogWarehouse.dropAny(spark, "plan_srv_sink")
  }
}
