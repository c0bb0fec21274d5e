package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

class DataOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = { Tables.register(spark, sfDir); spark.table("documents").cache() }
  private lazy val emb = { Tables.register(spark, sfDir); spark.table("embeddings").cache() }

  test("minhash LSH finds exactly the brute-force near-dup pairs here") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 3, 128, 2, 0.5).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact)
  }

  test("one-permutation minhash: precision is exact, recall near-complete, short docs densify") {
    import spark.implicits._
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oph = Dedup.minhashLsh(docs, 3, 128, 2, 0.5, oph = true)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-verify makes precision exact (OPH only shapes CANDIDATES)…
    assert((oph -- exact).isEmpty, s"OPH emitted non-pairs: ${oph -- exact}")
    // …and the near-exhaustive 64×2 banding keeps recall essentially
    // complete on the planted near-dups (probabilistic, hence >=, not ==)
    assert(exact.nonEmpty)
    val recall = (oph intersect exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"OPH recall too low: $recall (missed ${exact -- oph})")

    // densification: a doc with fewer grams than bins still gets a full
    // signature and still pairs with its near-duplicate
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "completely different words entirely here now")).toDF("doc_id", "text")
    val tinyPairs = Dedup.minhashLsh(tiny, n = 3, numHashes = 128,
        rowsPerBand = 2, threshold = 0.4, oph = true)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tinyPairs == Set((1L, 2L)), s"densified short-doc pairing: $tinyPairs")
  }

  test("simhash of planted near-dup pairs is close in hamming distance") {
    val sig = Dedup.simhash(docs)
    val pairs = Dedup.jaccardPairs(docs, 3, 0.8).select("a", "b")
    val joined = pairs
      .join(sig.withColumnRenamed("doc_id", "a").withColumnRenamed("simhash", "sa"), Seq("a"))
      .join(sig.withColumnRenamed("doc_id", "b").withColumnRenamed("simhash", "sb"), Seq("b"))
      .withColumn("hamming", bit_count(expr("sa ^ sb")))
    val dists = joined.select("hamming").collect().map(_.getInt(0))
    assert(dists.nonEmpty && dists.forall(_ <= 20), s"near-dups should be simhash-close, got ${dists.toSeq}")
  }

  test("multi-table lsh ANN reaches 0.9 recall against brute force") {
    val brute = Similarity.cosineTopK(emb, 5).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall is tunable via (bits, tables): coarser buckets × more tables →
    // more candidates → higher recall, bounded memory via the bucket cap
    val lsh = Similarity.lshTopK(emb, 5, bits = 2, tables = 8).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"multi-table recall too low: $recall")

    // auto-scaled bits keep expected bucket size constant as the corpus grows
    assert(Similarity.autoBits(1000000, 512) == 11)
    val auto = Similarity.lshTopKAuto(emb, 5).select("a", "b").collect()
    assert(auto.nonEmpty)
  }

  test("sharded exact search equals the single-shard result") {
    // force many index shards (tiny per-task budget) — the 100 TB code path —
    // and require bit-identical results to the default plan
    val tiny = 16L * 1024 // ~16KB of vector data per shard => multiple shards
    val one = Similarity.cosineTopK(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val sharded = Similarity.cosineTopK(emb, 5, shardBytes = tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(sharded == one)

    val pairsOne = Similarity.cosineNearDup(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairsSharded = Similarity.cosineNearDup(emb, 0.45, shardBytes = tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairsOne.nonEmpty && pairsSharded == pairsOne)
  }

  test("IVF ANN reaches high recall with a fraction of the comparisons") {
    val brute = Similarity.cosineTopK(emb, 5).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing half the lists: ~nprobe/nlist of brute-force compute
    val ivf = Similarity.ivfTopK(emb, 5, nlist = 16, nprobe = 8).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
    // more probes → monotonically better recall, full probe = exact
    val full = Similarity.ivfTopK(emb, 5, nlist = 16, nprobe = 16).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("tf-idf cosine: cap prunes candidates only, surviving cosines stay exact") {
    val full = graft.ops.TextAnalysis.tfIdfCosine(docs, topTerms = 10,
      threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full.nonEmpty, "the corpus must yield lexical near-pairs")
    val capped = graft.ops.TextAnalysis.tfIdfCosine(docs, topTerms = 10,
      threshold = 0.3, maxKeptDf = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // subtractive cap: capped pairs are a SUBSET, and every surviving
    // pair's cosine is bit-identical to the uncapped dot (the verify pass
    // runs over the full kept vectors, heavy words included)
    assert(capped.keySet.subsetOf(full.keySet),
      s"cap must only prune: ${capped.keySet -- full.keySet}")
    assert(capped.forall { case (k, v) => full(k) == v },
      "capped cosines must be exact, never approximated")
    // an over-sized cap is lossless
    val loose = graft.ops.TextAnalysis.tfIdfCosine(docs, topTerms = 10,
      threshold = 0.3, maxKeptDf = 1 << 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(loose == full, "over-sized cap must reproduce the uncapped result")
  }

  test("random projection: JL distance preservation, deterministic, zero-shuffle") {
    import org.apache.spark.sql.functions._
    val proj = graft.ops.Quantize.randomProjection(emb, dOut = 32)
    // deterministic: a second run reproduces every component exactly
    val a = proj.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = graft.ops.Quantize.randomProjection(emb, dOut = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a == b, "projection must be deterministic across runs")
    // JL property: pairwise squared distances are preserved in expectation —
    // check the mean distortion over a sample of pairs stays near 1 (loose
    // gate: ±40%; dOut=32 gives ~1/sqrt(32) per-pair noise)
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val pj = a.toSeq.groupBy(_._1._1)
      .map { case (id, xs) => id -> xs.sortBy(_._1._2).map(_._2).toArray }
    def d2(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
    val ids = vecs.keys.toSeq.sorted.take(30)
    val ratios = for {
      i <- ids; j <- ids if i < j
      dv = d2(vecs(i).map(_.toDouble), vecs(j).map(_.toDouble))
      if dv > 1e-9
    } yield d2(pj(i), pj(j)) / dv
    val mean = ratios.sum / ratios.size
    assert(mean > 0.6 && mean < 1.4, s"JL mean distortion off: $mean")
    // scale claim: pure per-partition projection, no exchange
    val p = proj.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"random projection must not shuffle:\n$p")
  }

  test("IVF index artifact: save/load round-trips the quantizer bit-exactly") {
    val trained = Similarity.ivfCentroids(emb, nlist = 8)
    graft.ops.Similarity.saveCentroids(spark, trained, "t_ivf_rt")
    val loaded = graft.ops.Similarity.loadCentroids(spark, "t_ivf_rt")
    assert(loaded.length == trained.length)
    assert(trained.zip(loaded).forall { case (a, b) => a.sameElements(b) },
      "reloaded centroids must be bit-identical")
    // a second save overwrites cleanly (the retrain-and-republish cycle)
    graft.ops.Similarity.saveCentroids(spark, loaded, "t_ivf_rt")
    assert(graft.ops.Similarity.loadCentroids(spark, "t_ivf_rt").length == trained.length)
    spark.sql("DROP TABLE IF EXISTS t_ivf_rt")
  }

  test("jaccard hot-shingle cap bounds the candidate explosion") {
    // with the cap off, every co-occurring gram joins; with a tight cap the
    // ubiquitous grams are excluded from candidate generation
    val uncapped = Dedup.jaccardPairs(docs, 3, 0.0).count()
    val capped = Dedup.jaccardPairs(docs, 3, 0.0, maxDocFreq = 2).count()
    assert(capped <= uncapped)
    // planted near-dup pairs share many RARE shingles, so a reasonable cap
    // keeps every high-similarity pair
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).select("a", "b").collect().toSet
    val cappedHigh = Dedup.jaccardPairs(docs, 3, 0.5, maxDocFreq = 50).select("a", "b").collect().toSet
    assert(cappedHigh == exact)
  }

  test("capped jaccard re-verifies surviving pairs against full gram sets") {
    import spark.implicits._
    // boilerplate tail shared by EVERY doc: its grams exceed maxDocFreq and
    // are excluded from candidate generation, but must still count toward
    // the reported Jaccard (ADVICE r2: the old form thresholded an
    // underestimate that ignored capped grams)
    val boiler = "subscribe to our newsletter today"
    val docsDf = (Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"alpha beta gamma delta epsilon $boiler")) ++
      (3 to 9).map(i => (i.toLong, s"unique$i second$i third$i fourth$i $boiler"))
    ).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(docsDf, 3, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.jaccardPairs(docsDf, 3, 0.5, maxDocFreq = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(uncapped.get((1L, 2L)).contains(1.0))
    // identical docs share rare grams → survive candidate gen; their
    // reported Jaccard is the EXACT 1.0, not a capped-gram lower bound
    assert(capped.get((1L, 2L)).contains(1.0))
  }

  test("containment pairs catch subset duplicates symmetric jaccard misses") {
    import spark.implicits._
    val small = "one two three four five six"
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val boiler = "subscribe to our newsletter today"
    val docsDf = (Seq(
      (1L, small),                 // 4 distinct 3-grams
      (2L, s"$small $filler"),     // contains ALL of doc 1's grams + 42 more
      (3L, s"alpha beta gamma $boiler"),
      (4L, s"alpha beta gamma $boiler")) ++
      (5 to 12).map(i => (i.toLong, s"unique$i second$i third$i fourth$i $boiler"))
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docsDf, 3, 0.8, maxDocFreq = 50).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc 1 ⊂ doc 2: containment exactly 1.0 while jaccard ≈ 4/46 — the
    // pair symmetric dedup structurally cannot emit at any useful threshold
    assert(cont.get((1L, 2L)).contains(1.0))
    assert(Dedup.jaccardPairs(docsDf, 3, 0.8, maxDocFreq = 50)
      .where("a = 1 and b = 2").count() == 0)
    // heavy-gram boundary: with the boilerplate over-cap, pair (3,4) only
    // reaches 1.0 if the verify counts heavy grams — a kept-gram-only score
    // would report a lossy lower bound
    val capped = Dedup.containmentPairs(docsDf, 3, 0.8, maxDocFreq = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.get((3L, 4L)).contains(1.0))
    // pairs sharing ONLY over-cap grams are outside the capped contract
    assert(!capped.contains((5L, 6L)))
    // lazy form: no cartesian product anywhere in the plan
    val plan = graft.ops.Barrier.lazily(Dedup.containmentPairs(docs, 3, 0.8))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"containment must not go quadratic:\n$plan")
  }

  test("capped collect freezes over-cap buckets at cap+1 across many partitions") {
    import spark.implicits._
    import org.apache.spark.sql.graft.SqlBridge
    // 100 "hot" rows spread over 32 partitions (partial buffers merge at the
    // reduce side), 3 "cold" rows: hot must surface as exactly cap+1 elements
    // (the overflow marker — never the full 100), cold as its exact full set
    val df = ((1 to 100).map(i => ("hot", i.toLong)) ++
      Seq(("cold", 11L), ("cold", 12L), ("cold", 13L)))
      .toDF("k", "v").repartition(32)
    val capped = SqlBridge.column(graft.functions.CappedCollectList(
      SqlBridge.expression(col("v")), 5).toAggregateExpression())
    val out = df.groupBy("k").agg(capped.as("ids")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("hot").size == 6, s"over-cap bucket must freeze at cap+1, got ${out("hot").size}")
    assert(out("cold").toSet == Set(11L, 12L, 13L), "under-cap bucket must be exact")
  }

  test("lsh bucket cap keeps the smallest ids per bucket") {
    val bits = 2
    val bucketed = Similarity.lshBucket(emb, bits)
      .select(col("vec_id").cast("long"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val kept = bucketed.groupBy(_._2).values.flatMap(_.map(_._1).sorted.take(3)).toSet
    assert(bucketed.groupBy(_._2).exists(_._2.length > 3), "fixture should overflow the cap")
    // the streaming bounded-heap cap admits exactly the maxBucket smallest
    // ids of each bucket — same selection the old sort-then-truncate made
    val out = Similarity.lshTopK(emb, 5, bits = bits, tables = 1, maxBucket = 3)
      .select("a", "b").collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(out.nonEmpty && out.subsetOf(kept), s"ids beyond the cap leaked: ${out.diff(kept)}")
  }

  test("df cap bounds the candidate explosion on a boilerplate-heavy corpus") {
    import spark.implicits._
    // Until now the cap was proven only by plan shape; this is the
    // adversarial-input witness (r5 verdict task #7): a boilerplate
    // paragraph shared by ~30% of docs makes the UNCAPPED candidate set
    // grow quadratically in the clique size, while the capped generator
    // drops the over-cap grams and stays bounded.
    val boiler = "terms of service apply to all content provided herein " +
      "without warranty of any kind expressed or implied"
    def corpus(clique: Int) = {
      val shared = (1 to clique).map(i => (i.toLong, s"$boiler tail$i a$i b$i"))
      // unique tails only — every gram of these docs embeds its own id
      val rest = (1001 to 1070).map(i => (i.toLong, s"standalone $i x$i y$i z$i w$i"))
      (shared ++ rest).toDF("doc_id", "text")
    }
    // candidate pairs sharing ≥1 generation-eligible gram, replayed through
    // the same public shingling the generator uses
    def candidates(docs: org.apache.spark.sql.DataFrame, cap: Int): Long = {
      val sh = Dedup.shingles(docs)
      val kept =
        if (cap <= 0) sh
        else sh.join(sh.groupBy("gram").agg(countDistinct("doc_id").as("df"))
          .where(col("df") <= cap).select("gram"), Seq("gram"))
      kept.select(col("doc_id").as("a"), col("gram"))
        .join(kept.select(col("doc_id").as("b"), col("gram")), Seq("gram"))
        .where(col("a") < col("b")).select("a", "b").distinct().count()
    }
    val unc15 = candidates(corpus(15), 0)
    val unc30 = candidates(corpus(30), 0)
    val cap30 = candidates(corpus(30), 10)
    assert(unc15 == 15L * 14 / 2, s"clique-15 uncapped: $unc15")
    assert(unc30 == 30L * 29 / 2, s"clique-30 uncapped: $unc30")
    // doubling the clique quadruples the uncapped candidate bill…
    assert(unc30 > 4 * unc15 - 30, s"expected ~quadratic growth: $unc15 -> $unc30")
    // …while the capped generator emits NOTHING for boilerplate-only overlap
    assert(cap30 == 0, s"capped candidates should be bounded: $cap30")

    // and the capped end-to-end pair generator still finds true near-dups
    // whose overlap includes RARE grams, on the same skewed corpus
    val withDup = corpus(30).unionByName(Seq(
      (9001L, "an original sentence about distributed query engines at scale"),
      (9002L, "an original sentence about distributed query engines at scale"))
      .toDF("doc_id", "text"))
    val found = Dedup.jaccardPairs(withDup, n = 3, threshold = 0.5, maxDocFreq = 10)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((9001L, 9002L)), s"true near-dup lost under the cap: $found")
    // the boilerplate clique's pairwise matches (jaccard ≥ 0.5 via the
    // shared paragraph alone) are the DOCUMENTED recall trade-off — they
    // must not blow up the candidate stage, and they don't appear here
    assert(found.forall { case (a, b) => a >= 9000 && b >= 9000 },
      s"boilerplate-only pairs should not surface under the cap: $found")
  }

  test("chunking: fixed windows with overlap, short tail, empty text dropped") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(d, chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // step 3: windows start at 0,3,6,9; each shares 1 token with the next
    assert(got.toSeq == Seq(
      (1L, 0, "w1 w2 w3 w4", 4L), (1L, 1, "w4 w5 w6 w7", 4L),
      (1L, 2, "w7 w8 w9 w10", 4L), (1L, 3, "w10", 1L)),
      s"chunks: ${got.toSeq}")
  }

  test("sequence packing: id-ordered global cumsum across value buckets") {
    import spark.implicits._
    // ids deliberately sparse and out of insertion order: the pack must be
    // the GLOBAL id-ordered prefix sum, regardless of which value bucket a
    // doc lands in (local[4] session → 4 buckets over the id span)
    val d = Seq((900L, 30L), (5L, 70L), (450L, 60L), (1L, 50L), (899L, 40L))
      .toDF("doc_id", "n_tokens")
    val got = TextAnalysis.packSequences(d, seqTokens = 100)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // order 1,5,450,899,900 with cumsums 0,50,120,180,220
    assert(got == Seq((1L, 0, 0L), (5L, 0, 50L), (450L, 1, 20L),
      (899L, 1, 80L), (900L, 2, 20L)), s"pack: $got")
  }

  test("incremental dedup finds batch-vs-corpus pairs under the corpus df cap") {
    import spark.implicits._
    val boiler = "standard legal disclaimer text repeated across the entire corpus verbatim"
    val corpus = ((1 to 30).map(i => (i.toLong, s"$boiler tail$i")) ++ Seq(
      (100L, "a very specific sentence about catalyst optimizer internals today"),
      (101L, "unrelated corpus content mentioning parquet footers and row groups")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (9000L, "a very specific sentence about catalyst optimizer internals today"),
      (9001L, s"$boiler tail9001"),   // boilerplate-only overlap with corpus
      (9002L, "entirely novel content with no corpus overlap whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardAgainst(incoming, corpus, n = 3, threshold = 0.5,
      maxDocFreq = 10)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the true near-dup (rare grams) surfaces; the boilerplate-only match
    // (corpus df 30 > cap 10) is the documented recall trade-off; novel
    // content matches nothing
    assert(got == Set((9000L, 100L)), s"incremental dedup pairs: $got")
  }

  test("minhash bucket cap bounds banded candidate generation under skew") {
    import spark.implicits._
    // an identical-document clique is LSH's worst case: every band bucket
    // holds the whole clique, so uncapped banding emits |clique|² candidate
    // rows per band. The cap drops exactly those buckets (identical cliques
    // are exact-dedup's job) while pairs in small buckets keep surfacing.
    val clique = (1 to 30).map(i => (i.toLong,
      "identical boilerplate body repeated verbatim across the whole " +
        "clique with enough words to shingle into many grams"))
    val planted = Seq(
      (9001L, "a genuinely unique near duplicate sentence pair for lsh checks"),
      (9002L, "a genuinely unique near duplicate sentence pair for lsh checks"))
    val rest = (1001 to 1020).map(i => (i.toLong, s"standalone $i x$i y$i z$i w$i"))
    val docs = (clique ++ planted ++ rest).toDF("doc_id", "text")

    val cappedDf = Dedup.minhashLsh(docs, maxBucket = 20)
    val capped = cappedDf.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((9001L, 9002L)),
      s"cap should keep small-bucket pairs and drop the over-cap clique: $capped")
    // candidate generation must run through the capped one-shuffle group-by,
    // never a raw bucket self-join
    assert(cappedDf.queryExecution.executedPlan.toString.contains("capped_collect_list"))

    // uncapped banding finds the clique's 435 pairs too — the cap trades
    // exactly the over-cap cliques for bounded candidate volume
    val uncapped = Dedup.minhashLsh(docs).select("a", "b").count()
    assert(uncapped == 30L * 29 / 2 + 1, s"uncapped should see the clique: $uncapped")
  }

  test("near-dup clustering: transitive closure via pointer-jumping") {
    import spark.implicits._
    val docsDf = (1L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // a 7-long chain (forces multiple propagation rounds) + an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (8L, 9L))
      .toDF("a", "b")
    val got = graft.ops.Dedup.clusters(docsDf, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 7L).forall(got(_) == 1L), s"chain should collapse to 1: $got")
    assert(got(8L) == 8L && got(9L) == 8L)

    // the DISTRIBUTED loop (driverEdgeCap=0 forces it past the union-find
    // fast path) must produce the identical labels
    val gotDist = graft.ops.Dedup.clusters(docsDf, pairs, driverEdgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == got, s"distributed loop diverged from union-find: $gotDist")

    // string ids cluster too (lexicographic min representative)
    val sDocs = Seq("doc-a", "doc-b", "doc-c", "doc-z").map((_, "t")).toDF("doc_id", "text")
    val sPairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c")).toDF("a", "b")
    val sGot = graft.ops.Dedup.clusters(sDocs, sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "doc-z" -> "doc-z"))
  }

  test("deterministic sampling: stable splits, stratified rates, no overlap") {
    import graft.ops.Sampling
    val s1 = Sampling.split(docs).groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Sampling.split(docs).groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2, "split must be deterministic across runs")
    assert(s1.values.sum == docs.count())
    assert(s1("train") > s1("valid") && s1("train") > s1("test"))
    // stratified: 'de' keeps everything, 'en' about half, rest ~10%
    val strat = Sampling.stratified(docs, "lang", Map("en" -> 50, "de" -> 100),
      defaultRate = 0)
    val byLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == total("de"))
    assert(byLang("en") < total("en") && byLang("en") > 0)
    assert(!byLang.contains("es"), "defaultRate=0 strata must drop entirely")
  }

  test("int8 quantization: codes bounded, round-trip error within scale/2") {
    import spark.implicits._
    val q = graft.ops.Quantize.int8(emb).cache()
    val codes = q.select(explode(col("codes"))).collect().map(_.getInt(0))
    assert(codes.forall(c => c >= 0 && c <= 255))
    // reconstruct and bound the error: |x - (qmin + code*scale)| <= scale/2
    val bad = graft.ops.Quantize.int8(emb)
      .join(emb, "vec_id")
      .select(explode(arrays_zip(col("embedding"), col("codes"))).as("z"),
        col("qmin"), col("scale"))
      .where(abs(col("z.embedding").cast("double") -
        (col("qmin") + col("z.codes") * col("scale"))) > col("scale") / 2 + 1e-9)
      .count()
    assert(bad == 0, s"$bad codes outside half-step reconstruction error")
    // constant vector quantizes to all zeros
    val const = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val cc = graft.ops.Quantize.int8(const).select("codes").head().getSeq[Int](0)
    assert(cc.forall(_ == 0))
  }

  test("tf-idf ranks at most k terms per doc, highest score first") {
    val t = graft.ops.TextAnalysis.tfIdf(docs, topK = 3).cache()
    val perDoc = t.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(perDoc.forall(_ <= 3))
    val mono = t.select("doc_id", "rank", "score").collect()
      .groupBy(_.getLong(0)).values
    assert(mono.forall { rows =>
      val sorted = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      sorted.zip(sorted.tail).forall { case (hi, lo) => hi >= lo }
    })
  }

  test("pii redaction scrubs emails, ips, phones; vocabulary ranks by frequency") {
    import spark.implicits._
    val pii = Seq(
      (1L, "contact alice@example.com or +1 (555) 123-4567 from 192.168.1.100 today"),
      (2L, "no personal data here at all")
    ).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.redactPii(pii).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Int]("n_emails") == 1 && r(1L).getAs[Int]("n_ips") == 1 &&
      r(1L).getAs[Int]("n_phones") == 1)
    val red = r(1L).getAs[String]("redacted")
    assert(red.contains("[EMAIL]") && red.contains("[IP]") && red.contains("[PHONE]"))
    assert(!red.contains("example.com") && !red.contains("192.168") && !red.contains("555"))
    assert(r(2L).getAs[String]("redacted") == "no personal data here at all")

    val v = graft.ops.TextAnalysis.vocabulary(docs, topN = 10).collect()
    assert(v.length == 10)
    val ns = v.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (hi, lo) => hi >= lo })
  }

  test("sessionize splits on the inactivity gap; contamination flags eval overlap") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def plus(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, t0, 7L, 1.0), (2L, plus(10), 7L, 2.0),   // session 1: 2 events
      (3L, plus(50), 7L, 3.0),                       // 40-min gap → session 2
      (4L, plus(55), 8L, 4.0)                        // other user: own session 1
    ).toDF("event_id", "ts", "user_id", "value")
    val s = graft.ops.Sessions.sessionize(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getDouble(5))).toMap
    assert(s((7L, 1L)) == (2L, 3.0) && s((7L, 2L)) == (1L, 3.0) && s((8L, 1L)) == (1L, 4.0))
    // the native SessionWindow operator finds the same sessions
    val nat = graft.ops.Sessions.sessionizeNative(ev).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
    assert(nat == Set((7L, 2L, 3.0), (7L, 1L, 3.0), (8L, 1L, 4.0)))

    val train = Seq((1L, "aa bb cc dd ee ff gg"), (2L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val eval = Seq((100L, "qq aa bb cc dd ee rr")).toDF("doc_id", "text")
    val c = graft.ops.Dedup.contamination(train, eval, n = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares exactly one distinct 5-gram ("aa bb cc dd ee"); doc 2 none
    assert(c == Map(1L -> 1L))
  }

  test("repetition: top-bigram fraction catches degenerate docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam"),        // one bigram repeated 4×
      (2L, "all words here are fully distinct")
    ).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.repetition(d).collect()
      .map(row => row.getLong(0) -> row.getDouble(3)).toMap
    assert(r(1L) == 1.0, s"degenerate doc should score 1.0: $r")
    assert(r(2L) < 0.5)

    // duplicate ids merge into ONE row with counts summed (oracle GROUP BY)
    val dup = Seq((5L, "a b a b"), (5L, "a b c d")).toDF("doc_id", "text")
    val m = graft.ops.TextAnalysis.repetition(dup).collect()
    assert(m.length == 1)
    // "a b"×2 + "b a" from row 1, "a b" + "b c" + "c d" from row 2
    assert(m.head.getLong(1) == 3L && m.head.getLong(2) == 6L)
  }

  test("span dedup removes shared spans, keeps order, retains emptied docs") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter now"  // 5 words = one span
    val fixture = Seq(
      (1L, s"alpha bravo charlie delta echo $boiler"),
      (2L, s"$boiler foxtrot golf hotel india juliet"),
      (3L, boiler),                                  // 100% boilerplate
      (4L, "kilo lima mike november oscar papa quebec romeo sierra tango")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(fixture, spanTokens = 5, maxDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("alpha bravo charlie delta echo", 1L))
    assert(out(2L) == ("foxtrot golf hotel india juliet", 1L))
    assert(out(3L) == ("", 0L))                      // emptied, not dropped
    assert(out(4L)._2 == 2L)                         // untouched doc keeps both spans
    assert(out(4L)._1 == "kilo lima mike november oscar papa quebec romeo sierra tango")
    // raising the df threshold above the boilerplate's df keeps everything
    val loose = TextAnalysis.spanDedup(fixture, spanTokens = 5, maxDf = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(3L) == boiler)
  }

  test("range join: inclusive start, exclusive end, one match per pair") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, ts("2024-01-05 00:00:00")),  // exactly at a start -> included
      (2L, ts("2024-01-08 00:00:00")),  // exactly at an end -> excluded
      (3L, ts("2024-01-06 12:00:00")),  // inside a 3-day (multi-bucket) window
      (4L, ts("2024-02-01 00:00:00"))   // outside everything
    ).toDF("event_id", "ts")
    val ivs = Seq(
      (10L, ts("2024-01-05 00:00:00"), ts("2024-01-08 00:00:00")),
      (11L, ts("2024-01-06 00:00:00"), ts("2024-01-07 00:00:00")),
      (12L, ts("2024-01-09 00:00:00"), ts("2024-01-09 00:00:00"))  // empty
    ).toDF("win_id", "win_start", "win_end")
    val out = graft.ops.RangeJoin.pointInInterval(points, ivs)
      .select("event_id", "win_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // point 3 sits in window 10 (3 buckets) AND window 11 — each pair once
    assert(out.toSet == Set((1L, 10L), (3L, 10L), (3L, 11L)), s"got: ${out.mkString(",")}")
    assert(out.length == 3, "no duplicate matches from multi-bucket expansion")
  }

  test("interval overlap: half-open semantics, one emission per pair") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-10 00:00:00")), // 9-day window
      (2L, ts("2024-01-10 00:00:00"), ts("2024-01-11 00:00:00"))  // adjacent to r=20
    ).toDF("l_id", "l_start", "l_end")
    val r = Seq(
      (20L, ts("2024-01-05 00:00:00"), ts("2024-01-10 00:00:00")), // 5-day overlap with l=1
      (21L, ts("2024-01-09 12:00:00"), ts("2024-01-12 00:00:00")),
      (22L, ts("2024-02-01 00:00:00"), ts("2024-02-02 00:00:00"))  // disjoint
    ).toDF("r_id", "r_start", "r_end")
    val out = graft.ops.RangeJoin.intervalOverlap(l, r)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    // l1 overlaps r20 across 5 shared buckets -> must appear exactly once;
    // l2 touches r20 only at the boundary instant -> NOT an overlap (half-open)
    assert(out.toSet == Set((1L, 20L), (1L, 21L), (2L, 21L)), s"got ${out.mkString(",")}")
    assert(out.length == 3, "canonical-bucket emission must not duplicate pairs")
  }

  test("temperature mixture: alpha=1 is identity, low alpha up-weights rare strata") {
    val total = docs.count()
    assert(graft.ops.Sampling.temperatureMixture(docs, "lang", alpha = 1.0).count() == total,
      "alpha=1 must reproduce the corpus (weights equal natural shares)")
    val kept = graft.ops.Sampling.temperatureMixture(docs, "lang", alpha = 0.3)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nat = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = nat.map { case (l, n) => l -> kept.getOrElse(l, 0L).toDouble / n }
    val rarest = nat.minBy(_._2)._1
    val commonest = nat.maxBy(_._2)._1
    assert(rates(rarest) > rates(commonest),
      s"rare stratum must keep a higher fraction: $rates")
    assert(rates(rarest) > 0.9, s"binding stratum keeps ~everything: $rates")
    // identity must survive shares that are NOT 6-decimal representable
    // (counts {1,2}: rounding the weights would yield rate 0.999999)
    import spark.implicits._
    val awkward = Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("doc_id", "lang")
    assert(graft.ops.Sampling.temperatureMixture(awkward, "lang", alpha = 1.0)
      .count() == 3, "alpha=1 identity must be exact for any share structure")
  }

  test("capped jaccard: equals uncapped with no heavy grams, exact-subset under skew") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 40).map(i => s"w$i")
    val boiler = "common shared boilerplate phrase across many documents here now"
    val bodies = (1 to 40).map { _ =>
      Seq.fill(15 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
    }
    val docs = (1L to 80L).map { i =>
      // docs 41-80 are near-clones of 1-40 (one word swapped) -> genuine
      // high-jaccard pairs whose shared grams are LOW-df body grams
      val body0 = bodies(((i - 1) % 40).toInt)
      val body = if (i <= 40) body0
        else body0.updated(rnd.nextInt(body0.size), "mutated")
      // 1/3 of docs share the boilerplate prefix -> its grams exceed small caps
      val t = body.mkString(" ")
      (i, if (i % 3 == 0) s"$boiler $t" else t)
    }.toDF("doc_id", "text")
    def pairs(cap: Int) = Dedup.jaccardPairs(docs, n = 3, threshold = 0.3, maxDocFreq = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = pairs(0)
    // cap far above any df: identical verified output
    assert(pairs(10000) == uncapped, "high cap must reproduce the uncapped result")
    // tight cap: every surviving pair carries its EXACT uncapped jaccard,
    // and the only losses are pairs sharing no under-cap gram
    val capped = pairs(4)
    assert(capped.nonEmpty && capped.size <= uncapped.size)
    capped.foreach { case (k, j) =>
      assert(uncapped.contains(k) && uncapped(k) == j,
        s"pair $k: capped jaccard $j != uncapped ${uncapped.get(k)}")
    }
  }

  test("MAD outliers: planted extremes flagged, inliers not, robust to the outlier itself") {
    import spark.implicits._
    val inliers = (1 to 99).map(i => (i.toLong, "g", 100.0 + (i % 11) - 5))
    val planted = Seq((1000L, "g", 10000.0), (1001L, "g", -10000.0))
    val other = (1 to 50).map(i => (2000L + i, "h", 7.0 + (i % 3)))
    val out = graft.ops.Outliers.byMad(
      (inliers ++ planted ++ other).toDF("id", "g", "v"), "v", Seq("g"))
    val flagged = out.where(col("is_outlier")).select("id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1000L, 1001L), s"flagged: $flagged")
    // the planted extremes must NOT drag the group median visibly
    val med = out.where(col("g") === "g").select("group_median").head.getDouble(0)
    assert(med >= 95 && med <= 105, s"median dragged to $med")
    // degenerate group (MAD = 0): no crash under ANSI mode, NULL robust_z,
    // any off-median value flagged
    val const = ((1 to 20).map(i => (i.toLong, "c", 5.0)) :+ ((99L, "c", 6.0)))
      .toDF("id", "g", "v")
    val dg = graft.ops.Outliers.byMad(const, "v", Seq("g")).collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[Boolean]("is_outlier"),
        r.isNullAt(r.fieldIndex("robust_z"))))).toMap
    assert(dg(99L) == ((true, true)), s"off-median in MAD=0 group: ${dg(99L)}")
    assert(dg(1L) == ((false, true)))
    // NULL group key is a REAL group: rows survive the null-safe join back
    // and the planted extreme is flagged within it (they used to vanish)
    val withNullG = ((1 to 20).map(i => (i.toLong, null.asInstanceOf[String], 50.0 + (i % 5)))
      :+ ((500L, null.asInstanceOf[String], 9999.0))).toDF("id", "g", "v")
    val ng = graft.ops.Outliers.byMad(withNullG, "v", Seq("g"))
    assert(ng.count() == 21, "NULL-group rows must not vanish from the output")
    assert(ng.where(col("is_outlier")).select("id").collect()
      .map(_.getLong(0)).toSet == Set(500L))
  }

  test("hll sketch rollup: accurate estimates, union consistent with direct") {
    Tables.register(spark, sfDir)
    val events = spark.table("events")
    val out = graft.ops.Sketches.distinctRollup(events, "event_type", "user_id")
      .collect().map(r => (if (r.isNullAt(0)) "__ALL__" else r.getString(0)) -> r.getLong(1)).toMap
    val exactAll = events.select("user_id").distinct().count()
    val estAll = out("__ALL__")
    assert(math.abs(estAll - exactAll).toDouble / exactAll < 0.05,
      s"merged estimate $estAll vs exact $exactAll")
    val exactClick = events.where(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(math.abs(out("click") - exactClick).toDouble / exactClick < 0.05)
    // the rollup can only see MORE distinct values than any single stratum
    assert(out.filter(_._1 != "__ALL__").values.forall(_ <= estAll * 1.05))
  }

  test("funnel: strict ordering, partial stages, non-entrants dropped") {
    import spark.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val events = Seq(
      // user 1: full funnel in order
      (1L, ts(1000), "view"), (1L, ts(2000), "click"), (1L, ts(3000), "purchase"),
      // user 2: purchase BEFORE click -> stage 2 only
      (2L, ts(1000), "view"), (2L, ts(1500), "purchase"), (2L, ts(2000), "click"),
      // user 3: click at the SAME instant as view -> not strictly after
      (3L, ts(1000), "view"), (3L, ts(1000), "click"),
      // user 4: never views -> not a funnel entrant
      (4L, ts(1000), "click"), (4L, ts(2000), "purchase"),
      // user 5: second view earlier than first click; first view counts
      (5L, ts(5000), "view"), (5L, ts(1000), "view"), (5L, ts(3000), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.ops.Funnel.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 1, 5L -> 2), s"got $out")
    // NULL identity/time rows are dropped, not a crash; custom id column
    // names flow through to the output schema
    val withNulls = events.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], ts(1000), "view"))
        .toDF("user_id", "ts", "event_type"))
    assert(graft.ops.Funnel.funnel(withNulls, Seq("view", "click", "purchase"))
      .collect().length == 4)
    assert(graft.ops.Funnel.funnel(
      events.withColumnRenamed("user_id", "account_id"),
      Seq("view", "click", "purchase"), userCol = "account_id")
      .columns.head == "account_id")
    // user 5's click time follows the EARLIEST view
    val u5 = graft.ops.Funnel.funnel(events, Seq("view", "click", "purchase"))
      .where(col("user_id") === 5).collect().head
    assert(u5.getLong(2) == 1000L * 1000 && u5.getLong(3) == 3000L * 1000)
  }

  test("funnel/retention: string/UUID user ids keep their family, same ladders") {
    import spark.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def uuid(i: Int) = f"00000000-0000-0000-0000-${i}%012d"
    val events = Seq(
      (uuid(1), ts(1000), "view"), (uuid(1), ts(2000), "click"), (uuid(1), ts(3000), "purchase"),
      (uuid(2), ts(1000), "view"), (uuid(2), ts(1500), "purchase"), (uuid(2), ts(2000), "click"),
      (uuid(4), ts(1000), "click"), (uuid(4), ts(2000), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.ops.Funnel.funnel(events, Seq("view", "click", "purchase"))
    assert(out.schema.head.dataType == org.apache.spark.sql.types.StringType)
    val got = out.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map(uuid(1) -> 3, uuid(2) -> 2), s"got $got")
    // retention cohorts string users too (no cast anywhere); NULL ids excluded
    val week0 = ts(1000)
    val week1 = ts(1000 + 7L * 86400 * 1000)
    val ret = graft.ops.Funnel.retention(Seq(
        (uuid(1), week0), (uuid(1), week1), (uuid(2), week0),
        (null.asInstanceOf[String], week0)
      ).toDF("user_id", "ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ret.values.sum == 3 && ret.exists { case ((_, off), n) => off == 1 && n == 1 })
  }

  test("as-of join and span removal equal brute force on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // --- as-of: 200 left lookups x 150 right states over 10 keys ---
    val left = (1L to 200L).map(i =>
      (i, rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong)).toDF("lid", "k", "lt")
    val right = (1L to 150L).map(i =>
      (i, rnd.nextInt(10).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble())
    ).toDF("rid", "k", "rt", "v")
    val got = graft.ops.AsOf.asofJoin(left, right, Seq("k"), "lt", "rt",
        payload = Seq("rid", "v"), tieCol = "rid")
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute force: per left row, the max-(rt, rid) right row with rt <= lt
    val rightRows = right.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = left.collect().map { r =>
      val (lid, k, lt) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val cand = rightRows.filter(x => x._2 == k && x._3 <= lt)
      lid -> (if (cand.isEmpty) -1L else cand.maxBy(x => (x._3, x._1))._1)
    }.toMap
    assert(got == want, "as-of join diverges from brute force")

    // --- span removal: random disjoint spans == manual string cutting ---
    val docs = (1L to 50L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(30))(('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val spans = docs.flatMap { case (id, t) =>
      // up to 3 random disjoint [s, e) spans per doc, in order
      var cur = 0
      (0 until rnd.nextInt(4)).flatMap { j =>
        if (cur >= t.length - 2) None
        else {
          val s = cur + rnd.nextInt(t.length - cur - 1)
          val e = math.min(t.length, s + 1 + rnd.nextInt(6))
          cur = e + 1
          Some((id, j, s.toLong, e.toLong))
        }
      }
    }
    val cleanedDf = graft.ops.Dedup.removeSpans(
      docs.toDF("doc_id", "text"),
      spans.map { case (id, j, s, e) => (id, j, s, e, e - s) }
        .toDF("doc_id", "span_id", "span_start", "span_end", "span_chars"))
    val cleaned = cleanedDf.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    docs.foreach { case (id, t) =>
      val ss = spans.filter(_._1 == id).map(x => (x._3.toInt, x._4.toInt)).sortBy(_._1)
      val expected = {
        val sb = new StringBuilder; var at = 0
        ss.foreach { case (s, e) => sb.append(t.substring(at, s)); at = e }
        sb.append(t.substring(at)).toString
      }
      assert(cleaned(id)._1 == expected, s"doc $id: ${cleaned(id)._1} != $expected")
      assert(cleaned(id)._2 == ss.map(x => x._2 - x._1).sum.toLong)
    }
  }

  test("as-of join: NULL timestamps are no 'infinitely early' phantom matches") {
    import spark.implicits._
    // right row 99 has a NULL time: it must match NOTHING (not even left
    // rows with no real predecessor); left row 3 has a NULL time: it stays
    // in the output (left-outer) with NULL payload
    val left = Seq((1L, 1L, Some(100L)), (2L, 1L, Some(5L)), (3L, 1L, Option.empty[Long]))
      .toDF("lid", "k", "lt")
    val right = Seq((10L, 1L, Some(50L), 1.0), (99L, 1L, Option.empty[Long], 666.0))
      .toDF("rid", "k", "rt", "v")
    val got = graft.ops.AsOf.asofJoin(left, right, Seq("k"), "lt", "rt",
        payload = Seq("rid", "v"), tieCol = "rid")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map(1L -> 10L, 2L -> -1L, 3L -> -1L), s"got $got")
  }

  test("range joins equal the brute-force cross join on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)  // fixed seed — deterministic case set
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def randTs() = new java.sql.Timestamp(base + rnd.nextInt(40 * 86400) * 1000L)
    val points = (1L to 300L).map(i => (i, randTs())).toDF("event_id", "ts")
    def randIvs(n: Int, idBase: Long) = (1 to n).map { i =>
      val s = randTs()
      // mix sub-bucket, exact-bucket and many-bucket widths + empty ones
      val len = rnd.nextInt(5) match {
        case 0 => 0L
        case 1 => 3600L
        case 2 => 86400L
        case _ => (rnd.nextInt(7 * 86400) + 1).toLong
      }
      (idBase + i, s, new java.sql.Timestamp(s.getTime + len * 1000L))
    }
    val ivs = randIvs(40, 100L).toDF("win_id", "win_start", "win_end")

    val got = graft.ops.RangeJoin.pointInInterval(points, ivs)
      .select("event_id", "win_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = points.crossJoin(ivs)
      .where(col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .select("event_id", "win_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == want.sorted.toSeq,
      s"point-in-interval diverges from brute force: got ${got.length}, want ${want.length}")

    val l = randIvs(35, 200L).toDF("l_id", "l_start", "l_end")
    val r = randIvs(35, 300L).toDF("r_id", "r_start", "r_end")
    val got2 = graft.ops.RangeJoin.intervalOverlap(l, r)
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    val want2 = l.crossJoin(r)
      .where(col("l_start") < col("r_end") && col("r_start") < col("l_end") &&
        col("l_end") > col("l_start") && col("r_end") > col("r_start"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got2.sorted.toSeq == want2.sorted.toSeq,
      s"interval-overlap diverges from brute force: got ${got2.length}, want ${want2.length}")
    assert(got2.length == got2.distinct.length, "no pair emitted twice")
  }

  test("capped jaccard keeps exactly-at-threshold pairs (division-form bound)") {
    import spark.implicits._
    // shared 57-word block -> 55 shared grams; disjoint suffixes of 23/22
    // words -> na=78, nb=77, so jaccard = 55/100 = 0.55 EXACTLY. A
    // multiply-form prune (c >= t*(na+nb-c)) computes 0.55*100 =
    // 55.000000000000007 and silently drops this pair; the division form
    // (c/(na+nb-c) >= t) matches finishJaccard and keeps it.
    val shared = (1 to 57).map(i => s"s$i").mkString(" ")
    val ua = (1 to 23).map(i => s"a$i").mkString(" ")
    val ub = (1 to 22).map(i => s"b$i").mkString(" ")
    val fixture = Seq((1L, s"$shared $ua"), (2L, s"$shared $ub")).toDF("doc_id", "text")
    Seq(0, 20).foreach { cap =>  // uncapped AND capped paths
      val out = Dedup.jaccardPairs(fixture, n = 3, threshold = 0.55, maxDocFreq = cap)
        .collect()
      assert(out.length == 1, s"cap=$cap: boundary pair must survive")
      assert(out.head.getDouble(2) == 0.55, s"cap=$cap: ${out.head}")
    }
  }

  test("cluster-balanced sampling: per-cluster quota, most-central first") {
    val sampled = graft.ops.Similarity.clusterBalancedSample(
      emb, nlist = 8, perCluster = 10)
    val byCluster = sampled.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCluster.values.forall(_ <= 10), s"quota violated: $byCluster")
    assert(byCluster.size > 1, "expected multiple populated clusters")
    // ranks are dense 1..n within each cluster and ordered by centrality
    val rows = sampled.collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Int]("rank"), r.getAs[Double]("centroid_cos")))
    rows.groupBy(_._1).foreach { case (c, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length), s"ranks not dense in cluster $c")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-(_: Double)).toSeq,
        s"centrality not descending in cluster $c")
    }
    // every member of the corpus lands in exactly one cluster
    val assigned = graft.ops.Similarity.clusterAssign(emb, nlist = 8)
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
  }

  test("quality classifier: weak-label LR separates held-out docs") {
    import spark.implicits._
    // two vocabularies with 50% overlap — the "trusted slice vs crawl noise"
    // distribution shift a fasttext corpus filter learns; deterministic docs
    val shared = (0 until 20).map(i => s"common$i")
    val posV = shared ++ (0 until 20).map(i => s"curated$i")
    val negV = shared ++ (0 until 20).map(i => s"spammy$i")
    def doc(id: Long, v: Seq[String]): (Long, String, Boolean) = {
      val r = new scala.util.Random(id)
      (id, Seq.fill(30)(v(r.nextInt(v.size))).mkString(" "), v eq posV)
    }
    val corpus = ((0L until 200L).map(doc(_, posV)) ++
      (200L until 400L).map(doc(_, negV))).toDF("doc_id", "text", "is_pos")
    val train = corpus.where(col("doc_id") % 5 =!= 0)
    val heldOut = corpus.where(col("doc_id") % 5 === 0)
    val scored = graft.ops.QualityClassifier.trainAndScore(
      train, heldOut, col("is_pos"), featureBits = 15)
    val joined = scored.join(heldOut.select("doc_id", "is_pos"), "doc_id")
    val n = joined.count()
    val correct = joined.where(col("predicted_quality") === col("is_pos")).count()
    assert(n == 80, s"held-out slice: $n")
    val acc = correct.toDouble / n
    assert(acc >= 0.95, s"held-out accuracy $acc — classifier not learning")
    val means = joined.groupBy("is_pos").agg(avg("p_quality").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false) + 0.5, s"separation too weak: $means")
  }

  test("substring dedup: rolling windows match direct hashes; spans merge maximally") {
    import spark.implicits._
    // window hashes computed by the rolling recurrence == hashing each
    // substring from scratch (the property the O(n) update must preserve)
    val s = "abcdefghij abcdefghij xyz"
    val w = 4
    val rolled = graft.functions.RollingHashWindows.hashes(s, w)
      .toLongArray()
    val direct = (0 to s.length - w).map { i =>
      val win = s.substring(i, i + w)
      val h1 = win.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L)
      val h2 = win.foldLeft(0L)((h, c) => (h * 31 + c) % 2147483629L)
      h1 * 2147483629L + h2
    }
    assert(rolled.toSeq == direct)
    assert(graft.functions.RollingHashWindows.hashes("abc", 4).numElements() == 0)

    // a 40-char sentence planted in two docs -> one merged span in each,
    // covering the whole planted region, not per-window fragments
    val planted = "this exact sentence repeats in both docs"  // 40 chars
    val fixture = Seq(
      (1L, s"unique prefix one $planted unique suffix alpha"),
      (2L, s"different lead-in text here $planted tail two"),
      (3L, "no duplicated content in this document at all beyond")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(fixture, windowChars = 30, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(spans.map(_._1).toSet == Set(1L, 2L))          // doc 3 clean
    assert(spans.count(_._1 == 1L) == 1 && spans.count(_._1 == 2L) == 1)
    val (_, _, s1, e1) = spans.find(_._1 == 1L).get
    // the merged span must cover the full planted sentence within doc 1
    val start1 = "unique prefix one ".length
    assert(s1 <= start1 && e1 >= start1 + planted.length)
    // tripling the count threshold clears a twice-occurring span
    assert(Dedup.substringDupSpans(fixture, 30, minCount = 3).count() == 0)

    // removal surgery: spans cut out, remainder stitched, clean docs intact
    val cleaned = Dedup.removeSpans(fixture, Dedup.substringDupSpans(fixture, 30, 2))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val norm1 = s"unique prefix one $planted unique suffix alpha"
    val (c1, n1) = cleaned(1L)
    assert(!c1.contains(planted.substring(5, 35)), "span content must be gone")
    assert(c1.startsWith("unique pre") || c1.startsWith("unique"), s"head kept: $c1")
    assert(norm1.length - c1.length == n1.toInt, "removed chars must account for the cut")
    assert(cleaned(3L)._1 ==
      "no duplicated content in this document at all beyond")   // untouched
    assert(cleaned(3L)._2 == 0L)
  }

  test("contamination spans localize leaked eval text inside train docs") {
    import spark.implicits._
    val leaked = "the exact benchmark question appears verbatim here"  // 50 chars
    val train = Seq(
      (1L, s"training prefix text $leaked training suffix text"),
      (2L, "completely original training content with no leakage at all")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, s"eval harness wrapper $leaked wrapper end")).toDF("doc_id", "text")
    val spans = graft.ops.Dedup.contaminationSpans(train, eval, windowChars = 30)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(spans.map(_._1).toSet == Set(1L), s"only doc 1 leaks: ${spans.mkString(",")}")
    val (_, s1, e1) = spans.head
    val start = "training prefix text ".length
    assert(s1 <= start && e1 >= start + leaked.length,
      s"span [$s1,$e1) must cover the leaked sentence at [$start,${start + leaked.length})")
    // cutting the span decontaminates: removeSpans output no longer contains it
    val cleaned = graft.ops.Dedup.removeSpans(train,
      graft.ops.Dedup.contaminationSpans(train, eval, 30))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!cleaned(1L).contains(leaked.substring(5, 40)))
    assert(cleaned(2L) == "completely original training content with no leakage at all")
  }

  test("canonicalize strips format chars, maps unicode spaces, collapses runs — no shuffle") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "Zero\u200bWidth\u200cJoin\ufeffBom"),      // Cf chars vanish entirely
      (2L, "NBSP\u00a0and\u3000ideographic\u2003spaces"), // Zs → plain space
      (3L, "tabs\tand\r\nnewlines\u0007ctl"),          // Cc → plain space
      (4L, "  UPPER   case   runs  "),                     // collapse + trim + lower
      (5L, null.asInstanceOf[String]))
    val out = TextAnalysis.canonicalize(crafted.toDF("doc_id", "text"))
      .select("doc_id", "norm_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "zerowidthjoinbom")
    assert(out(2L) == "nbsp and ideographic spaces")
    assert(out(3L) == "tabs and newlines ctl")
    assert(out(4L) == "upper case runs")
    assert(out(5L) == null)
    val plan = TextAnalysis.canonicalize(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"canonicalize should not shuffle:\n$plan")
  }

  test("exact keep-best picks the max-quality copy, tie-broken by smallest id") {
    import spark.implicits._
    val copies = Seq(
      (10L, "same content", 40L),   // longer capture of the same content wins
      (11L, "same  CONTENT ", 12L), // normalizes to the same hash, shorter
      (12L, "same content", 40L),   // tie on quality → smaller id (10) wins
      (20L, "unique", 6L))
    val out = Dedup.exactKeepBest(copies.toDF("doc_id", "text", "n_chars"))
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(10L -> ((40L, 3L)), 20L -> ((6L, 1L))))
    // one aggregate, zero windows: the argmax must stay map-side combinable
    val plan = Dedup.exactKeepBest(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keep-best must not rank via a window:\n$plan")
    assert(plan.contains("partial"), s"keep-best aggregate should have a partial phase:\n$plan")
  }

  test("cluster keep-best selects the max-quality doc per component") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "a", 10L), (2L, "b", 50L), (3L, "c", 20L), // one component via 1-2, 2-3
      (4L, "d", 7L), (5L, "e", 7L),                   // quality tie → smaller id
      (6L, "f", 3L)                                    // singleton keeps itself
    ).toDF("doc_id", "text", "n_chars")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val out = Dedup.clustersKeepBest(docsDf, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((2L, 50L, 3L)),  // doc 2's quality 50 beats the canonical id 1
      4L -> ((4L, 7L, 2L)),   // tie on quality: smallest id wins
      6L -> ((6L, 3L, 1L))))
    // the argmax must stay an aggregate — a window would shuffle full rows
    val plan = Dedup.clustersKeepBest(docsDf, edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keep-best must not rank via a window:\n$plan")
  }

  test("lexical diversity: hand-computed entropy, degenerate and uniform docs") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "a a b b"),    // uniform over 2 types: entropy = ln 2
      (2L, "x x x x"),    // degenerate: entropy 0, ttr 0.25
      (3L, "p q r"),      // all distinct: entropy = ln 3, ttr 1.0
      (4L, "  "))          // no words → absent
      .toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(docsDf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((4L, 2L, BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.5)))
    assert(out(2L) == ((4L, 1L, 0.0, 0.25)))
    assert(out(3L)._3 == BigDecimal(math.log(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble && out(3L)._4 == 1.0)
  }

  test("novelty scores the unique-gram fraction; sub-n docs are absent") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "a b c d"),   // grams {a b c, b c d}; "a b c" shared with doc 2
      (2L, "a b c x"),   // grams {a b c, b c x}
      (3L, "p q r s t"), // all grams unique
      (4L, "one two"),   // no full 3-gram → absent
      (5L, "m n o p"),   // verbatim duplicate pair: zero novel grams...
      (6L, "m n o p"))   // ...on BOTH docs (the coalesce-to-0 path)
    .toDF("doc_id", "text")
    val out = TextAnalysis.novelty(docsDf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((1L, 2L, 0.5)),
      2L -> ((1L, 2L, 0.5)),
      3L -> ((3L, 3L, 1.0)),
      5L -> ((0L, 2L, 0.0)),
      6L -> ((0L, 2L, 0.0))))
    // the full gram stream must exchange exactly ONCE (the gram aggregate);
    // a join-back of the df table onto the exploded stream would shuffle it twice
    val plan = TextAnalysis.novelty(docsDf).queryExecution.executedPlan.toString
    val gramExchanges = "Exchange hashpartitioning\\(gram".r.findAllIn(plan).length
    assert(gramExchanges == 1,
      s"expected exactly one gram-keyed exchange, got $gramExchanges:\n$plan")
  }

  test("per-label centroids: exact quantized means, ragged dims, nulls dropped") {
    import spark.implicits._
    val vecs = Seq(
      (1, Array(1.0f, 2.0f)),
      (1, Array(3.0f, 4.0f, 10.0f)),   // ragged: dim 2 has n=1 for label 1
      (2, Array(-1.00005f, 0.0f)),      // floor quantization: -1.0001 bucket
      (2, null.asInstanceOf[Array[Float]]))
      .toDF("label", "embedding")
    val out = graft.ops.Quantize.centroidByLabel(vecs).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out((1, 0L)) == ((2L, 2.0)) && out((1, 1L)) == ((2L, 3.0)))
    assert(out((1, 2L)) == ((1L, 10.0)))
    // floor(-1.00005 * 1e4) = -10001 (float widens to -1.0000499...e0 →
    // floor hits -10001): the quantization is part of the contract
    assert(out((2, 0L))._2 == -1.0001 || out((2, 0L))._2 == -1.0)
    assert(out((2, 1L)) == ((1L, 0.0)))
    assert(!out.keySet.exists(_._1 == 2 && out.size > 6), "null vector must drop")
    // aggregate partials are (labels x dims)-sized — map-side combinable
    val plan = graft.ops.Quantize.centroidByLabel(vecs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"centroid agg should partial-combine:\n$plan")
  }

  test("matryoshka truncation renormalizes prefixes at scan speed") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f, 100.0f)),          // prefix (3,4): norm 5
      (2L, Array(0.0f, 0.0f, 9.0f)),            // zero prefix: passthrough
      (3L, Array(1.0f))                          // shorter than dims: kept as-is
    ).toDF("vec_id", "embedding")
    val out = graft.ops.Quantize.matryoshka(vecs, dims = 2).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Float](1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out(1L)._1 == Seq(0.6f, 0.8f) && math.abs(out(1L)._2 - 5.0) < 1e-9)
    assert(out(2L)._1 == Seq(0.0f, 0.0f) && out(2L)._2 == 0.0)
    assert(out(3L)._1 == Seq(1.0f) && out(3L)._3 == 1L)
    // unit norm on real embeddings, and a pure projection (no shuffle)
    val m = graft.ops.Quantize.matryoshka(emb, dims = 16)
    val norms = m.select(sqrt(aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x)))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => n == 0.0 || math.abs(n - 1.0) < 1e-5))
    val plan = m.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"matryoshka must not shuffle:\n$plan")
  }

  test("group top-k returns exact ranked rows per group without a window") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 30.0), ("a", 2L, 30.0), ("a", 3L, 10.0), ("a", 4L, 20.0),
      ("b", 5L, 5.0),
      ("c", 6L, 1.0), ("c", 7L, 2.0), ("c", 8L, 3.0), ("c", 9L, 4.0))
      .toDF("grp", "id", "score").repartition(13) // force partial-heap merges
    // top-2 by score DESC, tie id ASC; k > |group b| returns the whole group
    val got = Sampling.groupTopK(rows, Seq("grp"),
        Seq((-col("score")).as("ns"), col("id").as("i")), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byGrp = got.groupBy(_._1)
    assert(byGrp("a").toSeq == Seq(("a", 1L, 30.0), ("a", 2L, 30.0)))
    assert(byGrp("b").toSeq == Seq(("b", 5L, 5.0)))
    assert(byGrp("c").toSeq == Seq(("c", 9L, 4.0), ("c", 8L, 3.0)))
    // the scale contract: a bounded-heap AGGREGATE, never a per-group
    // window sort (one huge group = one task's full sort)
    val plan = Sampling.groupTopK(rows, Seq("grp"),
        Seq(col("score").as("s")), 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"groupTopK must not plan a window:\n$plan")
    assert(plan.contains("bounded_top_k") && plan.contains("ObjectHashAggregate"),
      s"expected the bounded-heap aggregate:\n$plan")
    // reservoir: exactly min(k, |group|) rows per group, deterministic
    val res1 = Sampling.reservoirByGroup(docs.withColumn("source", lit("s")),
      "source", 7).select("doc_id").collect().map(_.getLong(0)).toSeq
    val res2 = Sampling.reservoirByGroup(docs.withColumn("source", lit("s")),
      "source", 7).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(res1.length == 7 && res1 == res2)
    // payload rides opaquely: a MAP column (non-orderable) in the payload
    // must not break the sort-key-only ordering
    val mapped = rows.withColumn("attrs", map(lit("k"), col("id")))
    val gotMap = Sampling.groupTopK(mapped, Seq("grp"),
        Seq((-col("score")).as("ns"), col("id").as("i")), 2)
      .select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(gotMap.toSet == Set(("a", 1L), ("a", 2L), ("b", 5L), ("c", 9L), ("c", 8L)))
  }

  test("gopher filter: each rule fires on its designed violation, no shuffle") {
    import spark.implicits._
    val good = Array.fill(20)("the cat and dog ran to the park today").mkString(" ")
    val fixture = Seq(
      (1L, good),                                         // passes every rule
      (2L, "too short"),                                  // word count
      (3L, Array.fill(60)("supercalifragilisticexpialidocious").mkString(" ")), // word len
      (4L, Array.fill(60)("kilo lima mike").mkString(" ")),   // no stopwords
      (5L, (1 to 60).map(_.toString).mkString(" ")),      // non-alphabetic
      (6L, good + " " + Array.fill(30)("...").mkString(" "))  // symbol ratio
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("passes_gopher"))
    assert(!out(2L).getAs[Boolean]("rule_word_count"))
    assert(!out(3L).getAs[Boolean]("rule_word_len"))
    assert(!out(4L).getAs[Boolean]("rule_stopwords"))
    assert(!out(5L).getAs[Boolean]("rule_alpha"))
    assert(!out(6L).getAs[Boolean]("rule_symbols"))
    assert(out.values.forall(r => r.getAs[Long]("doc_id") == 1L ||
      !r.getAs[Boolean]("passes_gopher")))
    // pure projection: the gate must run at scan speed, no Exchange
    val plan = TextAnalysis.gopherFilter(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher filter should not shuffle:\n$plan")

    // NULL text fails every rule outright (false, never NULL — a NULL
    // verdict vanishes from both sides of a filter); metrics stay NULL
    val withNull = Seq((7L, null: String)).toDF("doc_id", "text")
    val nr = TextAnalysis.gopherFilter(withNull).collect().head
    assert(!nr.getAs[Boolean]("passes_gopher") && !nr.getAs[Boolean]("rule_word_count"))
    assert(nr.isNullAt(nr.fieldIndex("n_words")))

    // per-row language column picks the matching stopword list
    val de = Array.fill(20)("der hund und die katze sind nicht hier") mkString " "
    val multi = Seq((8L, de, "de"), (9L, de, "en")).toDF("doc_id", "text", "lang")
    val byLang = TextAnalysis.gopherFilter(multi, langCol = Some(col("lang")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_stop_hits")).toMap
    assert(byLang(8L) > 0 && byLang(9L) == 0,
      s"stopword list must follow the lang column: $byLang")
  }

  test("data ops tolerate empty inputs") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.ops.Dedup.exact(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.jaccardPairs(emptyDocs, 3, 0.5).count() == 0)
    assert(graft.ops.Dedup.clusters(emptyDocs, emptyPairs).count() == 0)
    assert(graft.ops.Dedup.contamination(emptyDocs, emptyDocs, 3).count() == 0)
    assert(graft.ops.TextAnalysis.tfIdf(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.vocabulary(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.repetition(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.redactPii(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.spanDedup(emptyDocs).count() == 0)
    assert(graft.ops.Sampling.split(emptyDocs).count() == 0)
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.Quantize.int8Summary(emptyEmb).count() == 0)
    assert(graft.ops.Similarity.cosineTopK(emptyEmb, 5).count() == 0)
    val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
    assert(graft.ops.Sessions.sessionize(emptyEvents).count() == 0)
  }

  test("rolling hash expression stays inside whole-stage codegen") {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.registerFunction(spark, "rolling_hash",
      exprs => graft.functions.RollingHash(exprs.head))
    val df = docs.selectExpr("doc_id", "rolling_hash(text) AS rh")
    // codegen plan: the '*' marker means the Project containing the
    // expression compiled into a WholeStageCodegen stage (no codegen fence)
    assert(df.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("rolling_hash") && l.trim.startsWith("*")))
    // generated code agrees with interpreted eval
    val viaSql = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaEval = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> graft.functions.RollingHash.hash(r.getString(1))).toMap
    assert(viaSql == viaEval)
    assert(graft.functions.RollingHash.hash("") == 0L)
  }

  test("cosine_sim expression: codegen, kernel parity, edge cases") {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.registerFunction(spark, "cosine_sim",
      exprs => graft.functions.CosineSim(exprs(0), exprs(1)))
    val e1 = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val e2 = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val df = e1.join(e2, col("b") === col("a") + 1)
      .selectExpr("a", "b", "round(cosine_sim(ea, eb), 6) AS cos")
    // stays inside whole-stage codegen (no fence around the expression) —
    // asserted on an exchange-free projection: under AQE a join's pre-
    // execution plan hides its final codegen stages
    val proj = emb.selectExpr("vec_id", "cosine_sim(embedding, embedding) AS self_cos")
    assert(proj.queryExecution.executedPlan.toString
      .linesIterator.exists(l => l.contains("cosine_sim") && l.trim.startsWith("*")))
    assert(proj.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9 || r.getDouble(1) == 0.0))
    // bit-parity with the blocked-search kernel's rounded cosine
    val viaExpr = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaKernel = Similarity.cosinePairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    viaExpr.foreach { case (k, v) =>
      assert(viaKernel(k) == v, s"pair $k: expr $v vs kernel ${viaKernel(k)}") }
    // edge cases: zero vector → 0.0 (not NaN); NULL → NULL; length mismatch
    val edge = spark.sql(
      "SELECT cosine_sim(CAST(array(0.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)) AS z, " +
        "cosine_sim(CAST(NULL AS ARRAY<FLOAT>), CAST(array(1.0) AS ARRAY<FLOAT>)) AS n, " +
        "cosine_sim(CAST(array(1.0, 0.0, 5.0) AS ARRAY<FLOAT>), CAST(array(1.0) AS ARRAY<FLOAT>)) AS m")
      .head()
    assert(edge.getDouble(0) == 0.0 && edge.isNullAt(1))
    // common-prefix dot, full-array norms: 1 / (sqrt(26)·1)
    assert(math.abs(edge.getDouble(2) - 1.0 / math.sqrt(26.0)) < 1e-12)
  }

  test("dedup tolerates NULL and too-short documents") {
    import spark.implicits._
    val messy = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]),  // NULL text
      (4L, "short"), (5L, "also short"), (6L, ""),
      (7L, "completely different words in this document entirely")
    ).toDF("doc_id", "text")
    // no NPE, and short/NULL docs never pair with each other
    val pairs = Dedup.minhashLsh(messy, 3, 128, 2, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    val jac = Dedup.jaccardPairs(messy, 3, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == Set((1L, 2L)))

    // non-numeric ids survive the whole pipeline (id type is preserved)
    val stringIds = Seq(
      ("doc-a", "the quick brown fox jumps over the lazy dog"),
      ("doc-b", "the quick brown fox jumps over the lazy dog"),
      ("doc-c", "unrelated content goes here with different words")
    ).toDF("doc_id", "text")
    val sPairs = Dedup.jaccardPairs(stringIds, 3, 0.5)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sPairs == Set(("doc-a", "doc-b")))
    val sLsh = Dedup.minhashLsh(stringIds, 3, 128, 2, 0.5)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sLsh == Set(("doc-a", "doc-b")))
  }

  test("salted join spreads a hot key and preserves results") {
    import graft.ops.SkewJoin
    import spark.implicits._
    // 90% of the big side lands on one key — the pathological case
    val big = spark.range(10000)
      .selectExpr("CASE WHEN id % 10 = 0 THEN id % 7 ELSE 3 END AS k", "id AS v")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "hot"),
      (4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).agg(count("*"), sum("v")).head()
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), salt = 8)
      .agg(count("*"), sum("v")).head()
    assert(salted == plain)
  }

  test("language id agrees with stopword evidence") {
    val out = TextAnalysis.languageId(docs)
    // whenever a detected language is claimed, its score is the max and positive
    val bad = out.where(col("detected_lang") =!= "unknown")
      .where(greatest(col("score_en"), col("score_de"), col("score_es"), col("score_fr"), col("score_zh"))
        =!= expr("CASE detected_lang WHEN 'en' THEN score_en WHEN 'de' THEN score_de WHEN 'es' THEN score_es WHEN 'fr' THEN score_fr ELSE score_zh END"))
      .count()
    assert(bad == 0)
  }

  test("multimodal resize stub: stride arithmetic and deterministic hash") {
    val media = graft.ops.Multimodal.toMediaTable(docs)
    val r1 = graft.ops.Multimodal.resize(media, 16, 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r2 = graft.ops.Multimodal.resize(media, 16, 8).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    r1.foreach { case (id, row) =>
      val (in, out) = (row.getLong(3), row.getLong(4))
      val stride = math.max(1L, in / 128)
      assert(out == (if (in == 0) 0L else (in - 1) / stride + 1),
        s"stride arithmetic off for $id: in=$in out=$out")
      assert(row.getString(5) == r2(id), "resized hash must be deterministic")
    }
    // shrinking the target shrinks the output
    val small = graft.ops.Multimodal.resize(media, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    r1.foreach { case (id, row) => assert(small(id) <= row.getLong(4)) }
  }

  test("multimodal feature extraction matches its SQL twin and frame sampling is bounded") {
    val media = Multimodal.toMediaTable(docs)
    val viaPartitions = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val viaSql = Multimodal.extractFeaturesSql(media).orderBy("media_id").collect()
    assert(viaPartitions.sameElements(viaSql))
    val frames = Multimodal.sampleFrames(media, chunk = 64, every = 2)
    assert(frames.where(col("frame_no") % 2 =!= 0).count() == 0)
    assert(frames.groupBy("media_id").count().where(col("count") < 1).count() == 0)
  }

  test("mm_decode_real: ImageIO codec decodes and resizes a generated PNG") {
    import graft.ops.{ImageIOCodec, MediaCodec, StubCodec}
    // paint a real 64x48 RGB PNG in memory — no external files or jars
    val img = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 64; y <- 0 until 48)
      img.setRGB(x, y, (x * 4 << 16) | (y * 5 << 8) | ((x + y) & 0xff))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray

    assert(ImageIOCodec.decode(png).contains(MediaCodec.Dims(64, 48, 3)))
    val resized = ImageIOCodec.resize(png, 8, 6).get
    assert(ImageIOCodec.decode(resized).contains(MediaCodec.Dims(8, 6, 3)))
    // not-an-image payloads are rejected (→ callers fall back to the stub)
    assert(ImageIOCodec.decode("plain text".getBytes).isEmpty)
    assert(MediaCodec.forName("imageio") eq ImageIOCodec)
    assert(MediaCodec.forName("stub") eq StubCodec)
    intercept[IllegalArgumentException](MediaCodec.forName("ffmpeg"))

    // end-to-end through the Spark operators: a real PNG row decodes to its
    // true dims; a text row falls back to stub arithmetic — one stage, both
    val rows = Seq((1L, png, "image/png"), (2L, "not an image".getBytes, "text/plain"))
    val media = spark.createDataFrame(rows).toDF("media_id", "content", "media_type")
    val feats = Multimodal.extractFeatures(media, ImageIOCodec)
      .orderBy("media_id").collect()
    assert(feats(0).getInt(2) == 64 && feats(0).getInt(3) == 48 && feats(0).getInt(4) == 3)
    val textLen = "not an image".getBytes.length
    assert(feats(1).getInt(2) == 1 + textLen % 1024, "text row must use stub dims")
    val out = Multimodal.resize(media, 8, 6, ImageIOCodec).orderBy("media_id").collect()
    assert(out(0).getLong(4) > 0)
    // the PNG really was rescaled: its output is itself a decodable 8x6 image
    val stubOut = Multimodal.resize(media, 8, 6).orderBy("media_id").collect()
    assert(out(0).getString(5) != stubOut(0).getString(5),
      "real codec output must differ from stub stride-sampling")
    assert(out(1).getString(5) == stubOut(1).getString(5),
      "undecodable rows must fall back to the stub deterministically")
  }

  test("semantic dedup: exact cosines within clusters; nlist=1 equals the exact operator") {
    val exact = Similarity.cosineNearDup(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain embedding near-dups")
    // 0.45 is a LOW bar for "semantic duplicate" (the fixture's planted
    // pairs) — boundary-straddling is common there, so the spec config
    // leans on multi-probe: nlist=4 × probes=2 reaches full recall here
    val sem = Similarity.semanticNearDup(emb, 0.45, nlist = 4, probes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // precision 1.0 with bit-identical cosines: every reported pair is a
    // true near-dup pair (clustered search never invents or mis-scores)
    assert(sem.subsetOf(exact), s"clustered pairs must be a subset: ${sem.diff(exact)}")
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.8, s"semantic recall too low: $recall (${sem.size}/${exact.size})")
    // degenerate single-cluster config IS the exact operator
    val full = Similarity.semanticNearDup(emb, 0.45, nlist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == exact, "nlist=1 must equal the exact operator bit-for-bit")
  }

  test("mixture rebalance: derived rates, binding stratum whole, independent replay") {
    import graft.ops.Sampling
    val weights = Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1)
    val orig = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.mixture(docs, "lang", weights)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // never upsample
    kept.foreach { case (l, n) => assert(n <= orig(l), s"$l upsampled") }
    // the binding stratum (min n/w) keeps every row
    val binding = orig.keys.filter(weights.contains)
      .minBy(l => orig(l) / weights(l))
    assert(kept(binding) == orig(binding), s"binding stratum $binding must keep 100%")
    // independent replay: recompute rates + md5 keep decision in plain Scala
    val cap = orig.keys.filter(weights.contains).map(l => orig(l) / weights(l)).min
    def rate(l: String): Double = new java.math.BigDecimal(
      math.min(1.0, weights(l) * cap / orig(l)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val md = java.security.MessageDigest.getInstance("MD5")
    def frac(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0
    }
    val expected = docs.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, l) => weights.contains(l) && frac(id) < rate(l) }
      .map(_._1).toSet
    val got = Sampling.mixture(docs, "lang", weights)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, "engine keep-set must match the local replay")
  }

  test("centroid outliers: planted far vector gets the top z, spread-free label NULL") {
    import spark.implicits._
    // label 1: a tight cluster + one planted far point; label 2: one member
    val vecs = (1 to 20).map(i =>
      (i.toLong, Seq(1.0f + i * 0.001f, 2.0f, 3.0f), 1)) ++
      Seq((99L, Seq(50.0f, -40.0f, 7.0f), 1), (100L, Seq(0f, 0f, 0f), 2))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val out = graft.ops.Quantize.centroidOutliers(df).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) null
        else java.lang.Double.valueOf(r.getDouble(4)))).toMap
    val z99 = out(99L).asInstanceOf[Double]
    assert(z99 > 3.0, s"planted outlier z: $z99")
    assert(out(100L) == null, "single-member label has no spread")
    // everyone else is below the planted point
    assert(vecs.map(_._1).filterNot(Set(99L, 100L))
      .forall(id => out(id).asInstanceOf[Double] < z99))
  }

  test("sentence split: terminal runs kept, trailing fragment kept, empty dropped") {
    import spark.implicits._
    val out = graft.ops.TextAnalysis.sentences(Seq(
      (1L, "First one. Second one! Third?? And a trailing fragment"),
      (2L, "no punctuation at all"),
      (3L, ""),
      (4L, "...")  // punctuation only → trims to nothing, no rows
    ).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.filter(_._1 == 1L).toList == List(
      (1L, 0L, "First one."), (1L, 1L, "Second one!"),
      (1L, 2L, "Third??"), (1L, 3L, "And a trailing fragment")))
    assert(out.filter(_._1 == 2L).toList == List((2L, 0L, "no punctuation at all")))
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
    val p = graft.ops.TextAnalysis.sentences(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sentences must not shuffle:\n$p")
  }

  test("html strip: subtrees out, entities decoded once, case-insensitive, codegen") {
    import spark.implicits._
    val out = graft.ops.TextAnalysis.htmlStrip(Seq(
      (1L, "<p>a &amp;amp; b</p>"),           // double-encoded decodes ONCE
      (2L, "<ScRiPt>x()</sCrIpT>after"),       // tag case-insensitivity
      (3L, "<style media=\"all\">h1{}</style>kept"),
      (4L, "no markup at all"),
      (5L, "<p>&#8212;dash gap&#8212;</p>"),   // common typographic → ASCII
      (6L, "it&#8217;s &#x2019;ok&#x2018; &#8220;q&#8221;"), // quotes incl. hex
      (7L, "unknown &#12345; and &#x1F600; drop") // uncommon → space, both radixes
    ).toDF("pid", "html")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "a &amp; b")
    assert(out(2L) == "after")
    assert(out(3L) == "kept")
    assert(out(4L) == "no markup at all")
    assert(out(5L) == "-dash gap-")
    assert(out(6L) == "it's 'ok' \"q\"")
    assert(out(7L) == "unknown and drop")
    // scan-speed claim: a pure projection, no exchange
    val p = graft.ops.TextAnalysis.htmlStrip(
      docs.withColumnRenamed("text", "html"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"htmlStrip must not shuffle:\n$p")
  }

  test("token-mass mixture: rates derive from mass, binding stratum whole, skew matters") {
    import graft.ops.Sampling
    import spark.implicits._
    // two strata, SAME doc counts but 10x length skew: a doc-count mixture
    // would keep equal rows for a 50/50 weight; the mass mixture must not
    val rows = (1 to 400).map(i => (i.toLong, "web", 1000L)) ++
      (401 to 800).map(i => (i.toLong, "code", 100L))
    val df = rows.toDF("doc_id", "src", "n_tok")
    val weights = Map("web" -> 0.5, "code" -> 0.5)
    val kept = Sampling.mixtureByMass(df, "src", weights, massCol = "n_tok")
      .groupBy("src").agg(count(lit(1)).as("n"), sum("n_tok").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // binding stratum by MASS is code (40k/0.5 < 400k/0.5): kept whole
    assert(kept("code") == ((400L, 40000L)), s"binding: ${kept("code")}")
    // web downsamples to ~the same token mass as code, NOT the same rows
    val (nWeb, mWeb) = kept("web")
    assert(nWeb < 100, s"web rows must fall to ~rate 0.1: $nWeb")
    assert(math.abs(mWeb - 40000L) < 12000, s"web mass ~ code mass: $mWeb")
    // expected-mass identity: rate = w*cap/mass rounds to 0.1 exactly here
    val replay = Sampling.mixtureByMass(df, "src", weights, massCol = "n_tok")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == Sampling.mixtureByMass(df, "src", weights, massCol = "n_tok")
      .select("doc_id").collect().map(_.getLong(0)).toSet, "deterministic replay")
  }

  test("deterministic sharding: every row once, dense positions, seed changes layout") {
    import graft.ops.Sampling
    val n = docs.count()
    val sh = Sampling.shardAssign(docs, 8, "epoch0").cache()
    assert(sh.count() == n && sh.select("doc_id").distinct().count() == n)
    val stats = sh.groupBy("shard_id")
      .agg(count("*").as("cnt"), min("shard_pos").as("mn"), max("shard_pos").as("mx"))
      .collect()
    stats.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) < 8)
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1),
        s"shard ${r.getInt(0)} positions must be dense 1..n")
    }
    // a new seed is a genuinely different epoch layout
    val a = sh.select("doc_id", "shard_id", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val b = Sampling.shardAssign(docs, 8, "epoch1")
      .select("doc_id", "shard_id", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(a != b, "different seeds must produce different layouts")
    sh.unpersist()
  }

  test("BPE induction learns the classic merges and tokenizes with them") {
    import graft.ops.Bpe
    // words: low ×3, lower ×1 → pair counts: (l,o)=4, (o,w)=4, (w,</w>)=3,
    // (w,e)=1, (e,r)=1, (r,</w>)=1; ties break lexicographically so the
    // deterministic merge order is (l,o) → (lo,w) → (low,</w>)
    val toy = spark.createDataFrame(Seq(
      (1L, "low low low"), (2L, "lower"))).toDF("doc_id", "text")
    val merges = Bpe.bpeMerges(toy, numMerges = 3, minPairCount = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (0, "l", "o", 4L), (1, "lo", "w", 4L), (2, "low", "</w>", 3L)),
      s"unexpected merges: ${merges.toSeq}")
    // early stop: nothing else reaches minPairCount=2 after these three
    val all = Bpe.bpeMerges(toy, numMerges = 10, minPairCount = 2)
    assert(all.count() == 3, "induction must stop when counts fall below min")
    // application: 'lowest' tokenizes through the learned merges greedily
    val toks = Bpe.bpeTokenize(
      spark.createDataFrame(Seq((1L, "lowest low"))).toDF("doc_id", "text"),
      Bpe.bpeMerges(toy, numMerges = 3, minPairCount = 2))
      .select("tokens").head().getSeq[String](0)
    // 'lowest' stops at the 'low' prefix (merge 3 needs the end marker);
    // bare 'low' becomes the whole-word token low</w> via merge 3
    assert(toks == Seq("low", "e", "s", "t", "</w>", "low</w>"),
      s"unexpected tokens: $toks")
    // corpus-scale smoke: deterministic across two runs
    val a = Bpe.bpeMerges(docs, numMerges = 6).collect().toSeq
    val b = Bpe.bpeMerges(docs, numMerges = 6).collect().toSeq
    assert(a == b && a.size == 6)
    // RELIABLE checkpoint toggle: with a checkpoint dir configured the
    // lineage truncation goes through fault-tolerant checkpoint files
    // (survives executor loss on a real cluster) and learns the same merges
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-bpe-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(ckptDir.toString)
      val c = Bpe.bpeMerges(docs, numMerges = 6, checkpointEvery = 2).collect().toSeq
      assert(c == a, "reliable-checkpoint train must learn identical merges")
    } finally {
      // the session is shared: a leaked dir would make every later pin reliable
      org.apache.spark.GraftTestHooks.clearCheckpointDir(spark.sparkContext)
      graft.core.Fs.deleteRecursively(ckptDir)
    }
  }

  test("token-budget selection keeps the quality-ranked greedy prefix") {
    import graft.ops.Sampling
    // scores order docs 3 > 1 > 2; tokens 40 + 40 + 40; budget 100 keeps
    // docs 3 and 1 fully and lets doc 2 start at cum=80 (80 < 100)
    val toy = spark.createDataFrame(Seq(
      (1L, 0.8, 40), (2L, 0.5, 40), (3L, 0.9, 40))).toDF("doc_id", "quality_score", "n_words")
    val out = Sampling.selectByBudget(toy, tokenBudget = 100)
      .orderBy("cum_tokens_before").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((3L, 0L), (1L, 40L), (2L, 80L)))
    // budget 80: doc 2's preceding total is 80, not < 80 — cut
    val cut = Sampling.selectByBudget(toy, tokenBudget = 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cut == Set(3L, 1L))
    // bucketed distributed cumsum equals the one-window form on real data
    val scored = graft.ops.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"), col("n_words"))
    val viaBuckets = Sampling.selectByBudget(scored, 3000)
      .select("doc_id", "cum_tokens_before").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWindow = scored
      .withColumn("c", coalesce(sum(col("n_words").cast("long")).over(w), lit(0L)))
      .where(col("c") < 3000)
      .select("doc_id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBuckets == viaWindow)
  }

  test("token-budget selection: concentrated scores cannot collapse the cumsum") {
    import graft.ops.Sampling
    import spark.implicits._
    // EVERY doc shares one score — the case a score-VALUE bucketing scheme
    // lands entirely in one bucket, turning the per-bucket window into the
    // single-partition global window the design exists to avoid
    val flat = (1L to 2000L).map(i => (i, 0.9, 10)).toDF("doc_id", "quality_score", "n_words")
    val out = Sampling.selectByBudget(flat, tokenBudget = 5000, buckets = 16)
      .select("doc_id", "cum_tokens_before").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // equal scores tie-break by id: docs 1..500 survive, cum = (id-1)*10
    assert(out.keySet == (1L to 500L).toSet, s"kept ${out.size} docs")
    assert((1L to 500L).forall(i => out(i) == (i - 1) * 10))
    // the range partitioner must actually SPREAD the flat-score corpus: its
    // boundaries are (score, id) pairs, so no partition holds ~everything
    val sizes = flat
      .repartitionByRange(16, col("quality_score").desc_nulls_last, col("doc_id").asc)
      .groupBy(spark_partition_id().as("p")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length > 8, s"expected ~16 populated range partitions, got ${sizes.length}")
    assert(sizes.max < 2000 / 4, s"one partition holds ${sizes.max} of 2000 rows")
  }

  test("ccnet buckets: distributed exact rank == single-window ntile; approx never sorts") {
    import org.apache.spark.sql.expressions.Window
    // reference: the literal per-language ntile window (the plan shape the
    // operator must NEVER produce, but whose answer is the exact contract)
    val nll = TextAnalysis.unigramLogProb(docs)
    val w = Window.partitionBy("lang").orderBy(col("avg_nll").asc, col("doc_id").asc)
    val ref = docs.select(col("doc_id"), col("lang")).join(nll, Seq("doc_id"))
      .withColumn("t", ntile(3).over(w))
      .select("doc_id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // buckets=8 on sf0.001 forces range partitions that SPAN languages and
    // SPLIT the dominant language across partitions — both offset regimes
    val got = TextAnalysis.ccnetBuckets(docs, buckets = 8)
      .select("doc_id", "tertile").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty && got == ref,
      s"distributed rank must reproduce ntile exactly (${got.size} vs ${ref.size} rows)")
    // approx path: one pass, no corpus shuffle, no window anywhere
    val approx = TextAnalysis.ccnetBuckets(docs, exact = false)
    val pa = approx.queryExecution.executedPlan.toString
    assert(!pa.contains("windowspecdefinition"), s"approx path must not window:\n$pa")
    assert(!pa.contains("rangepartitioning"), s"approx path must not range-shuffle:\n$pa")
    // labels are a monotone cut of avg_nll within each language
    val rows = approx.select("lang", "avg_nll", "tertile").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      for (b <- 1 to 2 if byBucket.contains(b) && byBucket.contains(b + 1))
        assert(byBucket(b).max <= byBucket(b + 1).min,
          s"$lang: bucket $b must not exceed bucket ${b + 1}")
    }
  }

  test("bigram LM matches a hand-computed toy corpus") {
    val toy = spark.createDataFrame(Seq(
      (1L, "a b"), (2L, "a c"), (3L, "x"))).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(toy).orderBy("doc_id").collect()
    // contexts: a→{b, c} so P(b|a) = P(c|a) = 1/2; doc 3 has no bigrams
    assert(out.length == 2)
    assert(out(0).getLong(1) == 1L &&
      math.abs(out(0).getDouble(2) - math.log(2.0)) < 1e-6)
    assert(out(1).getLong(1) == 1L &&
      math.abs(out(1).getDouble(2) - math.log(2.0)) < 1e-6)
  }

  test("product quantization: deterministic codes, bounded error, useful ADC recall") {
    import graft.ops.Pq
    val books = Pq.pqTrain(emb, m = 16, k = 16)
    assert(books.length == 16 && books.forall(_.forall(_.length == 4)))
    // deterministic end to end
    val again = Pq.pqTrain(emb, m = 16, k = 16)
    assert(books.zip(again).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    val enc = Pq.pqEncode(emb, books).cache()
    assert(enc.count() == emb.count())
    val codes = enc.select("codes").head().getSeq[Int](0)
    assert(codes.length == 16 && codes.forall(c => c >= 0 && c < 16))
    // compression keeps most of the signal: mean reconstruction error well
    // under the mean vector energy
    val err = enc.agg(avg("recon_err2")).head().getDouble(0)
    val energy = emb.selectExpr(
      "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS e")
      .agg(avg("e")).head().getDouble(0)
    assert(err < energy * 0.5, s"reconstruction err $err vs energy $energy")
    enc.unpersist()
    // ADC search over codes finds most of the true L2 neighborhood (ADC
    // approximates L2, so the baseline is exact L2 top-k, not cosine)
    val vecs = emb.selectExpr("CAST(vec_id AS BIGINT)", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val exact = vecs.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (bid, bv) => (qid, bid, l2(qv, bv)) }
        .sortBy(t => (t._3, t._2)).take(5).map(t => (qid, t._2))
    }.toSet
    val adc5 = Pq.pqTopK(emb, books, topK = 5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall5 = (exact intersect adc5).size.toDouble / exact.size
    val chance = 5.0 / (vecs.length - 1)
    assert(recall5 >= 3 * chance, s"ADC@5 recall $recall5 not above chance $chance")
    // the deployment shape: ADC is the SHORTLIST, exact re-rank recovers the
    // head — recall of the true top-5 within the ADC top-20 shortlist
    val adc20 = Pq.pqTopK(emb, books, topK = 20).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val shortlistRecall = (exact intersect adc20).size.toDouble / exact.size
    assert(shortlistRecall >= 0.6, s"ADC shortlist recall too low: $shortlistRecall")
  }

  test("IVF-PQ: residual probe search is deterministic, artifact-reusable, and has useful recall") {
    import graft.ops.{Pq, Similarity}
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(Pq.ivfPqTopK(emb, topK = 5, nlist = 16, nprobe = 8, m = 16, k = 16))
    // deterministic end to end (both quantizers train deterministically)
    assert(got == pairs(Pq.ivfPqTopK(emb, topK = 5, nlist = 16, nprobe = 8, m = 16, k = 16)))
    // the build-once artifacts reproduce inline training
    val cents = Similarity.ivfCentroids(emb, nlist = 16)
    assert(got == pairs(Pq.ivfPqTopK(emb, topK = 5, nlist = 16, nprobe = 8,
      m = 16, k = 16, prebuiltCentroids = Some(cents))))
    // recall against the exact L2 neighborhood (ADC approximates L2)
    val vecs = emb.selectExpr("CAST(vec_id AS BIGINT)", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => (p.toDouble - q) * (p.toDouble - q) }.sum
    val exact = vecs.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid).map { case (bid, bv) => (qid, bid, l2(qv, bv)) }
        .sortBy(t => (t._3, t._2)).take(5).map(t => (qid, t._2))
    }.toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    val chance = 5.0 / (vecs.length - 1)
    assert(recall >= 3 * chance, s"IVF-PQ recall $recall not above chance $chance")
    // the deployment shape: shortlist@20 over half the lists recovers most
    // of the true top-5
    val short = pairs(Pq.ivfPqTopK(emb, topK = 20, nlist = 16, nprobe = 8, m = 16, k = 16))
    val shortRecall = (exact intersect short).size.toDouble / exact.size
    assert(shortRecall >= 0.5, s"IVF-PQ shortlist recall too low: $shortRecall")
  }

  test("pqTopK past the broadcast cap: blocked grid identical to broadcast path") {
    import graft.ops.Pq
    val books = Pq.pqTrain(emb, m = 16, k = 16)
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .select("a", "b", "adc_dist2", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val viaBroadcast = ranked(Pq.pqTopK(emb, books, topK = 5))
    // cap far below the corpus size forces the sharded grid; several shards
    // so the merge window genuinely combines per-shard heaps
    val viaGrid = ranked(Pq.pqTopK(emb, books, topK = 5,
      maxBroadcastCodes = 10L, shardCodes = 50))
    assert(viaGrid == viaBroadcast,
      s"grid diverges: ${viaGrid.toSet.diff(viaBroadcast.toSet).take(5)}")
  }

  test("bloom-guarded corpus dedup: exact mode lossless, approx mode bounded loss") {
    // corpus = half the docs; incoming = everything (so half are known)
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val incoming = docs
    val plain = graft.streaming.Streams.dedupAgainstCorpus(incoming, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact mode must reproduce the plain anti-join exactly (bloom is just
    // a join-avoidance guard; false positives are rescued by the anti-join)
    val exactOut = graft.ops.Dedup.bloomDedupAgainstCorpus(incoming, corpus,
        fpp = 0.05, exact = true)
      .dropDuplicates("doc_id") // plain path also in-stream-dedups; ids unique here
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // plain dedupAgainstCorpus also drops in-stream content dups; align by
    // comparing against the anti-join semantics on unique-content rows only
    val antiOnly = incoming
      .withColumn("__fp", md5(graft.ops.TextAnalysis.normText(col("text"))))
      .join(corpus.select(md5(graft.ops.TextAnalysis.normText(col("text"))).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactOut == antiOnly, "exact bloom mode must equal the plain anti-join")
    assert(exactOut.subsetOf(plain ++ antiOnly))
    // approx mode: never emits a known doc (no false negatives in a bloom
    // filter), and keeps at least (1 - 2·fpp) of the novel docs
    val approx = graft.ops.Dedup.bloomDedupAgainstCorpus(incoming, corpus,
        fpp = 0.01, exact = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(approx.subsetOf(antiOnly), "bloom has no false negatives")
    assert(approx.size >= (antiOnly.size * 0.98).toInt,
      s"approx mode lost too many novel docs: ${approx.size}/${antiOnly.size}")
  }

  test("dsir importance tilts toward the target stratum; gumbel top-k deterministic") {
    val raw = docs
    val target = docs.where(col("lang") === "en")
    val sc = graft.ops.Dsir.scores(raw, target, buckets = 1024).cache()
    val withLang = sc.join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val means = withLang.groupBy(col("lang") === "en")
      .agg(avg(col("log_importance") / col("n_grams")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"en-target must tilt importance toward en docs: $means")
    // selection: exactly k rows, and exactly the k largest perturbed keys
    val k = 50
    val sel = graft.ops.Dsir.select(raw, target, k).collect().map(_.getLong(0))
    assert(sel.length == k && sel.distinct.length == k)
    val expected = sc.orderBy(col("gumbel_key").desc, col("doc_id").asc)
      .limit(k).collect().map(_.getLong(0))
    assert(sel.sameElements(expected), "select must be the ordered head of scores")
    // replay determinism: same inputs, same selection
    val again = graft.ops.Dsir.select(raw, target, k).collect().map(_.getLong(0))
    assert(sel.sameElements(again))
    sc.unpersist()
  }

  test("gopher repetition battery matches hand-computed signals") {
    // doc 1: "x y x y x y z" — words chars: 1 each, total 7
    //   top 2-gram: "x y" count 3, chars 2 → 6/7
    //   dup 5-gram: "x y x y x" (s=0) and "y x y x y"?? occurrences:
    //     5-grams: [x y x y x], [y x y x y], [x y x y z] — all distinct → 0
    // doc 2: lines "A\nB\nA\nA" — dup lines: 2 of 4 (the 2nd and 3rd "A")
    //   dup_line_frac = 0.5; chars: A=1 → dup chars 2 / total 4 = 0.5
    val toy = spark.createDataFrame(Seq(
      (1L, "x y x y x y z"),
      (2L, "A\nB\nA\nA"),
      (3L, "p q r s t p q r s t u v"))).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(toy).orderBy("doc_id").collect()
    val d1 = out(0)
    assert(math.abs(d1.getAs[Double]("top_2gram_char_frac") - 6.0 / 7) < 1e-6)
    assert(d1.getAs[Double]("dup_5gram_char_frac") == 0.0)
    // "x y" appears 3×: dup 2-grams cover every position except... all
    // 2-gram starts: xy yx xy yx xy yz; xy(3), yx(2) dup → positions 0..5
    // covered, z at 6 not → but "y z" unique and "x y"/"y x" cover 0..5.
    // covered chars 6/7 — not an output column for n=2 (only 5..10), so
    // assert the n=3 dup instead: "x y x"(2), "y x y"(2) cover 0..5 → 6/7
    assert(math.abs(d1.getAs[Double]("dup_5gram_char_frac") - 0.0) < 1e-9)
    val d2 = out(1)
    assert(math.abs(d2.getAs[Double]("dup_line_frac") - 0.5) < 1e-6)
    assert(math.abs(d2.getAs[Double]("dup_line_char_frac") - 0.5) < 1e-6)
    // doc 3: "p q r s t" ×2 (10 words of 1 char) + u v; total chars 12
    //   5-gram "p q r s t" count 2 → covers positions 0..4 and 5..9 →
    //   10 chars → dup_5gram = 10/12; 6..10-grams all unique → 0
    val d3 = out(2)
    assert(math.abs(d3.getAs[Double]("dup_5gram_char_frac") - 10.0 / 12) < 1e-6)
    assert(d3.getAs[Double]("dup_6gram_char_frac") == 0.0)
    assert(!d3.getAs[Boolean]("passes_repetition"), "10/12 > 0.15 threshold")
    assert(!d1.getAs[Boolean]("passes_repetition"), "6/7 top-2gram > 0.20")
    // empty + NULL text: all signals 0, passes (thresholds are ≤)
    val empty = TextAnalysis.gopherRepetition(
      spark.createDataFrame(Seq((9L, ""), (10L, null.asInstanceOf[String])))
        .toDF("doc_id", "text")).collect()
    empty.foreach { r =>
      (1 to 11).foreach(i => assert(r.getDouble(i) == 0.0, s"col $i of $r"))
      assert(r.getAs[Boolean]("passes_repetition"))
    }
  }

  test("c4 filter: line retention and document verdicts rule by rule") {
    val toy = spark.createDataFrame(Seq(
      (1L, "This line is properly terminated.\nshort one.\nno terminal punct here\nEnable javascript to continue.\nAnother good full sentence!\nIs this a question?"),
      (2L, "Contains lorem ipsum filler text.\nSecond good line here.\nThird good line stands.\nFourth line is also fine."),
      (3L, "Some code snippet { int x = 0; }\nA normal sentence follows here.\nAnd another one right after.\nPlus one more for the count."),
      (4L, "Only one good sentence here.\nrest has no punctuation at all")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(toy, minWordsPerLine = 3, minSentences = 3)
      .orderBy("doc_id").collect()
    // doc 1: drops the 2-word line, the unterminated line, the javascript
    // line; keeps 3 → passes everything
    assert(out(0).getAs[String]("text_filtered") ==
      "This line is properly terminated.\nAnother good full sentence!\nIs this a question?")
    assert(out(0).getAs[Long]("n_lines_kept") == 3L &&
      out(0).getAs[Long]("n_lines_dropped") == 3L)
    assert(out(0).getAs[Boolean]("passes_c4"))
    // doc 2: lines all fine, but lorem ipsum kills the document
    assert(out(1).getAs[Long]("n_lines_kept") == 4L)
    assert(!out(1).getAs[Boolean]("rule_no_lorem") && !out(1).getAs[Boolean]("passes_c4"))
    // doc 3: curly brace kills it even though retained lines are fine
    assert(!out(2).getAs[Boolean]("rule_no_brace") && !out(2).getAs[Boolean]("passes_c4"))
    assert(out(2).getAs[Boolean]("rule_no_lorem"))
    // doc 4: clean rules but only 1 retained sentence < 3
    assert(out(3).getAs[Long]("n_sentences") == 1L)
    assert(!out(3).getAs[Boolean]("rule_sentences") && !out(3).getAs[Boolean]("passes_c4"))
  }

  test("line dedup removes corpus-frequent lines, keeps order, audits empties") {
    val toy = spark.createDataFrame(Seq(
      (1L, "keep me one\nCOPYRIGHT FOOTER\nunique tail"),
      (2L, "COPYRIGHT FOOTER\nsecond doc body"),
      (3L, "third doc body\nCOPYRIGHT FOOTER"),
      (4L, "COPYRIGHT FOOTER"),            // reduced to nothing — stays, empty
      (5L, "untouched document"))).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(toy, minDf = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "keep me one\nunique tail", 2L, 1L)))
    assert(out(1) == ((2L, "second doc body", 1L, 1L)))
    assert(out(2) == ((3L, "third doc body", 1L, 1L)))
    assert(out(3) == ((4L, "", 0L, 1L)), "fully-boilerplate doc must stay, empty")
    assert(out(4) == ((5L, "untouched document", 1L, 0L)))

    // petabyte knob: hashed 8-byte line keys reproduce the exact-string
    // result here (collisions are the only divergence mode)
    val lined = docs.withColumn("text", regexp_replace(col("text"), " (the|a) ", "\n"))
    val exact = TextAnalysis.lineDedup(lined, minDf = 3)
    val hashed = TextAnalysis.lineDedup(lined, minDf = 3, hashKeys = true)
    assert(exact.exceptAll(hashed).isEmpty && hashed.exceptAll(exact).isEmpty,
      "hashKeys path must reproduce exact-string line dedup")
    assert(exact.agg(sum("n_lines_removed")).head().getLong(0) > 0,
      "fixture should contain corpus-frequent lines")
  }

  test("unigram LM score matches a hand-computed toy corpus") {
    val toy = spark.createDataFrame(Seq(
      (1L, "a a b"), (2L, "a c"))).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(toy).orderBy("doc_id").collect()
    // corpus: a=3, b=1, c=1, N=5
    val nll1 = -(2 * math.log(3.0 / 5) + math.log(1.0 / 5)) / 3
    val nll2 = -(math.log(3.0 / 5) + math.log(1.0 / 5)) / 2
    assert(out(0).getLong(1) == 3L && out(1).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - nll1) < 1e-6, s"doc1 nll ${out(0).getDouble(2)} vs $nll1")
    assert(math.abs(out(1).getDouble(2) - nll2) < 1e-6, s"doc2 nll ${out(1).getDouble(2)} vs $nll2")
    assert(math.abs(out(0).getDouble(3) - math.exp(out(0).getDouble(2))) < 1e-3)
    // rare-token soup scores worse than common-token text on the real corpus
    val real = TextAnalysis.unigramLogProb(docs)
    assert(real.count() > 0 && real.where(col("avg_nll").isNull).count() == 0)
  }

  test("corpus bloom artifact: one build serves many batches, identical to per-call builds") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch1 = docs.where(col("doc_id") % 4 === 1)
    val batch2 = docs.where(col("doc_id") % 4 === 3)
    val artifact = graft.ops.Dedup.buildCorpusBloom(corpus, fpp = 0.05)
    for (batch <- Seq(batch1, batch2)) {
      val reused = graft.ops.Dedup.bloomDedup(batch, artifact)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val perCall = graft.ops.Dedup.bloomDedupAgainstCorpus(batch, corpus, fpp = 0.05)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(reused == perCall, "reused artifact diverges from per-call build")
    }
    // the artifact really is corpus-membership: a doc IN the corpus dies
    val known = graft.ops.Dedup.bloomDedup(corpus.limit(5), artifact)
    assert(known.count() == 0, "known corpus docs must not survive")
  }

  test("streaming corpus dedup with a prebuilt bloom guard equals the plain anti-join") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val incoming = docs.where(col("doc_id") % 3 === 0)
    val art = graft.ops.Dedup.buildCorpusBloom(corpus, fpp = 0.05)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = ids(graft.streaming.Streams.dedupAgainstCorpus(incoming, corpus))
    val guarded = ids(graft.streaming.Streams.dedupAgainstCorpus(
      incoming, corpus, bloom = Some(art)))
    assert(guarded == plain, "bloom guard must not change the output")
  }

  test("funnel strictOrder=false admits same-timestamp step bursts in ladder order") {
    import spark.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val events = Seq(
      // user 3: view and click stamped with ONE clock value (batched tracker)
      (3L, ts(1000), "view"), (3L, ts(1000), "click"),
      // user 6: the whole ladder at one instant
      (6L, ts(2000), "view"), (6L, ts(2000), "click"), (6L, ts(2000), "purchase"),
      // user 1: normal strictly-ordered ladder — unaffected by the knob
      (1L, ts(1000), "view"), (1L, ts(2000), "click"), (1L, ts(3000), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val steps = Seq("view", "click", "purchase")
    val strict = graft.ops.Funnel.funnel(events, steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(strict == Map(1L -> 3, 3L -> 1, 6L -> 1), s"strict: $strict")
    val lax = graft.ops.Funnel.funnel(events, steps, strictOrder = false)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lax == Map(1L -> 3, 3L -> 2, 6L -> 3), s"lax: $lax")
  }

  test("corpusOverlap emitZeros surfaces disjoint pairs with jaccard 0") {
    import spark.implicits._
    val strata = Seq(
      (1L, "common words here", "a"), (2L, "common words here too", "b"),
      (3L, "utterly disjoint gibberish tokens", "c")
    ).toDF("doc_id", "text", "source")
    val dflt = graft.ops.Dedup.corpusOverlap(strata, n = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!dflt.contains(("a", "c")) && !dflt.contains(("b", "c")),
      "disjoint pairs must be absent by default")
    val zeros = graft.ops.Dedup.corpusOverlap(strata, n = 2, emitZeros = true)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getDouble(5))).toMap
    assert(zeros.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")), zeros.toString)
    assert(zeros(("a", "c")) == (0L, 0.0) && zeros(("b", "c")) == (0L, 0.0))
    assert(zeros(("a", "b"))._1 > 0, "overlapping pair keeps its real intersection")
  }

  test("scoped budget/bucket variants leave no cached partitions behind") {
    import spark.implicits._
    def cachedCount() = spark.sparkContext.getPersistentRDDs.size
    val scored = (1L to 200L).map(i => (i, 200.0 - i, 10L))
      .toDF("doc_id", "quality_score", "n_words")
    val before = cachedCount()
    val n = graft.ops.Sampling.selectByBudgetScoped(scored, tokenBudget = 500)(_.count())
    assert(n == 50, s"budget selection wrong: $n")
    assert(cachedCount() == before,
      s"selectByBudgetScoped leaked a persist: $before -> ${cachedCount()}")
    // a local (uncached) corpus: the shared `docs` fixture registers its own
    // cache on first action, which would masquerade as a leak here
    val corpus = (1L to 120L).map(i =>
      (i, s"some words ${"common " * (i % 7).toInt} token$i text", if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
    val rows = TextAnalysis.ccnetBucketsScoped(corpus, buckets = 8)(_.count())
    assert(rows > 0)
    assert(cachedCount() == before,
      s"ccnetBucketsScoped leaked a persist: $before -> ${cachedCount()}")
  }

  test("banded hamming join equals brute force for text simhash and media phash") {
    import spark.implicits._
    // text signatures over the corpus: banded join vs all-pairs bit_count
    val sig = Dedup.simhash(docs)
    val got = Dedup.hammingPairs(sig, maxHamming = 7, bands = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = sig.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture should contain simhash-close pairs")
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")

    // media signatures: region-local byte edits stay within a few flips,
    // unrelated payloads do not — and the join is exact against brute force
    val base = Array.tabulate(600)(i => ((i * 37) % 251).toByte)
    def edited(region: Int): Array[Byte] = {
      val c = base.clone()
      (region * 10 until region * 10 + 10).foreach(j => c(j) = 0); c
    }
    val media = Seq(
      (1L, base), (2L, edited(3)), (3L, edited(48)),
      (4L, Array.tabulate(600)(i => ((i * 101 + 13) % 249).toByte)))
      .toDF("media_id", "content")
    val ph = Multimodal.perceptualHash(media)
    val phashes = ph.collect().map(r => (r.getLong(0), r.getLong(1)))
    val mGot = Dedup.hammingPairs(ph, maxHamming = 8, bands = 9,
        idCol = "media_id", sigCol = "phash")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mBrute = (for {
      (a, sa) <- phashes; (b, sb) <- phashes
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (a, b)).toSet
    assert(mGot == mBrute)
    assert(mGot.contains((1L, 2L)) && mGot.contains((1L, 3L)),
      s"region-edited variants must be phash-near: $mGot")
    assert(!mGot.exists { case (x, y) => x == 4L || y == 4L },
      "an unrelated payload must not pair")
  }

  test("signature index: save + frozen-geometry append == fresh banding; mismatches fail fast") {
    import graft.materialize.SessionCatalogWarehouse
    val sig = Dedup.simhash(docs)
    Seq("sig_idx_t").foreach(t => SessionCatalogWarehouse.dropAny(spark, t))
    // 90% built + 10% appended, then banding over the LOADED index must
    // equal fresh hammingPairs over the same signatures (band keys depend
    // only on the frozen geometry)
    Dedup.saveSignatureIndex(spark, sig.where(col("doc_id") % 10 =!= 3),
      "sig_idx_t", maxHamming = 7, bands = 8)
    Dedup.appendToSignatureIndex(spark, sig.where(col("doc_id") % 10 === 3),
      "sig_idx_t")
    val idx = Dedup.loadSignatureIndex(spark, "sig_idx_t")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(keyed(Dedup.hammingPairsIndexed(idx, maxHamming = 7, bands = 8)) ==
      keyed(Dedup.hammingPairs(sig, maxHamming = 7, bands = 8)),
      "banding over the loaded index must equal fresh signatures")
    // a query under a DIFFERENT geometry would silently lose the pigeonhole
    // recall guarantee — the stamp fails it fast instead
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairsIndexed(idx, maxHamming = 3, bands = 5)
    }
    assert(e.getMessage.contains("DIFFERENT banding geometry"))
    // appending to a stampless table is refused (no geometry to freeze)
    spark.range(3).selectExpr("id AS bk", "id", "id AS sig")
      .write.mode("overwrite").saveAsTable("sig_idx_nostamp")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendToSignatureIndex(spark, sig, "sig_idx_nostamp")
    }
    assert(e2.getMessage.contains("no banding-geometry stamp"))
    // … and so is QUERYING one (r16 silently accepted it under any
    // geometry, losing pigeonhole recall with no signal — ADVICE r16)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.hammingPairsIndexed(spark.table("sig_idx_nostamp"), maxHamming = 3)
    }
    assert(e3.getMessage.contains("no banding-geometry stamp"))
    Seq("sig_idx_t", "sig_idx_nostamp").foreach(t =>
      SessionCatalogWarehouse.dropAny(spark, t))
  }

  test("DCT pHash: re-encoded and pixel-edited images stay near; the region hash misses them") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    // a structured scene (gradient + rectangle): well-separated low-freq
    // coefficients, so near-dup perturbations flip few median-split bits
    def scene(): BufferedImage = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = (x * 3 + y * 2) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val g = img.createGraphics()
      try { g.setColor(java.awt.Color.WHITE); g.fillRect(8, 8, 24, 16) }
      finally g.dispose()
      img
    }
    val base = scene()
    val edited = scene()
    locally {
      val g = edited.createGraphics()
      try { g.setColor(java.awt.Color.BLACK); g.fillRect(52, 52, 6, 6) }
      finally g.dispose()
    }
    val unrelated = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val v = if (((x / 4) + (y / 4)) % 2 == 0) 255 else 0
      unrelated.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val media = Seq(
      (1L, enc(base, "png")), (2L, enc(base, "jpg")), (3L, enc(edited, "png")),
      (4L, enc(unrelated, "png"))).toDF("media_id", "content")
    val dct = Multimodal.perceptualHashDct(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(m: Map[Long, Long], a: Long, b: Long) =
      java.lang.Long.bitCount(m(a) ^ m(b))
    // true near-duplicates: a JPEG re-encode (identical pixels, alien byte
    // stream) and a small pixel edit
    assert(ham(dct, 1, 2) <= 10, s"jpeg re-encode drifted: ${ham(dct, 1, 2)} bits")
    assert(ham(dct, 1, 3) <= 10, s"pixel edit drifted: ${ham(dct, 1, 3)} bits")
    assert(ham(dct, 1, 4) > 16, s"unrelated image too close: ${ham(dct, 1, 4)} bits")
    // the byte-region signature structurally misses the re-encode pair at
    // the production threshold — the gap the DCT hash exists to close
    val reg = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(reg, 1, 2) > 8,
      s"byte-region hash unexpectedly survived the re-encode: ${ham(reg, 1, 2)}")
    // the banded join over DCT signatures is exact against brute force and
    // surfaces both true pairs
    val got = Dedup.hammingPairs(Multimodal.perceptualHashDct(media),
        maxHamming = 10, bands = 11, sigBits = 63,
        idCol = "media_id", sigCol = "phash")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, sa) <- dct.toSeq; (b, sb) <- dct.toSeq
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 10
    } yield (a, b)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)), s"pairs: $got")
  }

  test("IVF quantizer is a build-once artifact: prebuilt centroids reproduce inline training") {
    val centroids = Similarity.ivfCentroids(emb, nlist = 16)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // same corpus: passing the artifact equals training inline
    assert(key(Similarity.ivfTopK(emb, 5, nlist = 16, nprobe = 4,
        prebuilt = Some(centroids))) ==
      key(Similarity.ivfTopK(emb, 5, nlist = 16, nprobe = 4)))
    assert(key(Similarity.clusterAssign(emb, nlist = 16, prebuilt = Some(centroids))) ==
      key(Similarity.clusterAssign(emb, nlist = 16)))
    // a NEW batch assigns against the corpus-trained quantizer without
    // retraining — the per-batch production path; boundaries stay pinned
    val batch = emb.where(col("vec_id") % 7 === 0)
    val viaArtifact = Similarity.clusterAssign(batch, nlist = 16,
      prebuilt = Some(centroids))
    val fromCorpus = Similarity.clusterAssign(emb, nlist = 16,
      prebuilt = Some(centroids)).where(col("vec_id") % 7 === 0)
    assert(key(viaArtifact) == key(fromCorpus),
      "batch assignment must equal the corpus assignment restricted to the batch")
  }

  test("z-order layout prunes parquet row groups on every clustered dimension") {
    import graft.ops.ZOrder
    // deterministic 2-d scatter, dims INDEPENDENT (distinct hash salts —
    // arithmetic mixes like id·p % m leave the dims correlated through id,
    // which gifts the single-column layout accidental locality)
    val data = spark.range(200000).select(
      pmod(hash(col("id"), lit("x")), lit(1000)).as("x"),
      pmod(hash(col("id"), lit("y")), lit(1000)).as("y"),
      col("id").as("payload"))
    val root = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    ZOrder.cluster(data, Seq("x", "y"), numFiles = 64)
      .write.mode("overwrite").parquet(s"$root/z")
    // the single-column alternative: tight stats on x, none on y
    data.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$root/linear")

    def scannedRows(path: String, filter: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(path).where(filter)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val box = col("x").between(100, 120) && col("y").between(500, 520)
    val yOnly = col("y").between(500, 520)
    val total = 200000L

    // same answers, different bytes touched
    assert(spark.read.parquet(s"$root/z").where(box).count() ==
      spark.read.parquet(s"$root/linear").where(box).count())
    val zBox = scannedRows(s"$root/z", box)
    assert(zBox < total * 3 / 10, s"z-order box scan read $zBox of $total")
    // a y-only filter: the x-sorted layout has no y locality and reads
    // ~everything; the z-curve keeps y locality too
    val zY = scannedRows(s"$root/z", yOnly)
    val linY = scannedRows(s"$root/linear", yOnly)
    assert(linY > total * 8 / 10, s"x-linear layout should read ~all: $linY")
    assert(zY < linY / 2, s"z-order should halve the y-scan at least: $zY vs $linY")

    // DATE dimensions route through epoch days (ANSI forbids a direct
    // date→double cast) — the z-value must still spread
    val withDate = data.withColumn("d",
      date_add(lit("2024-01-01").cast("date"), col("x")))
    assert(ZOrder.zValue(withDate, Seq("d", "y"))
      .select("__z").distinct().count() > 100)

    // a non-orderable dimension fails FAST — a string would cast to
    // all-NULL doubles, funnel every row to bucket 0, and silently
    // contribute nothing to the curve
    val err = intercept[IllegalArgumentException](
      ZOrder.zValue(withDate.withColumn("s", col("x").cast("string")),
        Seq("s", "y")))
    assert(err.getMessage.contains("numeric, date, or timestamp"), err.getMessage)
  }

  test("heavy hitters: exact equality with naive counting on skewed data") {
    import spark.implicits._
    // Zipf-ish: item i appears ceil(3000/i) times, i = 1..300 — a long tail
    // around sharp heads, spread over many partitions so the per-partition
    // Misra–Gries summaries genuinely merge
    val rows = (1 to 300).flatMap(i => Seq.fill(math.ceil(3000.0 / i).toInt)(s"item$i"))
    val df = scala.util.Random.shuffle(rows).toDF("item").repartition(16)
    def naive(phi: Double): Set[(String, Long)] = {
      val n = rows.size
      val min = math.ceil(phi * n).toLong
      df.groupBy("item").count().where($"count" >= min)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    for (phi <- Seq(0.05, 0.01, 0.002)) {
      val got = graft.ops.Sketches.heavyHitters(df, "item", phi)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == naive(phi), s"phi=$phi mismatch")
      assert(got.nonEmpty, s"phi=$phi degenerate fixture")
    }
    // nulls are excluded from both the stream and the total
    val withNulls = df.unionByName(Seq.fill(500)(
      scala.Option.empty[String]).toDF("item"))
    assert(graft.ops.Sketches.heavyHitters(withNulls, "item", 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet == naive(0.05))
    // empty input yields an empty result, not a crash
    assert(graft.ops.Sketches.heavyHitters(
      df.where($"item" === "nope"), "item", 0.1).count() == 0)
  }

  test("quality z-score: zero-mean per language, NULL for spread-free languages") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and then the dog came in", "en"),
      (2L, "completely different words appear here without repeats", "en"),
      (3L, "a a a a a a a a a a a a", "en"),
      (4L, "lone document in its own language bucket", "xx"),
      (5L, "same text twice", "yy"),
      (6L, "same text twice", "yy") // sigma = 0: z must be NULL, not a blow-up
    ).toDF("doc_id", "text", "lang")
    val z = graft.ops.TextAnalysis.qualityZScore(docs).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(4)) null else r.getDouble(4))).toList
    val byId = z.map(r => r._1 -> r._3).toMap
    assert(byId(4L) == null, "single-doc language has no sample stddev")
    assert(byId(5L) == null && byId(6L) == null, "zero-spread language has no scale")
    val en = z.filter(_._2 == "en").map(_._3.asInstanceOf[Double])
    assert(en.size == 3 && math.abs(en.sum) < 1e-4, s"en z-scores sum to ~0: $en")
    // standardized: sample stddev of the z's is 1
    val mu = en.sum / en.size
    val sd = math.sqrt(en.map(x => (x - mu) * (x - mu)).sum / (en.size - 1))
    assert(math.abs(sd - 1.0) < 1e-4, s"en z stddev ~1: $sd")
  }

  test("KMV sketch: exact below k, bounded error above, merge = direct union sketch") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => ("big", s"u$i")) ++
      (1 to 7).map(i => ("small", s"v$i")) ++
      (1 to 5).map(i => ("small", s"v$i")) // duplicates must not inflate
    val df = rows.toDF("grp", "v")
    val sk = graft.ops.Sketches.kmvDistinct(df, "grp", "v", k = 64).collect()
      .map(r => (Option(r.getString(0)).getOrElse("__total"), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3))).toList
    val byGrp = sk.map(r => (r._1, r._4) -> r).toMap
    // exact branch: 7 < k distinct values, flagged exact
    assert(byGrp(("small", false)) == ("small", 7L, true, false))
    // estimator branch: 2000 distinct, k=64 → estimate within 25% rel. error
    val (_, est, exact, _) = byGrp(("big", false))
    assert(!exact && math.abs(est - 2000.0) / 2000.0 < 0.25, s"KMV est: $est")
    // merge: the rollup row equals sketching the ungrouped value set directly
    val direct = graft.ops.Sketches.kmvDistinct(
      df.withColumn("grp", lit("all")), "grp", "v", k = 64)
      .where(!col("is_rollup")).collect().head.getLong(1)
    assert(byGrp(("__total", true))._2 == direct,
      s"rollup ${byGrp(("__total", true))._2} != direct sketch $direct")
  }

  test("histogram quantiles: within one bucket of exact, q edges, clamped tails") {
    import spark.implicits._
    val rows = (1 to 400).map(i => ("a", i.toDouble)) ++
      (1 to 50).map(i => ("b", i * 100.0)) // values past the grid clamp
    val df = rows.toDF("grp", "v")
    val width = 5.0
    val got = graft.ops.Sketches.histogramQuantiles(df, "grp", "v",
        bucketWidth = width, nBuckets = 100, qs = Seq(0.0, 0.5, 0.95, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    // group a: uniform 1..400, entirely inside the grid — every estimate
    // within one bucket width of the exact rank value
    def exact(q: Double) = math.max(1.0, math.ceil(q * 400))
    Seq(0.5, 0.95).foreach { q =>
      val e = got(("a", q))
      assert(math.abs(e - exact(q)) <= width, s"q=$q: $e vs ${exact(q)}")
    }
    // q = 0 → the first occupied bucket's lower edge; q = 1 inside the grid
    assert(got(("a", 0.0)) == 0.0)
    assert(math.abs(got(("a", 1.0)) - 400.0) <= width)
    // group b: values up to 5000 clamp into the last bucket (495..500) —
    // tail quantiles saturate at the grid edge instead of escaping it
    assert(got(("b", 1.0)) <= 100 * width)
    assert(got(("b", 0.95)) <= 100 * width)
  }

  test("JS divergence: zero on identical, ln 2 on disjoint, bounded, zero-safe") {
    import spark.implicits._
    val a = Seq("x", "x", "y").toDF("c")
    val b = Seq("x", "x", "y").toDF("c")
    val same = graft.diff.DataDiff.jsDivergence(a, b, "c")
      .agg(sum("jsd_contrib")).head.getDouble(0)
    assert(math.abs(same) < 1e-9, s"identical snapshots drift: $same")
    val disj = graft.diff.DataDiff.jsDivergence(
      Seq("p", "q").toDF("c"), Seq("r", "s").toDF("c"), "c")
      .agg(sum("jsd_contrib")).head.getDouble(0)
    assert(math.abs(disj - math.log(2)) < 1e-5, s"disjoint != ln 2: $disj")
    // one-sided value: finite contribution, no NaN from 0·ln(0)
    val one = graft.diff.DataDiff.jsDivergence(
      Seq("x", "y").toDF("c"), Seq("x").toDF("c"), "c").collect()
    assert(one.forall(r => !r.getDouble(3).isNaN))
    val total = one.map(_.getDouble(3)).sum
    assert(total > 0 && total <= math.log(2) + 1e-9, s"JSD out of range: $total")
    // EMPTY snapshot: its shares surface as NULL (not NaN — ADVICE r13) and
    // the surviving side's contributions stay finite
    val empty = graft.diff.DataDiff.jsDivergence(
      Seq("x", "y").toDF("c"), Seq.empty[String].toDF("c"), "c").collect()
    assert(empty.nonEmpty && empty.forall(r => r.isNullAt(2)),
      "empty snapshot must yield NULL shares")
    assert(empty.forall(r => !r.getDouble(3).isNaN && r.getDouble(3) >= 0))
  }

  test("quality CDF: aggregated form equals the per-row window; max 1 per language") {
    import org.apache.spark.sql.expressions.Window
    val cdf = graft.ops.TextAnalysis.qualityCdf(docs)
    // reference: cume_dist over raw doc rows (the form we refuse to run at
    // scale) must agree exactly with the bounded-frame computation
    val ref = graft.ops.TextAnalysis.qualityScore(docs)
      .where(col("quality_score").isNotNull)
      .select(col("doc_id"), col("lang"), col("quality_score"),
        round(cume_dist().over(
          Window.partitionBy("lang").orderBy("quality_score")), 6)
          .as("quality_cdf"))
    assert(cdf.exceptAll(ref).isEmpty && ref.exceptAll(cdf).isEmpty,
      "bounded-frame CDF != row-window cume_dist")
    val maxes = cdf.groupBy("lang").agg(max("quality_cdf").as("m")).collect()
    assert(maxes.nonEmpty && maxes.forall(_.getDouble(1) == 1.0))
  }

  test("knn join: bipartite exact, queries never retrieved, grid equals broadcast truth") {
    val q = emb.where(col("label") === 0)
    val c = emb.where(col("label") =!= 0)
    val got = Similarity.knnJoin(q, c, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got.nonEmpty)
    // no query id may appear as a retrieved corpus id (disjoint sides here)
    val qIds = q.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (_, b, _) => !qIds.contains(b) })
    // brute-force truth via the broadcast bipartite argmax generalized in
    // SQL-on-Spark: rank all cross pairs
    import org.apache.spark.sql.expressions.Window
    val pairs = Similarity.cosinePairs(emb)
    val directed = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("cos")))
    val lab = emb.select(col("vec_id"), col("label"))
    val truth = directed
      .join(lab.withColumnRenamed("vec_id", "a").withColumnRenamed("label", "la"), Seq("a"))
      .join(lab.withColumnRenamed("vec_id", "b").withColumnRenamed("label", "lb"), Seq("b"))
      .where(col("la") === 0 && col("lb") =!= 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy("a").orderBy(col("cos").desc, col("b"))))
      .where(col("rank") <= 3)
      .select("a", "b", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == truth, s"knn join diverges: ${got.diff(truth).take(3)} / ${truth.diff(got).take(3)}")
  }

  test("IVF-routed knn join: full probe equals exact, nprobe=8 reaches 0.8 recall") {
    val q = emb.where(col("label") === 0)
    val c = emb.where(col("label") =!= 0)
    val exact = Similarity.knnJoin(q, c, k = 5).select("q", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe = nlist: every inverted list is searched, so the routed plan
    // must reproduce the exact bipartite rank (the oracle pin's premise)
    val full = Similarity.knnJoinIvf(q, c, k = 5, nlist = 16, nprobe = 16)
      .select("q", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"full-probe IVF knn != exact: ${full.diff(exact).take(3)} / ${exact.diff(full).take(3)}")
    // half the lists probed: ~nprobe/nlist of the exact compute, high recall
    // (same gate as the self-join ivfTopK spec; this synthetic fixture has
    // weak cluster structure, so quarter-probe recall is tracked only for
    // monotonicity, not gated)
    val half = Similarity.knnJoinIvf(q, c, k = 5, nlist = 16, nprobe = 8)
      .select("q", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect half).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF knn-join recall too low: $recall")
    val quarter = Similarity.knnJoinIvf(q, c, k = 5, nlist = 16, nprobe = 4)
      .select("q", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallQ = (exact intersect quarter).size.toDouble / exact.size
    assert(recallQ <= recall + 1e-9 && recallQ > 0,
      s"more probes must not lose recall: nprobe4=$recallQ nprobe8=$recall")
    // a pinned prebuilt quantizer reproduces the same routed result
    val cents = Similarity.ivfCentroids(c, nlist = 16)
    val pinned = Similarity.knnJoinIvf(q, c, k = 5, nlist = 16, nprobe = 16,
      prebuilt = Some(cents)).select("q", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pinned == exact)
  }

  test("IVF-PQ-routed knn join: deterministic, artifact-reusable, recall above chance") {
    import graft.ops.{Pq, Similarity}
    val q = emb.where(col("label") === 0)
    val c = emb.where(col("label") =!= 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("q", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(Pq.knnJoinIvfPq(q, c, topK = 5, nlist = 16, nprobe = 8, m = 16, k = 16))
    // deterministic end to end (both quantizers train deterministically)
    assert(got == pairs(Pq.knnJoinIvfPq(q, c, topK = 5, nlist = 16, nprobe = 8, m = 16, k = 16)))
    // the build-once corpus artifacts reproduce inline training
    val cents = Similarity.ivfCentroids(c, nlist = 16)
    assert(got == pairs(Pq.knnJoinIvfPq(q, c, topK = 5, nlist = 16, nprobe = 8,
      m = 16, k = 16, prebuiltCentroids = Some(cents))))
    // recall against the exact BIPARTITE L2 neighborhood
    def vecsOf(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("CAST(vec_id AS BIGINT)", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qv = vecsOf(q)
    val cv = vecsOf(c)
    def l2(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, r) => (p.toDouble - r) * (p.toDouble - r) }.sum
    val exact = qv.flatMap { case (qid, v) =>
      cv.map { case (bid, bv) => (bid, l2(v, bv)) }
        .sortBy(t => (t._2, t._1)).take(5).map(t => (qid, t._1))
    }.toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    val chance = 5.0 / cv.length
    assert(recall >= 3 * chance, s"IVF-PQ knn-join recall $recall not above chance $chance")
    // the deployment shape: shortlist@20 over half the lists recovers most
    // of the true top-5 (rerank-exact on the shortlist is then cheap)
    val short = pairs(Pq.knnJoinIvfPq(q, c, topK = 20, nlist = 16, nprobe = 8, m = 16, k = 16))
    val shortRecall = (exact intersect short).size.toDouble / exact.size
    assert(shortRecall >= 0.5, s"IVF-PQ knn-join shortlist recall too low: $shortRecall")
  }

  test("streaming ANN over the persisted index equals the fresh-assignment route") {
    // batch replay (watermark no-ops on a batch frame): the prebuiltIndex
    // branch must route and score identically to the per-invocation corpus
    // assignment — the reason the index can replace the stream-start
    // assignment map without a semantic wobble. Also covers appendToIndex:
    // the index is built 90/10 via the incremental path.
    val corpus = emb.where(col("label") =!= 0)
    val queries = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val cents = graft.ops.Similarity.ivfCentroids(corpus, nlist = 8)
    graft.ops.Similarity.saveIndex(spark, corpus.where(col("vec_id") % 10 =!= 7),
      cents, "spec_ann_stream_idx")
    graft.ops.Similarity.appendToIndex(spark, corpus.where(col("vec_id") % 10 === 7),
      cents, "spec_ann_stream_idx")
    def rows(idx: Option[org.apache.spark.sql.DataFrame], bcBytes: Long) =
      graft.streaming.Streams.streamingAnnTopK(queries, corpus, cents,
          k = 3, nprobe = 8, prebuiltIndex = idx, maxBroadcastBytes = bcBytes)
        .select("q", "b", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // all four combos — {fresh assignment, persisted index} × {broadcast
    // serving tier, join spill tier} — must emit the same rows
    val fresh = rows(scala.None, 0L)
    assert(fresh.nonEmpty)
    for ((idx, bc) <- Seq(
        (scala.None, 256L << 20),
        (Some(graft.ops.Similarity.loadIndex(spark, "spec_ann_stream_idx")), 0L),
        (Some(graft.ops.Similarity.loadIndex(spark, "spec_ann_stream_idx")), 256L << 20))) {
      val got = rows(idx, bc)
      assert(got == fresh, s"route (idx=${idx.nonEmpty}, bcBytes=$bc) diverges: " +
        s"${got.diff(fresh).take(3)} / ${fresh.diff(got).take(3)}")
    }
    graft.materialize.SessionCatalogWarehouse.dropAny(spark, "spec_ann_stream_idx")
  }

  test("index artifacts refuse a mismatched quantizer (the silent-recall-loss trap)") {
    import graft.ops.{Pq, Similarity}
    val corpus = emb.where(col("label") =!= 0)
    val cents8 = Similarity.ivfCentroids(corpus, nlist = 8)
    val cents4 = Similarity.ivfCentroids(corpus, nlist = 4) // same corpus, different geometry
    Similarity.saveIndex(spark, corpus, cents8, "spec_stamp_idx")
    val idx = Similarity.loadIndex(spark, "spec_stamp_idx")
    // search, append, and streaming all fail fast on the wrong quantizer
    val e1 = intercept[IllegalArgumentException](
      Similarity.knnJoinIvfIndexed(emb.where(col("label") === 0), idx, cents4, k = 3))
    assert(e1.getMessage.contains("DIFFERENT quantizer"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.appendToIndex(spark, corpus.limit(5), cents4, "spec_stamp_idx"))
    assert(e2.getMessage.contains("DIFFERENT quantizer"))
    val qs = emb.where(col("label") === 0)
      .select(col("vec_id"), col("embedding"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
    val e3 = intercept[IllegalArgumentException](
      graft.streaming.Streams.streamingAnnTopK(qs, corpus, cents4,
        k = 3, nprobe = 4, prebuiltIndex = Some(idx)))
    assert(e3.getMessage.contains("DIFFERENT quantizer"))
    // the matched quantizer passes all three
    assert(Similarity.knnJoinIvfIndexed(
      emb.where(col("label") === 0), idx, cents8, k = 3).count() > 0)
    // the PQ-code index carries a stamp over BOTH tiers
    val books = Pq.pqTrain(corpus, m = 16, k = 16)
    Pq.savePqIndex(spark, corpus, cents8, books, "spec_stamp_pqidx")
    val pqIdx = Pq.loadPqIndex(spark, "spec_stamp_pqidx")
    val e4 = intercept[IllegalArgumentException](
      Pq.knnJoinIvfPqIndexed(emb.where(col("label") === 0), pqIdx, cents4, books, topK = 3))
    assert(e4.getMessage.contains("DIFFERENT quantizer"))
    assert(Pq.knnJoinIvfPqIndexed(
      emb.where(col("label") === 0), pqIdx, cents8, books, topK = 3).count() > 0)
    Seq("spec_stamp_idx", "spec_stamp_pqidx").foreach(t =>
      graft.materialize.SessionCatalogWarehouse.dropAny(spark, t))
  }

  test("two-stage retrieval: rerank reports exact cosines and lifts agreement with the exact join") {
    import graft.ops.Pq
    val q = emb.where(col("label") === 0)
    val c = emb.where(col("label") =!= 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("q", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Pq.knnJoinIvfPqRerank(q, c, topK = 5, shortlist = 20,
      nlist = 16, nprobe = 8, m = 16, k = 16)
    val got = pairs(rr)
    // deterministic end to end
    assert(got == pairs(Pq.knnJoinIvfPqRerank(q, c, topK = 5, shortlist = 20,
      nlist = 16, nprobe = 8, m = 16, k = 16)))
    // reported similarities are EXACT cosines: every surviving (q, b) must
    // carry the same rounded cosine the exact knn join reports for it
    val exactCos = graft.ops.Similarity.knnJoin(q, c, k = 1000)
      .select("q", "b", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.select("q", "b", "cos").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exactCos(key) == r.getDouble(2),
        s"rerank cosine diverges from exact at $key")
    }
    // the rerank's cosine ordering agrees with the exact join's better than
    // (or as well as) the raw ADC ordering does — the point of stage 2
    val exactTop = graft.ops.Similarity.knnJoin(q, c, k = 5)
    val exact5 = pairs(exactTop.withColumnRenamed("q", "q"))
    val adc5 = pairs(Pq.knnJoinIvfPq(q, c, topK = 5, nlist = 16, nprobe = 8, m = 16, k = 16))
    val recallRerank = (exact5 intersect got).size.toDouble / exact5.size
    val recallAdc = (exact5 intersect adc5).size.toDouble / exact5.size
    assert(recallRerank >= recallAdc - 1e-9,
      s"rerank must not lose agreement: rerank=$recallRerank adc=$recallAdc")
  }

  test("hard negatives: never same-label, equals label-filtered brute force") {
    val hn = Similarity.hardNegatives(emb, k = 3).collect()
    assert(hn.nonEmpty && hn.forall(r => r.getLong(1) != r.getLong(3)),
      "a hard negative must carry a different label")
    // brute force: full labeled rank from the all-pairs operator
    import org.apache.spark.sql.expressions.Window
    val lab = emb.select(col("vec_id"), col("label").cast("long").as("l"))
    val pairs = Similarity.cosinePairs(emb)
    val directed = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("cos")))
    val brute = directed
      .join(lab.withColumnRenamed("vec_id", "a").withColumnRenamed("l", "la"), Seq("a"))
      .join(lab.withColumnRenamed("vec_id", "b").withColumnRenamed("l", "lb"), Seq("b"))
      .where(col("la") =!= col("lb"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("a").orderBy(col("cos").desc, col("b"))))
      .where(col("rank") <= 3)
      .select("a", "b", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = hn.map(r => (r.getLong(0), r.getLong(2), r.getInt(5))).toSet
    assert(got == brute, s"hard negatives diverge from brute force: ${got.diff(brute).take(3)} / ${brute.diff(got).take(3)}")
  }
}
