package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r21 optimization-round pins — same rationale as [[OptimizedLineageSpec]]:
  * each measured win this round is a plan property; outputs are oracle-pinned
  * elsewhere. Node-class matching where practical (ADVICE r20). */
class OptimizedLineageR21Spec extends AnyFunSuite {
  import SparkTestSession._

  private def docs = {
    graft.core.Tables.register(spark, sfDir)
    spark.table("documents")
  }
  private def generates(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.collect { case g: Generate => g }.size
  private def rddLeaves(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.collect { case l: LogicalRDD => l }.size

  test("DSIR scores keeps the measured THREE-pass lazy shape (r21 probe rejected 3→2)") {
    // the per-(doc, bucket) checkpoint derivation measured SLOWER (see
    // Dsir.scores doc); pin the kept shape so a refactor doesn't silently
    // reintroduce either the checkpoint or a fourth pass
    val p = graft.ops.Dsir.scores(docs, docs.where(col("lang") === "en"))
      .queryExecution.optimizedPlan
    assert(generates(p) == 3 && rddLeaves(p) == 0,
      s"expected 3 lazy gram explodes, got ${generates(p)} generates / " +
        s"${rddLeaves(p)} RDD leaves")
  }

  test("keep-best packed argmax plans HashAggregate; struct fallback stays") {
    val packed = graft.ops.Dedup.exactKeepBest(docs, packedArgmax = true)
      .queryExecution.executedPlan.toString
    assert(packed.contains("HashAggregate") && !packed.contains("SortAggregate"),
      s"packed argmax must hash-aggregate:\n${packed.take(1000)}")
    val struct = graft.ops.Dedup.exactKeepBest(docs)
      .queryExecution.executedPlan.toString
    assert(struct.contains("SortAggregate"),
      "struct ordering key has no mutable buffer — SortAggregate expected " +
        "(if Spark ever hash-aggregates struct min/max, the packed path is obsolete)")
  }

  test("keep-best packed argmax selects identical rows, ties included") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text", 5L), (2L, "same text", 5L), (3L, "same text", 7L),
      (4L, "other", 1L), (5L, "other", 1L),
      (6L, "third", 0L)).toDF("doc_id", "text", "n_chars")
    val a = graft.ops.Dedup.exactKeepBest(df).orderBy("content_hash")
      .collect().map(_.toSeq).toSeq
    val b = graft.ops.Dedup.exactKeepBest(df, packedArgmax = true)
      .orderBy("content_hash").collect().map(_.toSeq).toSeq
    assert(a == b, s"packed argmax diverged:\n$a\n$b")
    val ca = graft.ops.Dedup.clustersKeepBest(df,
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b")).orderBy("cluster_id")
      .collect().map(_.toSeq).toSeq
    val cb = graft.ops.Dedup.clustersKeepBest(df,
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), packedArgmax = true)
      .orderBy("cluster_id").collect().map(_.toSeq).toSeq
    assert(ca == cb, s"packed cluster argmax diverged:\n$ca\n$cb")
  }

  test("packed argmax out-of-bounds data raises instead of mis-selecting") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    def raises(df: org.apache.spark.sql.DataFrame, expected: String): Unit = {
      val e = intercept[Exception](
        graft.ops.Dedup.exactKeepBest(df, packedArgmax = true).collect())
      assert(messages(e).exists(_.contains(expected)), s"expected '$expected', got: $e")
    }
    raises(Seq((1L, "t", -3L)).toDF("doc_id", "text", "n_chars"),
      "packedArgmax bounds violated")
    // a fractional quality would truncate (5.7 and 5.2 tie) — rejected by type
    raises(Seq((1L, "t", 5.7), (2L, "t", 5.2)).toDF("doc_id", "text", "n_chars"),
      "packedArgmax needs an integral quality column")
    // a NULL part must still produce the bounds text, not a null message
    raises(Seq((1L, "t", None: Option[Long])).toDF("doc_id", "text", "n_chars"),
      "packedArgmax bounds violated: quality=null id=1")
  }

  test("tfIdf family lazy escapes stay cache-matchable; defaults checkpoint") {
    import graft.ops.Barrier
    val a = Barrier.lazily(graft.ops.TextAnalysis.tfIdf(docs))
    val b = Barrier.lazily(graft.ops.TextAnalysis.tfIdf(docs))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed),
      "lazy tfIdf must canonicalize stable (plan-keyed caches)")
    val c = graft.ops.TextAnalysis.bigramLogProb(docs)
    val d = graft.ops.TextAnalysis.bigramLogProb(docs)
    assert(c.queryExecution.analyzed.sameResult(d.queryExecution.analyzed),
      "lazy bigramLogProb must canonicalize stable")
    // bigram has no barrier at all (measured slower pinned — see its doc)
    assert(rddLeaves(graft.ops.TextAnalysis.bigramLogProb(docs)
        .queryExecution.optimizedPlan) == 0,
      "bigramLogProb must stay lazy (measured faster at every record)")
    assert(rddLeaves(Barrier.lazily(graft.ops.TextAnalysis.tfIdfCosine(docs, topTerms = 3,
        threshold = 0.3, maxKeptDf = 20))
        .queryExecution.optimizedPlan) == 0,
      "lazy tfIdfCosine must stay fully lazy")
  }
}
