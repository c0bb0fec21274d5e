package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Window}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Barrier
import scala.jdk.CollectionConverters._

/** r20 optimization-round pins: the redundant-corpus-pass fixes are plan
  * properties, not output properties (every output is oracle-pinned
  * elsewhere), so a refactor could silently regress them. Each test pins
  * the structural fact the measured win came from — and the lazy form
  * ([[graft.ops.Barrier.lazily]]) the fixes deliberately kept. Pins match
  * on plan NODE CLASSES, not plan-string substrings (ADVICE r20: substring
  * checks are brittle across Spark upgrades and incidental matches).
  */
class OptimizedLineageSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs = {
    graft.core.Tables.register(spark, sfDir)
    spark.table("documents")
  }

  private def generates(p: LogicalPlan) = p.collect { case g: Generate => g }.size
  private def windows(p: LogicalPlan) = p.collect { case w: Window => w }.size
  private def rddLeaves(p: LogicalPlan) = p.collect { case l: LogicalRDD => l }.size

  test("DSIR bucketLogProbs tokenizes its corpus ONCE — totals ride a window") {
    val p = graft.ops.Dsir.bucketLogProbs(docs).queryExecution.optimizedPlan
    // the pre-r20 form re-derived the scalar total from a SECOND gram
    // lineage (crossJoin(broadcast(counts.agg))) — two Generate explodes
    assert(generates(p) == 1,
      s"expected exactly one gram explode, got ${generates(p)}:\n${p.toString.take(1200)}")
    assert(windows(p) >= 1,
      s"the bucket total must be a window over the counts frame:\n${p.toString.take(1200)}")
  }

  test("incremental dedup materializes its gram streams; lazy escape intact") {
    val batch = docs.where(col("doc_id") % 10 === 3)
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
    val eager = graft.ops.Dedup.jaccardAgainst(batch, corpus, n = 3,
      threshold = 0.5, maxDocFreq = 20).queryExecution.optimizedPlan
    // every gram-stream consumer must read the checkpointed RDD, never
    // re-shingle the corpus (the measured 4.80 -> 1.47 s fix)
    assert(rddLeaves(eager) >= 1,
      s"the pinned form must plan from checkpointed gram streams:\n${eager.toString.take(1200)}")
    val lazyP = Barrier.lazily(graft.ops.Dedup.jaccardAgainst(batch, corpus, n = 3,
      threshold = 0.5, maxDocFreq = 20)).queryExecution.optimizedPlan
    assert(rddLeaves(lazyP) == 0,
      "Barrier.lazily must keep the plan fully lazy (plan inspection)")
  }

  test("tfIdfCosine consumers all read ONE checkpointed kept frame") {
    val p = graft.ops.TextAnalysis.tfIdfCosine(docs, topTerms = 10,
      threshold = 0.3, maxKeptDf = 50).queryExecution.optimizedPlan
    // norms + candidate join sides + verify join sides re-ran the whole
    // tfIdf lineage pre-r20 (24 parquet scans in the executed plan):
    // every leaf must be the checkpointed RDD, never the source relation
    val leaves = p.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"every consumer must read the one checkpointed kept frame:\n${p.toString.take(1200)}")
  }

  test("unigramLogProb's lazy form keeps the plan cache-matchable (ccnet persist)") {
    // ccnetBuckets persists the scored slice keyed on the CANONICALIZED
    // plan; a checkpoint's fresh RDD leaf would never match across
    // rebuilds (measured 0.57 -> 2.0 s regression when it did). Pin both
    // halves: the lazy form is plan-stable across rebuilds, the default
    // form checkpoints.
    val a = Barrier.lazily(graft.ops.TextAnalysis.unigramLogProb(docs))
    val b = Barrier.lazily(graft.ops.TextAnalysis.unigramLogProb(docs))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed),
      "two lazy builds must canonicalize equal or ccnet's cache never hits")
    assert(rddLeaves(graft.ops.TextAnalysis.unigramLogProb(docs)
        .queryExecution.optimizedPlan) >= 1,
      "the default form must checkpoint tf (one tokenization pass)")
  }

  private def tree(root: java.nio.file.Path): List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.toList finally walk.close()
  }

  test("Barrier.pin: local without a checkpoint dir, reliable with one, identity under lazily") {
    val df = spark.range(0, 100).toDF("id").where(col("id") % 3 === 0)
    val expected = df.collect().toSeq
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "a suite leaked a checkpoint dir")
    val local = Barrier.pin(df)
    assert(local.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"no dir: pin must be a LogicalRDD leaf:\n${local.queryExecution.analyzed}")
    assert(local.collect().toSeq == expected)
    val dir = java.nio.file.Files.createTempDirectory("graft-barrier-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliable = Barrier.pin(df)
      assert(tree(dir).exists(_.getFileName.toString.startsWith("part-")),
        s"reliable pin must write checkpoint files under $dir")
      assert(reliable.collect().toSeq == expected)
    } finally {
      org.apache.spark.GraftTestHooks.clearCheckpointDir(spark.sparkContext)
      graft.core.Fs.deleteRecursively(dir)
    }
    val lazyP = Barrier.lazily(Barrier.pin(df)).queryExecution.optimizedPlan
    assert(rddLeaves(lazyP) == 0, s"lazily: pin must be the identity:\n$lazyP")
  }

  test("no checkpoint call in src/main outside Barrier.scala (one barrier policy)") {
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val sources = tree(java.nio.file.Paths.get("src/main/scala"))
      .filter(_.toString.endsWith(".scala"))
    assert(sources.exists(_.endsWith("graft/ops/Barrier.scala")))
    val offenders = for {
      f <- sources if !f.endsWith("graft/ops/Barrier.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"route through Barrier.pin:\n${offenders.mkString("\n")}")
  }
}
