package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the object-agg sort-fallback valve stays at the SESSION DEFAULT
      // (VERDICT r16 #3): graft.core.HeapAgg raises it per query, exactly
      // around the plans that aggregate with a k-bounded heap — an
      // unbounded collect_list in a future registry key degrades to sort
      // instead of OOMing the shared bench JVM.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-wh-${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM + parquet footers so the first timed query isn't charged
    // for session bring-up; per-table try — a broken table must not zero the
    // whole bench (r8: the warm-up crash sat outside any try and voided the
    // round before a single query ran)
    // structured failure capture (r8 advice): a failed round's artifact must
    // name the phase (warmup vs query) and the first error line itself, not
    // leave the root cause to stack-trace archaeology
    def firstLine(e: Throwable): String =
      (e.getClass.getSimpleName + ": " +
        String.valueOf(e.getMessage).takeWhile(_ != '\n')).take(300)
    val warmupErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    try graft.core.Tables.register(spark, sfDir)
    catch { case e: Throwable =>
      warmupErrors("register") = firstLine(e)
      System.err.println(s"[bench] register: $e")
    }
    graft.core.Tables.all.foreach { t =>
      try spark.table(t).count()
      catch { case e: Throwable =>
        warmupErrors(t) = firstLine(e)
        System.err.println(s"[bench] warm-up $t: ${e.getMessage}")
      }
    }
    // min over N runs: a single pass is at the mercy of whatever else the
    // box is doing (the r5 recorded bench was ~2.2× contaminated by machine
    // contention); the min of repeated runs is the standard low-noise
    // estimator for a deterministic workload
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 narrows the run while iterating on one
    // operator; unset = the full registered set (what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.benchQueries
      else SparkEntry.benchQueries.filter { case (k, _) => only(k) }
    // Interleave the N passes ACROSS the query list (pass 1 over every query,
    // then pass 2, ...) rather than back-to-back per query: sustained host
    // contention then inflates every query's pass-k time uniformly, which the
    // per-run sidecar data makes self-evident — back-to-back min-of-N inside
    // one noisy window hides it (the r6 contaminated driver run).
    val names = selected.keys.toSeq.sorted
    val perRun = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]): _*)
    val queryErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    // bounded-heap plans run under the raised fallback threshold, scoped
    // per query: streaming keys whose heap executes inside the builder are
    // pre-listed; batch keys are sniffed from the analyzed plan
    val raisedStreaming = SparkEntry.heapRaisedStreaming
    // ONE raised clone reused for every raised-streaming timing: clones are
    // cheap but not free (session-state copy), and a per-(run, name) clone
    // inside the timed region both folds that setup into the measurement
    // and accumulates dozens of live sessions over a long pass
    lazy val raisedSession = graft.core.HeapAgg.raisedClone(spark)
    def timed(name: String): Unit =
      if (raisedStreaming(name))
        // the heap executes inside the builder (the stream runs in fn), so
        // the whole builder runs on a raised CLONE — the shared session's
        // conf is never touched
        selected(name)(raisedSession, sfDir).count()
      else
        graft.core.HeapAgg.maybeRebound(selected(name)(spark, sfDir)).count()
    for (_ <- 0 until runs; name <- names) {
      val t0 = System.nanoTime()
      val ok =
        try { timed(name); true } catch { case e: Throwable =>
          // a crashed pass's near-zero wall time must NOT enter the min-of-N
          // (it would silently deflate the headline total while the errors
          // map says the query failed) — record the error, skip the timing
          queryErrors.getOrElseUpdate(name, firstLine(e))
          false
        }
      if (ok) perRun(name) += (System.nanoTime() - t0) / 1e9
      // the streaming serving tiers persist corpus-sized static folds for
      // the life of their query; in this shared one-query-after-another
      // JVM the query is DONE here, so release them — by the r16 tail the
      // bench JVM held dozens of dead folds crowding the block manager
      // (VERDICT r16 #4)
      graft.streaming.ServingCache.releaseAll()
    }
    // queries that never succeeded appear only in the errors map
    val results = perRun.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }.toMap
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every pass's time per query, not just the min — contamination shows up
    // as spread in the artifact itself instead of requiring archaeology
    val ts = perRun.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def errObj(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""queries":$qs,"times":$ts,"warmup_errors":${errObj(warmupErrors)},""" +
      s""""errors":${errObj(queryErrors)},"sf":${jq(sfDir)}}"""
    // The driver captures only a tail of stdout, which truncates the
    // per-query map once it outgrows the window — persist the full map as a
    // sidecar so every registered query's timing survives for comparison.
    // The default sidecar path is UNCOMMITTED (gitignored): ten consecutive
    // driver rounds clobbered the committed min-merge record because the
    // bench wrote straight over BENCH_QUERIES.json. The committed record is
    // now only ever written by tools/minmerge_bench.py folding BENCH_LAST
    // runs in (VERDICT r20 #1).
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
    println(line)
    // The full contract line above is ~12 KB for 235 keys and the driver
    // keeps only the last 2000 chars of stdout — every PERF_r*.json back to
    // r01 shows `parsed: null` because the line starts outside the window.
    // Emit a FINAL short line with the totals (no per-query map) so the
    // captured tail always ends with parseable JSON (VERDICT r20 #2).
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""n_queries":${results.size},"n_errors":${queryErrors.size},""" +
      s""""n_warmup_errors":${warmupErrors.size},"sidecar":${jq(sidecar)},""" +
      s""""sf":${jq(sfDir)}}""")
    spark.stop()
  }
}
