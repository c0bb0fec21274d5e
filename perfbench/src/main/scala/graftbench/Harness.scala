package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}
import graft.exec.RunState

/** Benchmark process for one workload. `perfbench/run.py` builds it, runs it
  * and turns the raw figures it writes to `<work>/result.json` into metrics.
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   gen --workload W --seed N --work DIR --out DIR     (project files only)
  *   gate --workload W --seed N --work DIR --plant TABLE (the gate's self-test)
  */
object Harness {

  final case class Opts(cmd: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String, plant: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(args.headOption.getOrElse("run"), kv("workload"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("work", ".bench_work"), kv.getOrElse("out", ""), kv.getOrElse("plant", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val w = Workload(o.workload, o.seed, Paths.get(o.work).toAbsolutePath, cores)
    o.cmd match {
      case "gen" => Gen.writeProject(Paths.get(o.out), w.project.copy(files = w.project.files ++ w.seedFiles))
      case "run" => new Run(w, o, cores).apply()
      case "gate" => new Run(w, o, cores).gate(o.plant)
      case other => throw new IllegalArgumentException(s"unknown command $other")
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

final class Run(w: Workload, o: Harness.Opts, cores: Int) {
  import Harness._
  // warm set-ups per run, before the timed loop; setup_s is their median
  private val Setups = 3
  private val dir = w.projectDir.toString
  private val warehouse = w.work.resolve("warehouse")
  private var spark: SparkSession = _

  private val setupTimes, runTimes, tracedTimes, calibration = ArrayBuffer[Double]()
  private val mismatches = ArrayBuffer[String]()
  // where the process's wall time goes, for sizing the workloads
  private val phases = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) += seconds(t0)
  }
  private val layers = ArrayBuffer[Map[String, Double]]()
  private var attempted, failedInstances = 0L
  private var lastRc = 0
  // rows landed and instances succeeded by each timed iteration
  private val timedRows, timedInstances = ArrayBuffer[Long]()

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // an iteration generates more than the default 100 cached classes;
      // with the default, every iteration compiles them again and the JIT
      // warms them up again, so times drift down over the whole run
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", w.work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One iteration through the public CLI core, without tracing. */
  private def plainIteration(i: Int): Double = {
    val t0 = System.nanoTime()
    lastRc = graft.Main.run(w.runArgs(i), Some(spark))
    w.extraOps(spark, _ => call => call)
    seconds(t0)
  }

  /** One set-up in a new session: session bring-up, input registration,
    * project generation and the warm-up iteration. Returns its seconds
    * without the input generation and window preparation. */
  private def setUp(first: Boolean): Double = {
    val t0 = System.nanoTime()
    var excluded = 0.0
    spark = session()
    deleteTree(warehouse); deleteTree(w.projectDir)
    if (first) { val e = System.nanoTime(); phase("inputs")(w.genInputs(spark)); excluded += seconds(e) }
    w.register(spark)
    Gen.writeProject(w.projectDir, w.project)
    w.reset()
    val e = System.nanoTime(); w.prepare(spark, 0); excluded += seconds(e)
    plainIteration(0)
    seconds(t0) - excluded
  }

  /** One run of the calibration job, a fixed Spark-only scan and aggregate
    * into the noop sink, in a session of its own so that no SQL setting a
    * graft run leaves behind reaches it. It explains noise, and gates and
    * corrects nothing: its time also depends on the heap a run leaves. */
  private def calibrate(session: SparkSession): Double = phase("calibration") {
    val t0 = System.nanoTime()
    session.range(0, 2000000L, 1, cores).selectExpr("id % 1000 AS k", "id * 7 AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    seconds(t0)
  }

  /** Untimed bookkeeping after an iteration: instance statuses and, when
    * `check` is set, the correctness gate and the rows landed. */
  private def afterIteration(i: Int, timed: Boolean, check: Boolean = true): Unit = {
    val pipelineName = w.project.files.collectFirst { case ("pipeline.yml", b) => b.linesIterator.next().stripPrefix("name: ") }.get
    val st = RunState.load(dir, pipelineName)
    RunState.clear(dir, pipelineName)
    val ok = st.values.count(_ == "Succeeded").toLong
    val bad = st.values.count(s => s == "Failed" || s == "UpstreamFailed").toLong
    attempted += st.size; failedInstances += bad
    // a run that failed without failing an instance never got to run them
    if (st.isEmpty || (lastRc != 0 && bad == 0)) mismatches += s"iteration $i: graft run exited $lastRc"
    lastRc = 0
    if (check) try {
      mismatches ++= w.verify(spark, i).map(m => s"iteration $i: $m")
      if (timed) { timedRows += w.landed; timedInstances += ok }
    } catch {
      case scala.util.control.NonFatal(e) => mismatches += s"iteration $i: outputs unreadable: ${e.getMessage}"
    }
  }

  /** Self-test of the correctness gate: one set-up, checked as it is, then
    * checked again with `table`'s expected fingerprint corrupted. Prints
    * both lists of mismatches as one JSON line. */
  def gate(table: String): Unit = {
    Files.createDirectories(w.work.resolve("tmp"))
    setUp(first = true)
    val clean = w.verify(spark, 0)
    w.planted = Some(table)
    val planted = w.verify(spark, 0)
    spark.stop()
    val j = new Json
    j.obj { j.strs("clean", clean); j.strs("planted", planted) }
    println(j)
  }

  def apply(): Unit = {
    Files.createDirectories(w.work.resolve("tmp"))
    // the cold set-up brings the JVM up to speed and is not timed; a traced
    // pass checks it, as it has no warm set-ups
    phase("setup.cold")(setUp(first = true))
    phase("setup.check")(afterIteration(0, timed = false, check = o.trace))
    // set-ups in a warm JVM, each from a new session; the last is checked.
    // Each runs a whole iteration, so they also warm the JVM up for the
    // timed loop, which starts from the state the last one left
    if (!o.trace) for (rep <- 1 to Setups) {
      spark.stop()
      setupTimes += phase("setup")(setUp(first = false))
      phase("setup.check")(afterIteration(0, timed = false, check = rep == Setups))
    }
    val calibrationSession = spark.newSession()
    for (_ <- 0 until 3) calibration += calibrate(calibrationSession)
    // one untimed iteration (the first in a session is slower than the
    // rest), then a fixed number of timed ones; a traced pass adds a traced
    // iteration before and after them, so that drift over the run cancels
    // out of trace.overhead_frac
    val timed = Seq.fill(Workload.iterations(o.seconds))("timed")
    val traced = if (o.trace) Seq("traced") else Nil
    val tracer = new Tracer(spark, w)
    val loopStart = System.nanoTime()
    (Seq("warm") ++ traced ++ timed ++ traced).zipWithIndex.foreach { case (kind, j) =>
      val i = j + 1
      phase("loop.prepare")(w.prepare(spark, i))
      kind match {
        case "traced" => val (t, m) = tracer.iteration(i); tracedTimes += t; layers += m
        case "timed" => runTimes += plainIteration(i)
        case _ => phase("loop.warm")(plainIteration(i))
      }
      phase("loop.check")(afterIteration(i, timed = kind == "timed"))
    }
    phases("loop") = seconds(loopStart)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    if (o.trace) tracer.writeSpans(w.work.resolve("spans.jsonl"))
    spark.stop()

    val layerNames = layers.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    val j = new Json
    j.obj {
      j.field("workload", o.workload); j.field("seed", o.seed); j.field("trace", o.trace)
      j.field("cores", cores.toLong)
      j.nums("setup_s", setupTimes.toSeq); j.nums("run_s", runTimes.toSeq)
      j.nums("traced_s", tracedTimes.toSeq)
      j.nums("calibration_s", calibration.toSeq)
      j.field("attempted", attempted); j.field("failed_instances", failedInstances)
      j.nums("timed_rows", timedRows.map(_.toDouble).toSeq)
      j.nums("timed_instances", timedInstances.map(_.toDouble).toSeq)
      j.field("retained_heap_mb", heapMb)
      j.strs("mismatches", mismatches.toSeq)
      j.key("phases"); j.obj { phases.foreach { case (n, v) => j.field(n, v) } }
      j.key("layers"); j.obj { layerNames.foreach(n => j.field(n, median(layers.map(_(n)).toSeq))) }
      j.key("self_s"); j.obj { tracer.selfTimes.toSeq.sorted.foreach { case (n, v) => j.field(n, v) } }
    }
    Files.write(w.work.resolve("result.json"), j.toString.getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result file. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  def raw(s: String): Unit = { sep(); sb.append(s) }
  def key(k: String): Unit = { sep(); sb.append(Json.quote(k)).append(':'); first = true }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr[T](xs: Seq[T])(f: T => Unit): Unit = { sep(); sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false }
  def field(k: String, v: String): Unit = { key(k); raw(Json.quote(v)) }
  def field(k: String, v: Long): Unit = { key(k); raw(v.toString) }
  def field(k: String, v: Double): Unit = { key(k); raw(if (v.isNaN || v.isInfinite) "null" else v.toString) }
  def field(k: String, v: Boolean): Unit = { key(k); raw(v.toString) }
  def nums(k: String, xs: Seq[Double]): Unit = { key(k); arr(xs)(x => raw(x.toString)) }
  def strs(k: String, xs: Seq[String]): Unit = { key(k); arr(xs)(x => raw(Json.quote(x))) }
  override def toString: String = sb.toString
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\r' => b.append("\\r"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
