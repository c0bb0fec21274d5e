package graftbench

import java.time.LocalDateTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.exec.{Lint, PipelineRunner, RunState, Scheduler}
import graft.model.{AssetParser, AssetType}

/** One timed call: `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, iteration: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark-side observations of one traced iteration, gathered by a
  * `SparkListener` and a `QueryExecutionListener` and keyed by job group
  * (the runner sets the group to the instance id). */
final class Observer extends SparkListener with QueryExecutionListener {
  import Observer._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val execGroup = new ConcurrentHashMap[Long, String]()
  val byGroup = new ConcurrentHashMap[String, Agg]()
  val jobs = new AtomicLong
  val catalogEvents = new AtomicLong
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()

  private def agg(g: String): Agg = byGroup.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execGroup.putIfAbsent(x.toLong, group))
    e.stageIds.foreach(s => stageGroup.put(s, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks.incrementAndGet()
    a.runMs.addAndGet(m.executorRunTime)
    a.cpuNs.addAndGet(m.executorCpuTime)
    a.gcMs.addAndGet(m.jvmGCTime)
    a.inBytes.addAndGet(m.inputMetrics.bytesRead)
    a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    a.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    a.outRows.addAndGet(m.outputMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case c: ExternalCatalogEvent if !c.getClass.getSimpleName.endsWith("PreEvent") =>
      catalogEvents.incrementAndGet()
    case _ => ()
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** write = a table write, catalog = any other command, sink = a v2 write
    * (the noop sink), query = everything else. */
  private def kindOf(p: SparkPlan): String = p match {
    case _: DataWritingCommandExec => "write"
    case c: ExecutedCommandExec =>
      val n = c.cmd.getClass.getSimpleName
      if (n.contains("AsSelect") || n.contains("InsertInto")) "write" else "catalog"
    case _ if p.getClass.getSimpleName.matches("(OverwriteByExpression|AppendData|OverwritePartitionsDynamic)Exec") => "sink"
    case _ => "query"
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    def phase(k: String) = qe.tracker.phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    val files = Plans.collect(plan) {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    val scanned = Plans.collectWithSubqueries(plan) {
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
    }.flatten
    queries.add(Query(Option(execGroup.get(qe.id)).getOrElse(""), kindOf(plan), durationNs / 1e9,
      phase("analysis"), phase("optimization"), phase("planning"), files, scanned))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Observer {
  final class Agg {
    val tasks, runMs, cpuNs, gcMs, inBytes, shuffleBytes, spillBytes, outBytes, outRows = new AtomicLong
  }
  final case class Query(group: String, kind: String, seconds: Double, analysis: Double,
                         optimization: Double, planning: Double, files: Long, scanned: Seq[String])
}

/** Drives one pipeline run through graft's public layer entry points with a
  * span around each call, and turns spans and observations into the
  * per-layer metrics. Nothing inside graft is instrumented. */
final class Tracer(spark: SparkSession, w: Workload) {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong

  def span[T](name: String, parent: Long, iteration: Int)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id) finally spans.add(Span(id, name, t0, System.nanoTime(), parent, iteration))
  }

  private def date(args: Seq[String], flag: String, dflt: LocalDateTime): LocalDateTime = {
    val i = args.indexOf(flag)
    if (i < 0) dflt else LocalDateTime.parse(args(i + 1) + "T00:00:00")
  }

  /** One traced iteration; returns its wall seconds and its metrics. */
  def iteration(i: Int): (Double, Map[String, Double]) = {
    val dir = w.projectDir.toString
    val args = w.runArgs(i)
    val obs = new Observer
    spark.sparkContext.addSparkListener(obs)
    spark.listenerManager.register(obs)
    val env = graft.config.Config.load(dir).environment(None)
    val start = date(args, "--start-date", LocalDateTime.of(2024, 1, 1, 0, 0))
    val end = date(args, "--end-date", LocalDateTime.of(2024, 1, 2, 0, 0))
    // render and dry-run lint are extra calls, timed outside the iteration
    // clock so that a traced iteration does the work of an untraced one
    val pre = AssetParser.loadPipeline(dir)
    val preRunner = new PipelineRunner(spark, baseDir = dir, startDate = start, endDate = end, environment = env)
    var renderKb = 0.0
    val sqlAssets = pre.assets.filter(a => a.assetType == AssetType.SparkSql && a.content.trim.nonEmpty)
    sqlAssets.foreach { a =>
      renderKb += span("render", -1, i)(_ => preRunner.renderAsset(pre, a)).length / 1024.0
    }
    span("exec.lint.dry_run", -1, i) { _ =>
      val p = AssetParser.loadPipeline(dir)
      Lint.validate(p, spark = Some(spark), macroPrelude = graft.render.Template.loadMacros(dir))
    }

    val t0 = System.nanoTime()
    var instances = Seq.empty[Scheduler.Instance]
    var deps = Map.empty[String, Set[String]]
    var results = Map.empty[String, Scheduler.Result]
    span("iteration", -1, i) { root =>
      val pipeline = span("model.parse", root, i)(_ => AssetParser.loadPipeline(dir))
      span("exec.lint.validate", root, i)(_ => Lint.validate(pipeline, Some(env)))
      val runner = new PipelineRunner(spark, baseDir = dir, startDate = start, endDate = end, environment = env)
      val (is, ds) = Scheduler.expand(pipeline)
      instances = is; deps = ds
      results = Scheduler.run(pipeline,
        inst => span(s"instance:${inst.id}", root, i)(_ => runner.executeInstance(pipeline)(inst)),
        concurrency = math.max(1, pipeline.concurrency),
        retries = pipeline.retries,
        connectionLimits = env.connections.collect { case (n, c) if c.concurrency > 0 => n -> c.concurrency },
        onTimeout = inst => spark.sparkContext.cancelJobGroup(inst.id))
      RunState.save(dir, pipeline.name, results)
      w.extraOps(spark, name => call => span(name, root, i)(_ => call))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbench.Bus.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(obs)
    spark.listenerManager.unregister(obs)
    (wall, metrics(i, wall, obs, instances, deps, results, sqlAssets.size, renderKb))
  }

  private def sumSpans(i: Int, p: Span => Boolean): Double =
    spans.asScala.filter(s => s.iteration == i && p(s)).map(_.seconds).sum

  private def metrics(i: Int, wall: Double, obs: Observer, instances: Seq[Scheduler.Instance],
                      deps: Map[String, Set[String]], results: Map[String, Scheduler.Result],
                      renders: Int, renderKb: Double): Map[String, Double] = {
    val mine = spans.asScala.filter(_.iteration == i).toSeq
    val root = mine.find(_.name == "iteration").get
    val inst = mine.filter(_.name.startsWith("instance:")).map(s => s.name.stripPrefix("instance:") -> s).toMap
    val byId = instances.map(x => x.id -> x).toMap
    def isCheck(id: String) = byId.get(id).exists(_.typ != Scheduler.Main)
    def isIngest(id: String) = byId.get(id).exists(x => x.typ == Scheduler.Main && x.asset.assetType == AssetType.Ingest)
    // queue wait: start minus the latest end among the instance's deps
    val queueWait = inst.map { case (id, s) =>
      val ready = deps.getOrElse(id, Set.empty).flatMap(inst.get).map(_.end).foldLeft(root.start)(math.max)
      math.max(0L, s.start - ready) / 1e9
    }.sum
    val memo = mutable.Map[String, Double]()
    def path(id: String): Double = memo.getOrElseUpdate(id,
      inst.get(id).map(_.seconds).getOrElse(0.0) +
        deps.getOrElse(id, Set.empty).map(path).foldLeft(0.0)(math.max))
    val groups = obs.byGroup.asScala.toMap
    def groupSum(p: String => Boolean)(f: Observer.Agg => AtomicLong): Long =
      groups.collect { case (g, a) if p(g) => f(a).get }.sum
    val all = (_: String) => true
    val qs = obs.queries.asScala.toSeq
    val mb = 1024.0 * 1024.0
    val bytesRead = groupSum(all)(_.inBytes)
    val distinctInput = qs.flatMap(_.scanned).distinct.map { f =>
      val p = java.nio.file.Paths.get(new java.net.URI(f))
      if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
    }.sum
    val finalBytes = w.targetTables.flatMap(t => backingDir(t)).map(d => Workload.dirBytes(d)).sum
    val warehouseBytes = Workload.dirBytes(w.work.resolve("warehouse"))
    val bytesWritten = groupSum(all)(_.outBytes)
    val generations = spark.catalog.listTables("default").collect().count(_.name.contains("__gen_"))
    val storage = spark.sparkContext.getRDDStorageInfo
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val checkIds = results.keys.filter(isCheck).toSet
    val ingestIds = results.keys.filter(isIngest).toSet
    Map(
      "model.parse_s" -> sumSpans(i, _.name == "model.parse"),
      "model.assets" -> instances.map(_.asset.name).distinct.size.toDouble,
      "exec.lint.validate_s" -> sumSpans(i, _.name == "exec.lint.validate"),
      "exec.lint.dry_run_s" -> sumSpans(i, _.name == "exec.lint.dry_run"),
      "render.busy_s" -> sumSpans(i, _.name == "render"),
      "render.calls" -> renders.toDouble,
      "render.out_kb" -> renderKb,
      "exec.scheduler.instances" -> results.size.toDouble,
      "exec.scheduler.busy_s" -> inst.values.map(_.seconds).sum,
      "exec.scheduler.queue_wait_s" -> queueWait,
      "exec.scheduler.critical_path_s" -> inst.keys.map(path).foldLeft(0.0)(math.max),
      "exec.scheduler.parallelism" -> ratio(inst.values.map(_.seconds).sum, wall),
      "exec.scheduler.retries" -> results.values.map(r => math.max(0, r.attempts - 1)).sum.toDouble,
      "exec.scheduler.failed" -> results.values.count(r =>
        r.status == Scheduler.Failed || r.status == Scheduler.UpstreamFailed).toDouble,
      "catalyst.queries" -> qs.size.toDouble,
      "catalyst.analysis_s" -> qs.map(_.analysis).sum,
      "catalyst.optimization_s" -> qs.map(_.optimization).sum,
      "catalyst.planning_s" -> qs.map(_.planning).sum,
      "spark.jobs" -> obs.jobs.get.toDouble,
      "spark.tasks" -> groupSum(all)(_.tasks).toDouble,
      "spark.task_s" -> groupSum(all)(_.runMs) / 1000.0,
      "spark.cpu_s" -> groupSum(all)(_.cpuNs) / 1e9,
      "spark.gc_s" -> groupSum(all)(_.gcMs) / 1000.0,
      "spark.input_mb" -> bytesRead / mb,
      "spark.shuffle_mb" -> groupSum(all)(_.shuffleBytes) / mb,
      "spark.spill_mb" -> groupSum(all)(_.spillBytes) / mb,
      "spark.scan_amplification" -> ratio(bytesRead, distinctInput),
      "materialize.write_s" -> qs.filter(_.kind == "write").map(_.seconds).sum,
      "materialize.rows_written" -> groupSum(all)(_.outRows).toDouble,
      "materialize.mb_written" -> bytesWritten / mb,
      "materialize.files_written" -> qs.map(_.files).sum.toDouble,
      "materialize.write_amplification" -> ratio(bytesWritten, finalBytes),
      "materialize.warehouse.catalog_ops" -> obs.catalogEvents.get.toDouble,
      "materialize.warehouse.catalog_s" -> qs.filter(_.kind == "catalog").map(_.seconds).sum,
      "materialize.warehouse.live_generations" -> generations.toDouble,
      "materialize.warehouse.space_amplification" -> ratio(warehouseBytes, finalBytes),
      "checks.instances" -> checkIds.size.toDouble,
      "checks.busy_s" -> inst.collect { case (id, s) if checkIds(id) => s.seconds }.sum,
      "checks.scans" -> obs.execGroup.values.asScala.count(checkIds).toDouble,
      "checks.input_mb" -> groupSum(checkIds)(_.inBytes) / mb,
      "sources.ingest_s" -> inst.collect { case (id, s) if ingestIds(id) => s.seconds }.sum,
      "sources.rows_in" -> groupSum(ingestIds)(_.outRows).toDouble,
      "ops.busy_s" -> sumSpans(i, _.name.startsWith("ops.")),
      "ops.pinned_mb" -> storage.map(s => s.memSize + s.diskSize).sum / mb,
      "ops.pinned_blocks" -> storage.map(_.numCachedPartitions.toLong).sum.toDouble)
  }

  /** Directory of the generation table behind a target view (or of the
    * table itself). */
  private def backingDir(t: String): Option[java.nio.file.Path] = {
    val cat = spark.sessionState.catalog
    val name = graft.materialize.SessionCatalogWarehouse.backingTable(spark, t).getOrElse(t)
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name.split('.').last)
    if (!cat.tableExists(ident)) None
    else {
      val meta = cat.getTableMetadata(ident)
      if (meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW) None
      else Some(java.nio.file.Paths.get(meta.location))
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name.replace("\"", "")}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"iteration":${s.iteration}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Self time per span name: its duration minus the time covered by its
    * direct children (concurrent children count once). */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val covered = all.groupBy(_.parent).map { case (p, cs) =>
      val merged = cs.map(c => (c.start, c.end)).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
        case (acc, iv) => iv :: acc
      }
      p -> merged.map { case (s, e) => (e - s) / 1e9 }.sum
    }
    all.groupBy(s => if (s.name.startsWith("instance:")) "instance" else s.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - covered.getOrElse(s.id, 0.0)).sum
    }
  }
}
