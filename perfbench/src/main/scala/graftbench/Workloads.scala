package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload: its inputs, its generated project, what one
  * iteration runs, and how each iteration's outputs are checked. */
abstract class Workload(val name: String, val seed: Long, val work: Path, val cores: Int) {
  val projectDir: Path = work.resolve("project")
  val inputDir: Path = work.resolve("inputs")
  protected var inputs: Map[String, String] = Map.empty

  def project: Gen.Project
  /** Writes the seed's input tables (once per run, before set-up). */
  def genInputs(spark: SparkSession): Unit
  /** Registers the inputs in a fresh session's catalog. */
  def register(spark: SparkSession): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS src")
    inputs.toSeq.sorted.foreach { case (t, path) =>
      spark.sql(s"CREATE TABLE src.$t USING parquet LOCATION '$path'")
    }
  }
  /** Resets state kept across iterations (a new set-up starts over). */
  def reset(): Unit = ()
  /** Untimed preparation before iteration `i` (0 is the warm-up). */
  def prepare(spark: SparkSession, i: Int): Unit = ()
  /** `graft run` arguments for iteration `i`. */
  def runArgs(i: Int): Seq[String] = Seq("run", projectDir.toString)
  /** Work an iteration runs after `graft run` through public `graft.ops`
    * entry points; `timed(name)(call)` wraps each call. */
  def extraOps(spark: SparkSession, timed: String => (=> Unit) => Unit): Unit = ()
  /** Checks outputs after iteration `i`; returns mismatch messages. */
  def verify(spark: SparkSession, i: Int): Seq[String]
  /** Seed-derived files `gen` writes beside the project (first window's
    * inputs), so a project can be inspected and linted without a run. */
  def seedFiles: Seq[(String, String)] = Nil
  /** Rows the iteration checked by the last `verify` landed in the targets. */
  var landed: Long = 0L
  /** A target whose expected fingerprint `gate` corrupts (the gate's
    * self-test); None in a benchmark run. */
  var planted: Option[String] = None
  protected def gate(actual: Map[String, Verify.Fp], expected: Map[String, Verify.Fp]): Seq[String] =
    Verify.diff(actual, planted.fold(expected)(t => expected.updated(t, expected(t).copy(hash = expected(t).hash + 1))))
  /** Target tables of the project. */
  def targetTables: Seq[String] = project.tables
}

object Workload {
  val Names: Seq[String] = Seq("incr_daily", "curation")

  def apply(name: String, seed: Long, work: Path, cores: Int): Workload = name match {
    case "incr_daily" => new IncrDaily(seed, work, cores)
    case "curation"   => new Curation(seed, work, cores)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Timed iterations of a run for `--seconds`, at about 2.5 s an iteration
    * on a 4-core host and at least 3 so that `run_s` is a true median. The
    * count never depends on how fast the program is, so every commit is
    * measured on the same work. */
  def iterations(seconds: Double): Int = math.max(3, math.round(seconds / 2.5).toInt)
}

/** Windowed incremental runs against persistent targets. Window `i` lands
  * a batch of new events dated day `i` plus restatements of some of day
  * `i-1`'s events, and a customer snapshot where some tiers changed. The
  * batches are generated on the driver, so the expected state of every
  * strategy is computed there in closed form, outside Spark and graft. */
final class IncrDaily(seed: Long, work: Path, cores: Int) extends Workload("incr_daily", seed, work, cores) {
  val batchRows = 3000
  val restated = 500
  val customers = 1500
  private val day0 = LocalDate.of(2024, 1, 1)
  private def day(i: Int): LocalDate = day0.plusDays(i.toLong)

  lazy val project: Gen.Project = Gen.incrDaily(cores)
  def genInputs(spark: SparkSession): Unit = ()
  override def register(spark: SparkSession): Unit = ()

  private def mix(a: Long, b: Long, stream: Int): Int =
    scala.util.hashing.MurmurHash3.productHash((a, b, seed, stream)) & Int.MaxValue
  private val tiers = Seq("bronze", "silver", "gold", "platinum")

  /** An event as landed by window `b`. */
  private final class Ev(val b: Int, val id: Long) {
    def cust: Long = mix(id, 0, 50) % customers + 1L
    def date: LocalDate = day(((id - 1) / batchRows).toInt)
    def amount: BigDecimal = BigDecimal(mix(id, b, 51) % 100000 + 100, 2)
    def canon: String = s"$amount|$cust|$date|$id" // amount, cust_id, event_date, event_id
  }
  private def batch(i: Int): Seq[Ev] =
    (0L until batchRows).map(j => new Ev(i, i.toLong * batchRows + j + 1)) ++
      (if (i == 0) Nil else (0L until restated).map(j => new Ev(i, (i - 1L) * batchRows + j * (batchRows / restated) + 1)))

  // customer (tier, updated_at) per window
  private var history = Vector.empty[Array[(String, String)]]
  override def reset(): Unit = { history = Vector.empty; before = Map.empty }
  private def snapshot(i: Int): Array[(String, String)] =
    if (i == 0) Array.tabulate(customers)(c => (tiers(mix(c, 0, 60) % 4), s"${day0.minusDays(1)} 00:00:00"))
    else history(i - 1).zipWithIndex.map { case ((t, ts), c) =>
      if (mix(c, i, 61) % 8 != 0) (t, ts)
      else (tiers((tiers.indexOf(t) + 1 + mix(c, i, 62) % 3) % 4), s"${day(i)} 00:00:00")
    }

  /** Window `i`'s batch and customer snapshot as the CSV files the ingest
    * assets read (pure function of the seed and the history). */
  private def batchFiles(i: Int, snap: Array[(String, String)]): Seq[(String, String)] = Seq(
    "batches/current.csv" -> batch(i).map(e => s"${e.id},${e.cust},${e.date},${e.amount}")
      .mkString("event_id,cust_id,event_date,amount\n", "\n", "\n"),
    "batches/customers.csv" -> snap.zipWithIndex.map { case ((t, ts), c) => s"${c + 1},$t,$ts" }
      .mkString("cust_id,tier,updated_at\n", "\n", "\n"))

  override def seedFiles: Seq[(String, String)] = batchFiles(0, snapshot(0))

  override def prepare(spark: SparkSession, i: Int): Unit = {
    val snap = snapshot(i)
    history = history :+ snap
    Gen.writeProject(projectDir, Gen.Project(batchFiles(i, snap), Nil))
  }

  override def runArgs(i: Int): Seq[String] =
    Seq("run", projectDir.toString, "--start-date", day(i).toString, "--end-date", day(i).toString)

  /** Closed-form expected state of every target after window `i`, as
    * canonical row texts (columns in name order, see Verify.canonical). */
  private def expected(i: Int): Map[String, Seq[String]] = {
    val all = (0 to i).flatMap(batch)
    val latestForDate = all.groupBy(_.date).map { case (d, es) => d -> es.map(_.b).max }
    val daily = all.filter(e => latestForDate(e.date) == e.b).groupBy(e => (e.date, e.cust)).toSeq.map {
      case ((d, c), es) => s"${es.map(_.amount).sum.setScale(2)}|$c|$d|${es.size}" // amount, cust_id, event_date, n
    }
    val latest = all.groupBy(_.id).values.map(_.maxBy(_.b)).toSeq
    val versions = (0 until customers).map { c =>
      history.map(_(c)).foldLeft(Vector.empty[(String, String)]) { (acc, v) =>
        if (acc.lastOption.exists(_._1 == v._1)) acc else acc :+ v
      }
    }
    val maxTs = "9999-12-31 00:00:00"
    // _is_current, cust_id, tier
    val byCol = versions.zipWithIndex.flatMap { case (vs, c) =>
      vs.indices.map(k => s"${k == vs.size - 1}|${c + 1}|${vs(k)._1}")
    }
    // _is_current, _valid_from, _valid_until, cust_id, tier, updated_at
    val byTime = versions.zipWithIndex.flatMap { case (vs, c) =>
      vs.indices.map { k =>
        val until = if (k == vs.size - 1) maxTs else vs(k + 1)._2
        s"${k == vs.size - 1}|${vs(k)._2}|$until|${c + 1}|${vs(k)._1}|${vs(k)._2}"
      }
    }
    Map(
      "raw_batch" -> batch(i).map(_.canon),
      "raw_cust" -> history(i).zipWithIndex.map { case ((t, ts), c) => s"${c + 1}|$t|$ts" }.toSeq,
      "ev_append" -> all.map(_.canon),
      "ev_daily" -> daily,
      "ev_latest" -> latest.map(_.canon),
      "ev_window" -> all.filter(e => e.date == day(e.b)).map(_.canon),
      "cust_hist_col" -> byCol,
      "cust_hist_time" -> byTime)
  }

  // expected state after the previous window, for the rows a window landed
  private var before = Map.empty[String, Seq[String]]

  def verify(spark: SparkSession, i: Int): Seq[String] = {
    val exp = expected(i)
    // landed: rows of the new state that the old state did not hold (as
    // multisets), so a window counts what it wrote, not what has grown
    landed = exp.map { case (t, rs) => rs.diff(before.getOrElse(t, Nil)).size.toLong }.sum
    before = exp
    val cols = Map("cust_hist_col" -> Seq("cust_id", "tier", "_is_current"),
      "cust_hist_time" -> Seq("cust_id", "tier", "updated_at", "_valid_from", "_valid_until", "_is_current"))
    val actual = Verify.fingerprints(exp.keys.toSeq.sorted.map { t =>
      t -> cols.get(t).map(cs => spark.table(t).select(cs.map(col): _*)).getOrElse(spark.table(t))
    })
    gate(actual, exp.map { case (t, rs) => t -> Verify.fingerprint(rs) })
  }
}

/** LLM-data curation: quality gates, dedup/chunk/split macros, an ivfpq
  * index build, then MinHash-LSH near-duplicate clustering called through
  * `graft.ops`. */
final class Curation(seed: Long, work: Path, cores: Int) extends Workload("curation", seed, work, cores) {
  val chunk = 32
  val overlap = 8
  // the seed picks the split shares: a different project at the same cost
  private val trainPct = 70 + 5 * new scala.util.Random(seed * 31337 + 5).nextInt(3)
  lazy val project: Gen.Project = Gen.curation(cores, chunk, overlap, trainPct)
  def genInputs(spark: SparkSession): Unit =
    inputs = Gen.corpusInputs(spark, inputDir, seed,
      Gen.CorpusSizes(docs = 1000, dups = 200, vectors = 2000, dim = 16))

  private def clustersFrame(spark: SparkSession): DataFrame = {
    val docs = spark.table("clean_gopher")
    graft.ops.Dedup.clusters(docs, graft.ops.Dedup.minhashLsh(docs, numHashes = 64))
  }

  private var iteration = 0
  override def prepare(spark: SparkSession, i: Int): Unit = iteration = i
  private val clustersOut = work.resolve("ops").resolve("clusters").toString

  // timed iterations force the result through the noop sink; the warm-up
  // keeps it as parquet for the correctness check
  override def extraOps(spark: SparkSession, timed: String => (=> Unit) => Unit): Unit =
    timed("ops.minhash_clusters") {
      val clusters = clustersFrame(spark)
      if (iteration == 0) clusters.write.mode("overwrite").parquet(clustersOut)
      else clusters.write.format("noop").mode("overwrite").save()
    }

  private def norm(c: String) = s"trim(regexp_replace(lower($c), '\\\\s+', ' '))"

  /** Plain-Spark reference for each asset, from the raw documents. */
  private def expected(spark: SparkSession): Seq[(String, DataFrame)] = {
    val docs = spark.table("src.documents")
    val stops = "array('the','and','of','to','in','is','a','that','it','for')"
    val gopher = docs.selectExpr("doc_id", "lang", "text", s"split(${norm("text")}, ' ') AS ws")
      .selectExpr("doc_id", "lang", "text", "size(ws) AS n",
        "aggregate(ws, 0L, (a, w) -> a + length(w)) / size(ws) AS mean_len",
        s"size(filter(ws, w -> array_contains($stops, w))) AS stop_hits",
        "size(filter(ws, w -> w rlike '[A-Za-z]')) / size(ws) AS alpha",
        "size(regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)) / size(ws) AS sym")
      .where("n BETWEEN 50 AND 100000 AND mean_len BETWEEN 3 AND 10 AND stop_hits >= 2 " +
        "AND alpha >= 0.8 AND sym <= 0.1")
      .select("doc_id", "lang", "text")
    val c4 = docs.selectExpr("doc_id", "text",
        """concat_ws('\n', filter(split(text, '\n'), l ->
          |  trim(regexp_replace(l, '\\s+', ' ')) rlike '[.!?"]$'
          |  AND size(split(trim(regexp_replace(l, '\\s+', ' ')), ' ')) >= 3
          |  AND NOT lower(l) LIKE '%javascript%')) AS kept""".stripMargin)
      .where("NOT lower(text) LIKE '%lorem ipsum%' AND NOT text LIKE '%{%' " +
        "AND length(regexp_replace(kept, '[^.!?]', '')) >= 3")
      .select("doc_id", "text")
    val dedup = gopher.groupBy(expr(s"md5(${norm("text")})").as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
    val step = chunk - overlap
    val chunks = gopher.selectExpr("doc_id", s"split(${norm("text")}, ' ') AS ws")
      .where("concat_ws('', ws) != ''")
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, size(ws) - 1, $step), s -> slice(ws, s + 1, $chunk)))")
      .selectExpr("doc_id", "CAST(pos AS INT) AS chunk_id", "concat_ws(' ', col) AS chunk_text",
        "CAST(size(col) AS BIGINT) AS n_tokens")
    val bucket = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
    val splits = gopher.selectExpr("doc_id", "lang",
      s"CASE WHEN $bucket < $trainPct THEN 'train' WHEN $bucket < ${trainPct + 10} THEN 'valid' ELSE 'test' END AS split")
    Seq("clean_gopher" -> gopher, "clean_c4" -> c4, "doc_dedup" -> dedup,
      "doc_chunks" -> chunks, "doc_splits" -> splits)
  }

  // the inputs are generated once and every iteration rewrites the same
  // outputs, so the reference runs once a run
  private var expectedFps = Map.empty[String, Verify.Fp]

  def verify(spark: SparkSession, i: Int): Seq[String] = {
    val ref = expected(spark) :+ ("emb_index" -> spark.table("src.embeddings").select("vec_id"))
    if (expectedFps.isEmpty) expectedFps = Verify.fingerprints(ref)
    val actual = Verify.fingerprints(ref.map { case (t, e) =>
      t -> (if (t == "emb_index") spark.table(t).where("list_id BETWEEN 0 AND 7") else spark.table(t)).select(e.columns.map(col): _*)
    })
    // every iteration rewrites every target in full
    landed = actual.values.map(_.rows).sum
    val assets = gate(actual, expectedFps)
    // the ops result is checked on the warm-up, which keeps it: every gated
    // document is labelled, and every planted exact duplicate shares its
    // source's cluster
    val ops = if (i != 0) Nil else {
      val cluster = spark.read.parquet(clustersOut).select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gated = spark.table("clean_gopher").select("doc_id").collect().map(_.getLong(0)).toSet
      val dupPairs = spark.table("src.documents").where("variant = 1").select("doc_id", "src_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter { case (d, s) => gated(d) && gated(s) }
      val split = dupPairs.count { case (d, s) => cluster.get(d) != cluster.get(s) }
      Seq(
        if (dupPairs.isEmpty) Some("minhash: no planted exact duplicate survived the gate") else None,
        if (split > 0) Some(s"minhash clusters split $split of ${dupPairs.length} exact duplicate pairs") else None,
        if (cluster.keySet != gated) Some("clusters do not label exactly the gated documents") else None
      ).flatten
    }
    assets ++ ops
  }
}
