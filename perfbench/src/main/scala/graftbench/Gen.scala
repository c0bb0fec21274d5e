package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Seed-driven generators: input tables (written once per run as parquet)
  * and graft projects (asset files written at every set-up). Everything is a
  * pure function of the seed, so a seed always yields the same bytes. */
object Gen {

  final case class Project(files: Seq[(String, String)], tables: Seq[String])

  def writeProject(dir: Path, p: Project): Unit = {
    Files.createDirectories(dir)
    p.files.foreach { case (rel, body) =>
      val f = dir.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, body.getBytes(StandardCharsets.UTF_8))
    }
  }

  private def header(name: String, depends: Seq[String], mat: String,
                     extra: String = ""): String = {
    val deps = if (depends.isEmpty) "" else depends.map(d => s"  - $d").mkString("depends:\n", "\n", "\n")
    s"/* @bruin\nname: $name\ntype: spark.sql\n$deps" + s"materialization:\n$mat\n$extra@bruin */\n"
  }
  private val createReplace = "  type: table\n  strategy: create+replace"

  private def checksBlock(cols: Seq[(String, Seq[String])]): String =
    if (cols.isEmpty) ""
    else cols.map { case (c, cks) => s"  - name: $c\n    checks: [${cks.mkString(", ")}]" }
      .mkString("columns:\n", "\n", "\n")

  // ---- incr_daily ----------------------------------------------------------

  def incrDaily(concurrency: Int): Project = {
    def ingest(name: String, path: String, cols: Seq[(String, String)]) =
      s"assets/$name.asset.yml" ->
        (s"""name: $name
           |type: ingest
           |parameters:
           |  source_uri: csv://$path
           |  incremental_strategy: replace
           |columns:
           |""".stripMargin + cols.map { case (c, t) => s"  - name: $c\n    type: $t\n" }.mkString)
    def table(name: String, deps: Seq[String], mat: String, sql: String,
              cols: Seq[(String, Seq[String])] = Nil, colsRaw: String = "") =
      s"assets/$name.sql" -> (header(name, deps, mat, checksBlock(cols) + colsRaw) + sql + "\n")
    val files = Seq(
      "pipeline.yml" -> s"name: incr_daily\nconcurrency: $concurrency\n",
      ingest("raw_batch", "batches/current.csv", Seq("event_id" -> "BIGINT", "cust_id" -> "BIGINT",
        "event_date" -> "DATE", "amount" -> "DECIMAL(12,2)")),
      ingest("raw_cust", "batches/customers.csv", Seq("cust_id" -> "BIGINT", "tier" -> "STRING",
        "updated_at" -> "TIMESTAMP")),
      table("ev_append", Seq("raw_batch"), "  type: table\n  strategy: append",
        "SELECT event_id, cust_id, event_date, amount FROM raw_batch",
        Seq("event_id" -> Seq("not_null"))),
      table("ev_daily", Seq("raw_batch"),
        "  type: table\n  strategy: delete+insert\n  incremental_key: event_date",
        """SELECT event_date, cust_id, sum(amount) AS amount, count(*) AS n
          |FROM raw_batch GROUP BY event_date, cust_id""".stripMargin,
        Seq("event_date" -> Seq("not_null"))),
      table("ev_latest", Seq("raw_batch"), "  type: table\n  strategy: merge",
        "SELECT event_id, cust_id, event_date, amount FROM raw_batch",
        colsRaw = "columns:\n  - name: event_id\n    primary_key: true\n    checks: [not_null, unique]\n" +
          "  - name: amount\n    update_on_merge: true\n"),
      table("ev_window", Seq("ev_append"),
        "  type: table\n  strategy: time_interval\n  incremental_key: event_date\n  time_granularity: date",
        """SELECT event_id, cust_id, event_date, amount FROM ev_append
          |WHERE event_date BETWEEN DATE '{{ start_date }}' AND DATE '{{ end_date }}'""".stripMargin),
      table("cust_hist_col", Seq("raw_cust"), "  type: table\n  strategy: scd2_by_column",
        "SELECT cust_id, tier FROM raw_cust",
        colsRaw = "columns:\n  - name: cust_id\n    primary_key: true\n"),
      table("cust_hist_time", Seq("raw_cust"),
        "  type: table\n  strategy: scd2_by_time\n  incremental_key: updated_at",
        "SELECT cust_id, tier, updated_at FROM raw_cust",
        colsRaw = "columns:\n  - name: cust_id\n    primary_key: true\n    checks: [not_null]\n"))
    Project(files,
      Seq("raw_batch", "raw_cust", "ev_append", "ev_daily", "ev_latest", "ev_window",
        "cust_hist_col", "cust_hist_time"))
  }

  // ---- curation ------------------------------------------------------------

  final case class CorpusSizes(docs: Long, dups: Long, vectors: Long, dim: Int)

  private val Vocab = Seq("river", "stone", "garden", "window", "market", "silver", "harbor",
    "forest", "engine", "pencil", "valley", "candle", "bridge", "meadow", "rocket", "castle",
    "planet", "ladder", "mirror", "orchard", "lantern", "village", "thunder", "blanket",
    "compass", "journey", "fabric", "whisper", "crystal", "harvest", "library", "mountain",
    "sunset", "pepper", "tunnel", "violin", "marble", "glacier", "festival", "copper",
    "shadow", "feather", "canyon", "meadow", "kitchen", "saddle", "timber", "voyage")
  private val Stops = Seq("the", "and", "of", "to", "in")

  /** Corpus `documents(doc_id, src_id, variant, kind, lang, text)` with
    * planted defects (`kind`: short, symbol, lorem, brace, nopunct) and
    * exact (`variant` 1) or near (`variant` 2) duplicates of document
    * `src_id`, plus `embeddings(vec_id, embedding)`. Generated on the
    * driver: a pure function of the seed. */
  def corpusInputs(spark: SparkSession, dir: Path, seed: Long, sz: CorpusSizes): Map[String, String] = {
    import spark.implicits._
    def mix(a: Long, b: Long, stream: Int): Int =
      scala.util.hashing.MurmurHash3.productHash((a, b, seed, stream)) & Int.MaxValue
    val kinds = Seq("short", "short", "symbol", "lorem", "brace", "nopunct")
    // the mix of kinds, lengths and duplicate variants is the same for every
    // seed, so a seed changes the words but not the amount of work
    def kind(src: Long) = { val k = (src % 25).toInt; if (k < kinds.size) kinds(k) else "good" }
    // text is a function of (src, variant, doc): variant 1 pads an exact copy
    // with spaces, variant 2 swaps every 11th vocabulary word
    def text(doc: Long, src: Long, variant: Int): String = {
      val k = kind(src)
      val nw = if (k == "short") 10 + (src * 7 % 20).toInt else 60 + (src * 37 % 80).toInt
      val body = new StringBuilder
      for (i <- 0 until nw) {
        body.append(
          if (k == "symbol" && i % 3 == 1) "#"
          else if (mix(src, i, 1) % 4 == 0) Stops(mix(src, i, 2) % Stops.size)
          else Vocab(mix(if (variant == 2 && i % 11 == 5) doc else src, i, 3) % Vocab.size))
        body.append(if (k == "nopunct") " " else if (i % 8 == 7 || i == nw - 1) ".\n" else " ")
      }
      val prefix = k match {
        case "lorem" => "lorem ipsum dolor sit amet.\n"
        case "brace" => "config { value } here.\n"
        case _ => ""
      }
      prefix + body.toString.trim + (if (variant == 1) "   " else "")
    }
    val docs = (1L to sz.docs + sz.dups).map { id =>
      val (src, variant) =
        if (id <= sz.docs) (id, 0) else (mix(id, 0, 30) % sz.docs + 1L, 1 + (id % 2).toInt)
      (id, src, variant, kind(src), "en", text(id, src, variant))
    }
    val docsPath = dir.resolve("documents").toString
    docs.toDF("doc_id", "src_id", "variant", "kind", "lang", "text").coalesce(1)
      .write.mode("overwrite").parquet(docsPath)
    val vecPath = dir.resolve("embeddings").toString
    (1L to sz.vectors).map { id =>
      (id, Array.tabulate(sz.dim)(j => (mix(id, j, 40) % 2000 - 1000) / 1000f + (mix(id, 0, 41) % 8) * (j % 3)))
    }.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(vecPath)
    Map("documents" -> docsPath, "embeddings" -> vecPath)
  }

  def curation(concurrency: Int, chunk: Int, overlap: Int, trainPct: Int): Project = {
    def asset(name: String, deps: Seq[String], params: String, sql: String, extra: String = "") =
      s"assets/$name.sql" -> (header(name, deps, createReplace,
        (if (params.isEmpty) "" else s"parameters:\n$params\n") + extra) + sql + "\n")
    val files = Seq(
      "pipeline.yml" -> s"name: curation\nconcurrency: $concurrency\n",
      asset("clean_gopher", Nil, "  quality_filter: gopher\n  quality_filter_lang: lang",
        "SELECT doc_id, lang, text FROM src.documents",
        "columns:\n  - name: doc_id\n    checks: [not_null, unique]\n"),
      asset("clean_c4", Nil, "  quality_filter: c4", "SELECT doc_id, text FROM src.documents"),
      asset("doc_dedup", Seq("clean_gopher"), "",
        "SELECT content_hash, keep_id, n_docs FROM (\n{{ dedup_exact('clean_gopher') }}\n) z",
        "custom_checks:\n  - name: found_duplicates\n    query: SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END FROM doc_dedup WHERE n_docs > 1\n    value: 1\n"),
      asset("doc_chunks", Seq("clean_gopher"), "",
        s"SELECT doc_id, chunk_id, chunk_text, n_tokens FROM (\n{{ token_chunk('clean_gopher', 'doc_id', 'text', $chunk, $overlap) }}\n) z"),
      asset("doc_splits", Seq("clean_gopher"), "",
        s"SELECT doc_id, lang, split FROM (\n{{ stratified_split('clean_gopher', 'doc_id', $trainPct, 10) }}\n) z"),
      asset("emb_index", Nil, "  index: ivfpq\n  index_nlist: 8\n  index_m: 4\n  index_k: 16\n  index_buckets: 4",
        "SELECT vec_id, embedding FROM src.embeddings"))
    Project(files, Seq("clean_gopher", "clean_c4", "doc_dedup", "doc_chunks", "doc_splits", "emb_index"))
  }
}
