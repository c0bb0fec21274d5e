package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) vocabulary induction — tokenizer TRAINING as a
  * distributed operator. Classic algorithm: represent each distinct word as
  * a symbol sequence (chars + an end-of-word marker), repeatedly find the
  * most frequent adjacent symbol pair weighted by word frequency, and merge
  * it everywhere; the ordered merge list IS the learned tokenizer.
  *
  * Spark shape: the loop runs over the WORD-FREQUENCY table, not the corpus
  * — one corpus pass builds (word, freq) (the standard BPE reduction; pair
  * statistics over the corpus and over the weighted vocab are identical),
  * after which each of the K rounds is two small jobs over |vocab| rows:
  * a flatMap of adjacent pairs + one sum aggregation, and an argmax that
  * moves exactly ONE row to the driver (ties broken lexicographically, so
  * training is deterministic on any cluster). Merge application is a
  * narrow typed map; the growing lineage is truncated with a checkpoint
  * every few rounds so round J's plan doesn't replay rounds 1..J-1 —
  * reliable (`spark.sparkContext.setCheckpointDir`) when a dir is
  * configured, local otherwise. At 100 TB the corpus pass dominates (one
  * shuffle on the word key) and the loop still runs over |distinct words|,
  * not |tokens|.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Learn `numMerges` merges from the corpus. Output: (rank, left, right,
    * merged, freq) — rank is application order, freq the weighted pair
    * count that won the round. Stops early when no pair reaches
    * `minPairCount`. */
  def bpeMerges(df: DataFrame, numMerges: Int = 16, minPairCount: Long = 2,
                textCol: String = "text",
                checkpointEvery: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The SUPERSEDED pin is released once the new one materializes — pins
    // are eager, so by the time ckpt() returns the new lineage no longer
    // reads the old blocks, and holding them would accumulate one vocab
    // copy per checkpointEvery rounds for the life of the session.
    var prev: Option[Dataset[(Seq[String], Long)]] = None
    def ckpt(ds: Dataset[(Seq[String], Long)]): Dataset[(Seq[String], Long)] = {
      val next = Barrier.pin(ds)
      prev.foreach(_.unpersist())
      prev = Some(next)
      next
    }
    var vocab: Dataset[(Seq[String], Long)] = ckpt(df
      .select(explode(TextAnalysis.words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      // truncate lineage at the word-frequency table: without this, every
      // round before the first periodic checkpoint replays the corpus pass
      .map { case (w, c) => ((w.map(_.toString) :+ EndOfWord): Seq[String], c) })
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    var round = 0
    while (round < numMerges && !done) {
      val best = vocab.flatMap { case (syms, c) =>
        if (syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map { case (x, y) => (x, y, c) }
      }.toDF("l", "r", "c").groupBy("l", "r").agg(sum("c").as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .head(1)
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else {
        val (l, r, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((l, r, f))
        vocab = vocab.map { case (syms, c) => (mergePair(syms, l, r), c) }
        round += 1
        if (round % checkpointEvery == 0) vocab = ckpt(vocab)
      }
    }
    val out = merges.zipWithIndex.toSeq
      .map { case ((l, r, f), i) => (i, l, r, l + r, f) }
      .toDF("rank", "left", "right", "merged", "freq")
    prev.foreach(_.unpersist())
    out
  }

  /** Tokenize with a learned merge list: split to chars + end marker, apply
    * merges in rank order. Pure narrow map under a broadcast merge table —
    * scan-speed over any corpus. Output adds (tokens: Array[String],
    * n_bpe_tokens). */
  def bpeTokenize(df: DataFrame, merges: DataFrame,
                  textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    val ordered = merges.select("rank", "left", "right").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val bc = spark.sparkContext.broadcast(ordered)
    val tokenizeWord = (w: String) => {
      var syms: Seq[String] = w.map(_.toString) :+ EndOfWord
      bc.value.foreach { case (l, r) => syms = mergePair(syms, l, r) }
      syms
    }
    val tokUdf = udf((ws: Seq[String]) =>
      if (ws == null) Seq.empty[String] else ws.filter(_.nonEmpty).flatMap(tokenizeWord))
    df.withColumn("tokens", tokUdf(TextAnalysis.words(col(textCol))))
      .withColumn("n_bpe_tokens", size(col("tokens")).cast("long"))
  }

  /** One left-to-right pass replacing adjacent (l, r) with l+r — the
    * standard greedy merge application (a merged symbol can immediately
    * pair with the next input symbol, matching reference BPE). */
  private[ops] def mergePair(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }
}
