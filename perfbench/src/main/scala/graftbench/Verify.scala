package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent table fingerprints: (row count, sum over rows of the
  * first 32 bits of md5 of the row's canonical text). The canonical text
  * joins every column, in column-name order, cast to string with NULL as
  * `<null>`, so a fingerprint computed in Spark and one computed on the
  * driver from row texts are directly comparable. */
object Verify {

  final case class Fp(rows: Long, hash: Long)

  def canonical(df: DataFrame): org.apache.spark.sql.Column =
    concat_ws("|", df.columns.sorted.toSeq.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("<null>"))): _*)

  /** Fingerprints of many frames in one Spark action: the per-row hashes
    * of every frame go through one union of projections (a single stage
    * over scans, no shuffle) and are summed on the driver. */
  def fingerprints(frames: Seq[(String, DataFrame)]): Map[String, Fp] =
    if (frames.isEmpty) Map.empty
    else {
      val hashes = frames.map { case (n, d) =>
        d.select(lit(n).as("t"), conv(substring(md5(canonical(d)), 1, 8), 16, 10).cast("bigint").as("h"))
      }.reduce(_ union _).collect()
      val got = hashes.groupBy(_.getString(0)).map { case (n, rs) => n -> Fp(rs.length, rs.map(_.getLong(1)).sum) }
      frames.map { case (n, _) => n -> got.getOrElse(n, Fp(0, 0)) }.toMap
    }

  /** The same fingerprint computed on the driver from already-canonical
    * row texts (see [[canonical]]). */
  def fingerprint(rows: Iterable[String]): Fp = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Fp(rows.size, rows.iterator.map { r =>
      val d = md.digest(r.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }.sum)
  }

  /** One message per table whose fingerprint differs from the expected. */
  def diff(actual: Map[String, Fp], expected: Map[String, Fp]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (n, e) if !actual.get(n).contains(e) => s"$n: got ${actual.get(n)}, expected $e"
    }
}
