package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile (the numpy default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (p / 100.0) * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that leaves at least ten samples above
    * it, never below the median: p99 needs 1000 samples, p90 needs 100,
    * p75 needs 40; fewer than 20 samples report the median.
    */
  def tailPct(n: Int): Int =
    if (n < 20) 50 else math.min(99, math.max(50, (100 * (n - 10)) / n))

}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Files2 {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
  }

  /** Every regular file under `dir` with its size (relative path keys). */
  def sizes(dir: String): Map[String, Long] = {
    val base = Paths.get(dir)
    walk(dir).map(f => base.relativize(f).toString -> Files.size(f)).toMap
  }

  def bytesUnder(dirs: Seq[String]): Long = dirs.map(d => sizes(d).values.sum).sum

  /** SHA-256 over the files under `dir`, in relative-path order. */
  def digest(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = Paths.get(dir)
    walk(dir).map(f => base.relativize(f).toString -> f).sortBy(_._1)
      .foreach { case (rel, f) =>
        md.update(rel.getBytes("UTF-8")); md.update(Files.readAllBytes(f))
      }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val Manifest = "v(\\d+)\\.json".r

  /** Highest commit version of every graft table under `dir`. */
  def versionsUnder(dir: String): Long =
    walk(dir).filter(_.getParent.getFileName.toString == "_commits")
      .groupBy(_.getParent)
      .map { case (_, fs) =>
        fs.map(_.getFileName.toString).collect { case Manifest(v) => v.toLong }
          .maxOption.getOrElse(0L)
      }.sum
}

/** Raw benchmark inputs: JSON Lines files written byte for byte by the
  * generator (Spark's parquet writer orders column-chunk encodings by
  * identity hash, so its bytes differ between JVMs) and read back through
  * Spark with an explicit schema.
  */
object Inputs {
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss"

  def batchFile(dir: String, k: Int): String = f"$dir/b$k%05d.jsonl"

  def write(path: String, lines: Iterable[String]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val sb = new java.lang.StringBuilder
    lines.foreach(l => sb.append(l).append('\n'))
    Files.write(p, sb.toString.getBytes("UTF-8"))
  }

  def read(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: String*): org.apache.spark.sql.DataFrame =
    spark.read.schema(schema).option("timestampFormat", TimestampFormat)
      .json(paths: _*)

  /** A JSON object with the values in the given order. */
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    Json.str(k) + ":" + (v match {
      case s: String => Json.str(s)
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case x => x.toString
    })
  }.mkString("{", ",", "}")
}

/** Canonical, order-free rendering of small result sets for comparisons. */
object Canon {
  def value(v: Any): String = v match {
    case null => "NULL"
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case x => x.toString
  }
  def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => r.toSeq.map(value).mkString("|")).toSeq.sorted
}
