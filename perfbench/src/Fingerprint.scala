package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Order-insensitive fingerprint of a query result: the row count and the
  * sum (as a 38-digit decimal) of one 64-bit hash per row, taken over the
  * columns sorted by name. Floating-point values hash on the 1e-9 grid, so
  * the last ulp of a float sum does not count as drift.
  */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {

  private def canon(t: DataType, c: Column): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), 9)
    case ArrayType(e @ (DoubleType | FloatType), _) => transform(c, x => canon(e, x))
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.sorted.map(n => canon(df.schema(n).dataType, col(s"`$n`")))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** One `query<TAB>rows<TAB>hash` line per query. */
  def load(p: Path): Map[String, Fingerprint] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .map(a => a(0) -> Fingerprint(a(1).toLong, a(2))).toMap

  def save(p: Path, fps: Seq[(String, Fingerprint)]): Unit = {
    val header = "# registry query\trows\torder-insensitive row hash (columns sorted by name)"
    val lines = header +: fps.sortBy(_._1).map { case (q, f) => s"$q\t${f.rows}\t${f.hash}" }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
