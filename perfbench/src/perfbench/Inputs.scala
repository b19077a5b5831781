package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Inputs and output checks. The inputs are fixed: `Corpus.page(i)` is a
  * pure function of `i`, and the curation corpus is a copy of the sf0.1
  * test tables kept in `perfbench/data`, so the digests recorded in
  * `expected.json` hold for every `--seed`.
  */
object Inputs {
  /** Order-independent digest: row count and the exact sum of a 64-bit
    * hash of every row (columns in name order, floating values rounded to
    * 6 decimals so a last-bit difference in summation order is not a
    * mismatch).
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c).cast(DoubleType), 6)
        case _ => col(c)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val s = Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    s"${r.getLong(0)}:${s.toPlainString}"
  }

  private val RowsField = """"rows":(\d+)""".r

  /** Committed row count of every snapshot dir under `outDir` (`None`
    * where the manifest is missing).
    */
  def manifestRows(outDir: String): Map[String, Option[Long]] =
    Option(new File(outDir).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map { d =>
        val m = new File(d, "_manifest.json")
        d.getName -> (if (!m.isFile) None else {
          val text = new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
          RowsField.findFirstMatchIn(text).map(_.group(1).toLong)
        })
      }.toMap

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
