package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-free result checksums and the benchmark's own LWW oracle.
  *
  * A row's digest is sha256 over its columns rendered as strings, joined by
  * [[Sep]], nulls as [[Null]]. The checksum is `<rows>:<sum>`, where `sum`
  * adds the first 60 bits of every row digest — the same for any row order
  * or partitioning. Floating columns are rounded before rendering so that
  * summation order inside an aggregate cannot change the checksum. */
object Checksum {
  val Sep = "\u001f"
  val Null = "\\N"

  /** Columns of the resolved CDC state the replay gates compare. */
  val StateCols: Seq[String] = Seq("repo", "path", "commit", "lsn", "lang", "content")

  private def render(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c, 6).cast("string")
    case FloatType => round(c.cast("double"), 4).cast("string")
    case ArrayType(DoubleType, _) => transform(c, x => round(x, 6)).cast("string")
    case ArrayType(FloatType, _) => transform(c, x => round(x.cast("double"), 4)).cast("string")
    case _ => c.cast("string")
  }

  def of(df: DataFrame): String = {
    val parts = df.schema.fields.toSeq.map(f =>
      coalesce(render(col(f.name), f.dataType), lit(Null)))
    val row = concat_ws(Sep, parts: _*)
    val r = df.select(conv(substring(sha2(row, 256), 1, 15), 16, 10)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
      .collect().head
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  /** The same checksum computed on the driver from already-rendered rows
    * (every field a string or null) — for rows that never were a
    * DataFrame, such as the fold oracle's output. */
  def ofRows(rows: Iterable[Seq[String]]): String = {
    var s = BigInt(0)
    var n = 0L
    rows.foreach { r =>
      val text = r.map(v => if (v == null) Null else v).mkString(Sep)
      val hex = MessageDigest.getInstance("SHA-256")
        .digest(text.getBytes(StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
      s += BigInt(hex.substring(0, 15), 16)
      n += 1
    }
    s"$n:$s"
  }

  /** Independent last-writer-wins oracle over raw change events: per
    * (repo, path) the event with the greatest (commit, lsn), kept only when
    * it is not a tombstone. */
  def lwwOracle(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("repo"), col("path"))
      .orderBy(col("commit").desc, col("lsn").desc)
    events.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") =!= "D")
      .select(StateCols.map(col): _*)
  }
}
