package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result, computed by Spark
  * next to the data: each row hashes to 64 bits (xxhash64 over every
  * column, by position) and the fingerprint is the row count plus the sums
  * of the hashes' low and high 32-bit halves. Summing makes row order
  * irrelevant while a changed, dropped or duplicated row moves the sums;
  * splitting the halves keeps both sums exact in a long for up to 2^31
  * rows, so ANSI overflow checks never fire.
  */
object Fingerprint {
  private def hashable(c: Column, t: DataType): Column = t match {
    // xxhash64 refuses maps; their JSON spelling is canonical per run
    case _: MapType => to_json(c)
    case ArrayType(_: MapType, _) => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** Evaluate a fingerprint frame from [[of]] to its printed form. It is
    * collected, not `head`ed, so the frame's own query execution (and its
    * Catalyst phase timings) is the one that runs.
    */
  def value(fp: DataFrame): String = {
    val r = fp.collect()(0)
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x:${r.getLong(2)}%016x"
  }
}
