package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive answer digests for the query workloads.
  *
  * Each row is hashed with `xxhash64`; the query's digest is (row
  * count, XOR of the row hashes, sum of their low 28 bits). XOR and a
  * bounded sum are both independent of row order, and the sum keeps
  * duplicate rows from cancelling. Floating-point columns are first
  * rounded to 6 significant digits, so a different summation order
  * across shuffle partitions cannot change a digest. Everything runs as
  * codegen'd expressions, so checking a large answer stays cheap.
  */
object Answers {
  final case class Digest(rows: Long, hash: String)

  private def normalized(c: Column): Column = {
    val x = c.cast(DoubleType)
    val e = floor(log10(abs(x)))
    when(isnan(x), lit("NaN"))
      .when(x === 0.0, lit("0"))
      .when(abs(x) === Double.PositiveInfinity, x.cast("string"))
      .otherwise(concat(round(x / pow(lit(10.0), e - 5)).cast("string"), lit("e"), e.cast("string")))
  }

  /** The frame that computes `df`'s digest; collecting it is the action. */
  def digestFrame(df: DataFrame): DataFrame = {
    // positional names: a join may return two columns with one name
    val names = df.columns.indices.map(i => s"c$i")
    val cols = df.schema.fields.toSeq.zip(names).map {
      case (f, n) if f.dataType == DoubleType || f.dataType == FloatType => normalized(col(n))
      case (_, n) => col(n)
    }
    df.toDF(names: _*).select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"),
        sum(col("h").bitwiseAND(lit((1L << 28) - 1))).as("s"))
  }

  def read(r: Row): Digest = {
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) 0L else r.getLong(2)
    Digest(r.getLong(0), f"$x%016x-$s%x")
  }
}
