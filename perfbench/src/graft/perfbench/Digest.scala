package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of every output column: row count plus the
  * decimal sum of a per-row xxhash64 over the columns in name order.
  *
  * Doubles are hashed at float precision, so a last-bit difference from a
  * floating-point sum merged in another task order does not read as a
  * wrong answer (the oracle compare rounds the same way, to 9 digits).
  * Maps are hashed through their JSON form because Spark refuses to hash
  * a map directly. The harness runs it after an operation, outside its
  * timed span. */
object Digest {
  private def hasDouble(t: DataType): Boolean = t match {
    case DoubleType => true
    case ArrayType(e, _) => hasDouble(e)
    case StructType(fs) => fs.exists(f => hasDouble(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(e, _) if hasDouble(e) => transform(c, x => norm(x, e))
    case StructType(fs) if hasDouble(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** A one-row frame whose single string column is the digest. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
      .select(concat_ws(":", col("n").cast("string"),
        coalesce(col("s").cast("string"), lit("0"))).as("digest"))
  }

  def of(df: DataFrame): String = frame(df).collect()(0).getString(0)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
}
