package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-free digest of a query result over every output column: the
 * row count plus the sum of per-row hashes. Floating values are rounded
 * to 6 decimals before hashing so a last-bit difference in summation
 * order does not change the digest; maps are hashed as key-sorted entry
 * arrays. Unlike `count()`, the digest reads every column, so Catalyst
 * cannot prune the work that produces them. */
object Digest {
  final case class Value(rows: Long, hash: java.math.BigDecimal) {
    override def toString: String = s"$rows:${hash.toPlainString}"
  }

  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needs(et) => transform(c, x => normalise(x, et))
    case StructType(fs) if fs.exists(f => needs(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => normalise(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = map_entries(c)
      val normed =
        if (needs(kt) || needs(vt))
          transform(entries, e => struct(normalise(e.getField("key"), kt).as("key"),
            normalise(e.getField("value"), vt).as("value")))
        else entries
      array_sort(normed)
    case _ => c
  }

  /** Whether a type holds a float or a map anywhere inside. */
  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }

  /** The digest expression pair (count, hash sum) over `df`. */
  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toIndexedSeq.map(f => normalise(df.col(f.name), f.dataType))
    val rowHash =
      if (cols.isEmpty) lit(0L)
      else xxhash64(cols: _*)
    val r = df.select(rowHash.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    Value(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
