package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content hash of a DataFrame: the row count plus two
  * independent sums (mod 2^64) of per-row 64-bit hashes. Summing makes the
  * result independent of row order and partitioning, and unlike XOR it
  * does not cancel duplicate rows. Map columns, at any depth, are hashed
  * through their entries sorted by key, so map ordering never matters. */
object OutputHash {

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => hasMap(et)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Rewrite a column so that it carries no map: each map becomes the
    * key-sorted array of its (key, value) entries. */
  def normalize(c: Column, dt: DataType): Column = dt match {
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("key"),
        normalize(e.getField("value"), vt).as("value"))))
    case ArrayType(et, _) if hasMap(et) => transform(c, e => normalize(e, et))
    case StructType(fs) if hasMap(dt) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private val Mod = BigInt(1) << 64

  /** "rows:sumA:sumB" with the sums in hex. Forces every column. */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    val cols = fields.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
        coalesce(sum(xxhash64(col("h"), lit(0x5eed)).cast(DecimalType(38, 0))),
          lit(0).cast(DecimalType(38, 0))))
      .head()
    def m(i: Int) = {
      val v = BigInt(r.getDecimal(i).toBigInteger).mod(Mod)
      f"${v.toString(16)}%16s".replace(' ', '0')
    }
    s"${r.getLong(0)}:${m(1)}:${m(2)}"
  }
}
