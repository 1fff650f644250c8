package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a relation: its row count plus the sum,
  * modulo 2^64, of one 64-bit hash per row over EVERY output column.
  * Unlike `count()`, Catalyst cannot prune a column the hash reads, so the
  * timed action computes the whole result. Top-level maps are hashed as
  * their key-sorted entry arrays (Spark refuses to hash maps directly, and
  * map entry order is not part of a map's value). */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** The digest action's frame: one row (rows, hi, lo). The per-row hash
    * is split into 32-bit halves so the sums cannot overflow under ANSI
    * arithmetic for fewer than 2^31 rows. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: outputs may repeat a column name or contain dots
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f =>
      hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)).as("rows"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
        coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))
  }

  def of(df: DataFrame): Digest = {
    val r = frame(df).collect()(0)
    Digest(r.getLong(0), (r.getLong(1) << 32) + r.getLong(2))
  }
}
