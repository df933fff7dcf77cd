package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods.parse
import org.json4s.jackson.Serialization.writePretty

/** Order-independent fingerprint of a query result: the row count plus
  * two sums of 32-bit halves of a per-row xxhash64. Columns are taken in
  * name order and doubles are rounded to 6 places (the same
  * normalization as the repo's DuckDB oracle compare), so row order,
  * column order and float noise below the rounding do not change it.
  * The sums run in longs that cannot overflow below 2^31 rows, which
  * keeps the aggregate valid under ANSI mode.
  */
object Fingerprint {

  /** The fingerprint's three aggregates over `df`'s rows. */
  def aggregates(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.toSeq
    // a null flag per column: xxhash64 skips null inputs, so without it
    // (null, 1) and (1, null) would hash alike
    val parts = cols.flatMap { c =>
      val v = df.col(s"`$c`")
      Seq(v.isNull, norm(v, df.schema(c).dataType))
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    Seq(count(lit(1)).as("n"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"))
  }

  /** Fingerprint by its own aggregation job. */
  def of(df: DataFrame): String = {
    val aggs = aggregates(df)
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    format(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def format(n: Long, hi: Long, lo: Long): String = f"$n:$hi%x:$lo%x"

  /** Canonical value form: doubles rounded to 6 places with -0.0 folded
    * into 0.0, recursively through arrays, structs and maps (maps as
    * key-sorted entry arrays, which xxhash64 accepts).
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => needsNorm(f.dataType)) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }
}

/** Golden fingerprints: a flat JSON object of query name → fingerprint. */
object Golden {
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else parse(Files.readString(p)).extract[Map[String, String]](DefaultFormats, implicitly)

  def save(p: Path, m: Map[String, String]): Unit =
    Files.writeString(p, writePretty(TreeMap(m.toSeq: _*))(DefaultFormats) + "\n")
}
