package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{array_sort, col, count, lit, map_entries, sum, to_json, struct, xxhash64}
import org.apache.spark.sql.types._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Order-independent fingerprint of a query result: row count, the sum
  * (mod 2^64) of a per-row hash over every column, and a hash of the
  * column names and types. Summing row hashes makes the value independent
  * of row order and partitioning while still counting duplicate rows.
  * Columns are taken in name order, as the oracle compare does. */
object Fingerprint {

  /** Computes the fingerprint with a separate aggregation job. */
  def of(df: DataFrame): String = {
    val (rows, hash) = aggregates(df)
    render(df.schema, df.agg(rows, hash).head())
  }

  /** `df` with the fingerprint aggregates attached as an observed metric,
    * so the next action on it computes the fingerprint in the same
    * execution; the function returns it once that action has succeeded. */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val obs = Observation()
    val (rows, hash) = aggregates(df)
    (df.observe(obs, rows, hash), () => render(df.schema, Await.result(obs.future, 60.seconds)))
  }

  private def aggregates(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => normalized(col(s"`${f.name.replace("`", "``")}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    (count(lit(1)).as("fp_rows"), sum(rowHash.cast(DecimalType(38, 0))).as("fp_hash"))
  }

  private def render(schema: StructType, r: Row): String = {
    val hashSum = Option(r.getDecimal(1)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
      .mod(java.math.BigInteger.ONE.shiftLeft(64))
    val names = schema.fields.sortBy(_.name)
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val crc = new java.util.zip.CRC32
    crc.update(names.getBytes("UTF-8"))
    f"${r.getLong(0)}:${hashSum.toString(16)}:${crc.getValue}%08x"
  }

  /** Maps have no defined entry order and cannot be hashed directly: a
    * top-level map is hashed as its sorted entry array, and a map nested
    * deeper as its JSON text. `+ 0.0` folds -0.0 into 0.0. */
  private def normalized(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ if hasMap(t) => to_json(struct(c))
    case DoubleType | FloatType => c + lit(0.0).cast(t)
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
