package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count, schema and the exact
  * sum of a 64-bit hash of every row after float columns are rounded to
  * 4 decimals (the engine's oracle-parity precision). Two results with
  * the same rows in any order and any partitioning fingerprint equally.
  */
final case class Fingerprint(rows: Long, schema: String, hash: String) {

  /** `rowsOnly` skips the hash for results known not to be bit-stable. */
  def matches(expected: Fingerprint, rowsOnly: Boolean): Boolean =
    rows == expected.rows && schema == expected.schema && (rowsOnly || hash == expected.hash)
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map(f => normalise(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))).head()
    val hash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    Fingerprint(r.getLong(0), df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(","), hash)
  }

  /** Round floats to 4 places with -0.0 folded into 0.0, recursively;
    * maps become key-sorted entry arrays because they cannot be hashed. */
  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 4)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et, _) => transform(c, x => normalise(x, et))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => normalise(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      normalise(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }
}
