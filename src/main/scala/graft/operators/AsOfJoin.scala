package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Generic as-of joins: for every left row, attach the nearest right row
  * within the same key — the latest with `right.ts <= left.ts`
  * ([[backward]]) or the earliest with `right.ts >= left.ts` ([[forward]]).
  *
  * Implemented as union + ordered window (last_value of right-side columns
  * over the merged stream) rather than a per-key sort-merge — one shuffle
  * on the key, no range-join explosion, skew handled by AQE. This is the
  * plan shape that survives 100 TB: the classic alternative
  * (left join right on key + ts-range, then window-dedup) shuffles
  * |left|×|matching right| rows; this shuffles |left|+|right|.
  */
object AsOfJoin {

  /** Backward as-of join: the latest right row with `right.ts <= left.ts`.
    *
    * @param left      probe side
    * @param right     reference side (its non-key/ts columns are appended,
    *                  null when no earlier right row exists)
    * @param keyCols   equality keys
    * @param tsCol     ordering column name (present on both sides)
    * @param rightCols right columns to carry (default: all but keys/ts)
    */
  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, rightCols: Seq[String] = Nil): DataFrame =
    asOf(left, right, keyCols, tsCol, rightCols, col(tsCol).asc)

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * the same keys and `right.ts >= left.ts` (the mirror of [[backward]]
    * — "next quote at or after", vs "latest quote at or before"). Same
    * parameters; rows scan ts DESCENDING, so the last right row seen is
    * the earliest one at or after.
    */
  def forward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, rightCols: Seq[String] = Nil): DataFrame =
    asOf(left, right, keyCols, tsCol, rightCols, col(tsCol).desc)

  private def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, rightCols: Seq[String], tsOrder: Column): DataFrame = {
    val carry = if (rightCols.nonEmpty) rightCols
      else right.columns.toSeq.filterNot(c => keyCols.contains(c) || c == tsCol)
    val collisions = carry.filter(left.columns.contains)
    require(collisions.isEmpty,
      s"as-of carry columns already exist on the left side: ${collisions.mkString(", ")} " +
        "— rename them or pass explicit rightCols")

    // all carried columns travel in ONE struct so the as-of row is always a
    // real right row, never a per-column stitch of different rows (a null
    // attribute inside the struct stays null)
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("_side", lit(1))
      .withColumn("_r", lit(null).cast(
        StructType(carry.map(c => StructField(c, right.schema(c).dataType)))))
    val r = right
      .withColumn("_side", lit(0))
      .select(keyCols.map(col) ++ Seq(col(tsCol), col("_side"),
        struct(carry.map(col): _*).as("_r")): _*)
    val merged = l.unionByName(r, allowMissingColumns = true)

    // right rows sort before left rows at equal ts (side 0 < 1), so a left
    // row at ts T sees right rows with ts <= T (ascending: backward) or
    // ts >= T (descending: forward), and the running last-non-null is the
    // nearest of them. Among right rows tied on (key, ts), the carried row
    // is the one whose carry hash is greatest — an arbitrary but
    // deterministic choice, stable across runs/retries (a bare (ts, side)
    // order would let the shuffle's arrival order pick the winner). Spark
    // refuses to hash MapType, so the tie-break hashes only the map-free
    // carry columns; if every carried column contains a map the tie stays
    // arbitrary.
    def containsMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: ArrayType => containsMap(a.elementType)
      case _ => false
    }
    val hashable = carry.filterNot(c => containsMap(right.schema(c).dataType))
    val tieBreak =
      if (hashable.isEmpty) Nil
      else Seq(xxhash64(hashable.map(c => col(s"_r.$c")): _*).asc)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(tsOrder +: col("_side").asc +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = merged.withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
    filled.filter(col("_side") === 1)
      .select(leftCols.map(col) ++ carry.map(c => col(s"_r.$c").as(c)): _*)
  }
}
