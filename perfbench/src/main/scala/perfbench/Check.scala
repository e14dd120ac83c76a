package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col

import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a result: row count, the wrapping sum
  * of each row's 64-bit hash, and the result's size as UnsafeRows. */
final case class Sig(rows: Long, hash: Long, bytes: Long)

/** Cell-level checksum of a cross-tab: the number of non-empty cells and
  * the wrapping sum of their [[Check.cellHash]]es. */
final case class Cells(cells: Long, sum: Long)

object Check {

  /** Executes `df`'s physical plan exactly as `toRdd.count()` would and
    * folds each produced row into a [[Sig]] on the executors. */
  def signature(df: DataFrame): Sig = scan(df, None)._1

  /** [[signature]] plus the cells of a wide cross-tab (one row per `key`):
    * every other column whose value is not null and does not print as one
    * of `empty`. One execution of the plan. */
  def wideCells(df: DataFrame, key: String, empty: Set[String]): (Sig, Cells) =
    scan(df, Some(key -> empty))

  private def scan(df: DataFrame, cells: Option[(String, Set[String])]): (Sig, Cells) = {
    val schema = df.schema
    val names = schema.fieldNames
    val types = schema.fields.map(_.dataType)
    val k = cells.fold(-1)(c => names.indexOf(c._1))
    val empty = cells.fold(Set.empty[String])(_._2)
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, h, b, cn, ch = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        b += u.getSizeInBytes
        if (k >= 0) {
          val kv = String.valueOf(u.get(k, types(k)))
          for (i <- names.indices if i != k && !u.isNullAt(i)) {
            val v = u.get(i, types(i)).toString
            if (!empty(v)) { cn += 1; ch += cellHash(kv, names(i), v) }
          }
        }
      }
      Iterator.single((Sig(n, h, b), Cells(cn, ch)))
    }.collect().foldLeft((Sig(0, 0, 0), Cells(0, 0))) { case ((a, c), (s, d)) =>
      (Sig(a.rows + s.rows, a.hash + s.hash, a.bytes + s.bytes), Cells(c.cells + d.cells, c.sum + d.sum))
    }
  }

  /** 64-bit hash of one cross-tab cell: (row key, output column, value). */
  def cellHash(key: String, cell: String, v: String): Long = {
    val s = s"$key\u0001$cell\u0001$v"
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  /** The same cells from a plain `groupBy(key, pivotKeys…)` result with one
    * column per aggregate alias: cell `<pivot values joined by _>_<alias>`,
    * the pivot's own output-column naming. */
  def groupedCells(grouped: DataFrame, key: String, pivotKeys: Seq[String],
                   aliases: Seq[String]): Cells = {
    val p = pivotKeys.size
    grouped.select((key +: (pivotKeys ++ aliases)).map(col): _*).rdd.mapPartitions { rows =>
      var n, h = 0L
      rows.foreach { r =>
        val kv = String.valueOf(r.get(0))
        val prefix = (1 to p).map(i => String.valueOf(r.get(i))).mkString("_")
        for (j <- aliases.indices if !r.isNullAt(1 + p + j)) {
          n += 1
          h += cellHash(kv, s"${prefix}_${aliases(j)}", r.get(1 + p + j).toString)
        }
      }
      Iterator.single(Cells(n, h))
    }.collect().foldLeft(Cells(0, 0))((a, b) => Cells(a.cells + b.cells, a.sum + b.sum))
  }
}
