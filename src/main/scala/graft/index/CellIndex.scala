package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.sql.functions._
import graft.functions.F

/** The north star's "sorted cell->feature-id array replacing Carmen's
  * grid/cover index": two parallel Long arrays (cells ascending, ids
  * tie-sorted) + binary-search range lookup — carmen-cache's per-phrase
  * grid lists / RocksDB pointer chases as one cache-friendly sorted array,
  * the in-memory form of the Hilbert-sorted parquet table [[IndexBuild]]
  * writes. 16 B/entry.
  */
final class CellIndexData(val cells: Array[Long], val fids: Array[Long])
    extends Serializable {

  private def lowerBound(key: Long): Int = {
    var lo = 0; var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** All feature ids covering `cell` (ascending, distinct by construction). */
  def lookup(cell: Long): Array[Long] = {
    var i = lowerBound(cell)
    if (i >= cells.length || cells(i) != cell) return Array.emptyLongArray
    val start = i
    while (i < cells.length && cells(i) == cell) i += 1
    java.util.Arrays.copyOfRange(fids, start, i)
  }

  def size: Int = cells.length
}

object CellIndex {

  /** Build from a (cell, feature_id) frame. The distributed sort happens in
    * Spark (range shuffle); only the final compact arrays are collected —
    * the same rows [[IndexBuild]] writes as the on-disk sorted table. */
  def build(cover: DataFrame): CellIndexData = {
    val rows = cover.select(col("cell").cast("long"), col("feature_id").cast("long"))
      .sort("cell", "feature_id")
      .collect()
    val cells = new Array[Long](rows.length)
    val fids = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) {
      cells(i) = rows(i).getLong(0); fids(i) = rows(i).getLong(1); i += 1
    }
    new CellIndexData(cells, fids)
  }

  def buildFromFeatures(features: DataFrame, z: Int): CellIndexData =
    build(features.select(col("feature_id"),
      explode(F.tileCover(col("geom_wkb"), lit(z))).as("cell")))

  /** long_set_contains(key): membership in a broadcast SORTED long array —
    * the semi-join reduction filter. Used to prune probe rows BEFORE they
    * shuffle into a large equi-join (e.g. token windows vs the grid index:
    * the distinct phrase-id set is dictionary-sized even when the index is
    * not, so windows matching nothing — the overwhelming majority — die in
    * the map stage instead of shuffling). Exact, not a bloom filter: 8 B ×
    * 10^7 phrases = 80 MB, comfortably under the broadcast ceiling. */
  case class LongSetContains(child: Expression, bc: Broadcast[Array[Long]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "long_set_contains"
    override def nullSafeEval(key: Any): Any =
      java.util.Arrays.binarySearch(bc.value, key.asInstanceOf[Long]) >= 0
    override protected def withNewChildInternal(c: Expression): LongSetContains =
      copy(child = c)
  }

  def longSetContains(key: Column, bc: Broadcast[Array[Long]]): Column =
    ColumnBridge.column(LongSetContains(ColumnBridge.expression(key), bc))

  /** bloom_might_contain(key): membership in a broadcast Bloom filter — the
    * OVER-CEILING tier of the semi-join reduction. At ~1.2 B/entry (1% fpp)
    * vs 8 B for the exact sorted array, the map-side kill stays
    * broadcastable well past [[LongSetContains]]'s ceiling; false positives
    * ride the shuffle and die in the join, so results are row-identical. */
  case class BloomMightContain(child: Expression,
                               bc: Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bloom_might_contain"
    override def nullSafeEval(key: Any): Any =
      bc.value.mightContainLong(key.asInstanceOf[Long])
    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
  }

  def bloomMightContain(key: Column,
                        bc: Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(key), bc))
}
