package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types._

/** SQL-surface registration: exposes the engine's Catalyst expressions to
  * `spark.sql(...)` users (cell math, geometry, text, sketches) under their
  * prettyName. Idempotent per session.
  *
  * The engine expressions declare only their output type (AbstractDataType /
  * ExpectsInputTypes are not usable outside the spark packages), so each
  * builder wraps its arguments in Cast to the expected input type: a user
  * passing `parent_cell(cell, 8)` (BIGINT literal zoom, INT expected) gets a
  * correct answer instead of a ClassCastException at eval time.
  */
object Register {

  def all(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def cast(e: Expression, t: DataType): Expression =
      if (e.dataType == t) e else Cast(e, t)
    def mk(name: String, types: Seq[DataType], b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { args =>
        require(args.length == types.length,
          s"$name expects ${types.length} argument(s), got ${args.length}")
        b(args.zip(types).map { case (a, t) => cast(a, t) })
      }, "scala_udf")

    val AL = ArrayType(LongType, containsNull = false)
    mk("cell_at", Seq(IntegerType, DoubleType, DoubleType),
      a => Exprs.CellAt(a(0), a(1), a(2)))
    mk("parent_cell", Seq(LongType, IntegerType), a => Exprs.ParentCell(a(0), a(1)))
    mk("hilbert_cell", Seq(LongType), a => Exprs.HilbertOfCell(a(0)))
    mk("ring_cells", Seq(LongType, IntegerType), a => Exprs.RingCells(a(0), a(1)))
    mk("disk_cells", Seq(LongType, IntegerType), a => Exprs.DiskCells(a(0), a(1)))
    mk("annulus_cells", Seq(LongType, IntegerType, IntegerType),
      a => Exprs.AnnulusCells(a(0), a(1), a(2)))
    mk("pip_wkb", Seq(BinaryType, DoubleType, DoubleType),
      a => Exprs.PipWkb(a(0), a(1), a(2)))
    mk("tile_cover", Seq(BinaryType, IntegerType), a => Exprs.TileCoverExpr(a(0), a(1)))
    mk("rect_wkb", Seq(DoubleType, DoubleType, DoubleType, DoubleType),
      a => Exprs.RectWkb(a(0), a(1), a(2), a(3)))
    mk("extract_text", Seq(BinaryType), a => Exprs.ExtractText(a(0)))
    mk("tokenize", Seq(StringType), a => Exprs.TokenizeExpr(a(0)))
    mk("phrase_form", Seq(StringType), a => Exprs.PhraseFormExpr(a(0)))
    mk("doc_fingerprint", Seq(StringType), a => Exprs.DocFingerprint(a(0)))
    mk("simhash64", Seq(StringType), a => Exprs.SimHash(a(0)))
    mk("minhash_sig", Seq(StringType, IntegerType, IntegerType),
      a => Exprs.MinHashSig(a(0), a(1), a(2)))
    mk("lsh_bands", Seq(AL, IntegerType), a => Exprs.LshBandsFromSig(a(0), a(1)))
    mk("del_keys", Seq(StringType), a => Exprs.DelKeys(a(0)))
    mk("sorted_inter_count", Seq(AL, AL), a => Exprs.SortedInterCount(a(0), a(1)))
  }
}
