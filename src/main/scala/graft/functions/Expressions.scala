package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.core.{Raycast, ZGrid, PhashLoc, TileMath}

/** Codegen-able Catalyst expressions for the hot integer kernels
  * (SURVEY.md §4 "custom Catalyst surface — deliberately minimal").
  * Each emits a static call into the shared graft.core kernel, so the
  * distributed path, the ScalaTest oracle, and the fixture generator all
  * execute literally the same JVM bytecode — parity by construction.
  */

/** Morton cell id at a fixed grid level: `zcell(lonMicro, latMicro)`.
  * Replaces the reference's XYGrid.getId scan key
  * [ref: oshdb/…/index/XYGrid.java :: getId].
  */
case class ZCellExpr(lon: Expression, lat: Expression, level: Int)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def left: Expression = lon
  override def right: Expression = lat
  override def dataType: DataType = LongType
  override def prettyName: String = "zcell"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    ZGrid.cellAt(level, l.asInstanceOf[Long], r.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.core.ZGrid$$.MODULE$$.cellAt($level, $l, $r);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ZCellExpr =
    copy(lon = newLeft, lat = newRight)
}

/** `ring_cells(lonMicro, latMicro)` — Morton ids of the (2r+1)² cell square
  * around the containing cell (ZGrid.ringCells): the k-ring primitive of the
  * DataFrame-valued kNN join. r and level are plan-time constants (a new
  * expression instance per expansion round).
  */
case class RingCellsExpr(lon: Expression, lat: Expression, level: Int, r: Int,
                         wrapX: Boolean = false)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def left: Expression = lon
  override def right: Expression = lat
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ring_cells"
  override protected def nullSafeEval(l: Any, rt: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ZGrid.ringCells(level, l.asInstanceOf[Long], rt.asInstanceOf[Long], r, wrapX))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, rt) =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.core.ZGrid$$.MODULE$$.ringCells($level, $l, $rt, $r, $wrapX));")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RingCellsExpr =
    copy(lon = newLeft, lat = newRight)
}

/** phash → micro-degree longitude/latitude (Morton de-interleave). */
case class PhashLonExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "phash_lon"
  override protected def nullSafeEval(v: Any): Any = PhashLoc.lonMicro(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.PhashLoc$$.MODULE$$.lonMicro($c)")
  override protected def withNewChildInternal(c: Expression): PhashLonExpr = copy(child = c)
}

case class PhashLatExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "phash_lat"
  override protected def nullSafeEval(v: Any): Any = PhashLoc.latMicro(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.PhashLoc$$.MODULE$$.latMicro($c)")
  override protected def withNewChildInternal(c: Expression): PhashLatExpr = copy(child = c)
}

/** `raycast_pip_edges(lonMicro, latMicro, edges)` — exact integer
  * ray-cast PIP refine against the clipped edge list a PARTIAL cover row
  * carries (see [[graft.core.CoverCell]]): the reference's per-snapshot
  * polygon test [ref: oshdb-util/…/geometry/fip/FastPointInPolygon.java]
  * run over the few edges of the point's cell (Raycast.classifyEdges), so a
  * join whose polygon side is a table refines inside the generated loop
  * with no Row decode and no lookup. A null edge list (FULL cover cells
  * ship none) yields null.
  */
case class RaycastPipEdgesExpr(lon: Expression, lat: Expression, edges: Expression)
    extends TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def first: Expression = lon
  override def second: Expression = lat
  override def third: Expression = edges
  override def dataType: DataType = BooleanType
  override def prettyName: String = "raycast_pip_edges"
  override protected def nullSafeEval(l: Any, la: Any, e: Any): Any =
    Raycast.classifyEdges(l.asInstanceOf[Long], la.asInstanceOf[Long],
      e.asInstanceOf[ArrayData].toLongArray()) != 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, la, e) =>
      s"${ev.value} = graft.core.Raycast$$.MODULE$$.classifyEdges($l, $la, $e.toLongArray()) != 0;")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): RaycastPipEdgesExpr =
    copy(lon = f, lat = s, edges = t)
}

/** Equirect web-tile x/y (integer-exact, oracle-expressible) and Mercator
  * slippy-map x/y (standard OSM tiling; double math at the final floor).
  */
case class TileXExpr(child: Expression, z: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "tile_x"
  override protected def nullSafeEval(v: Any): Any = TileMath.equirectX(z, v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TileMath$$.MODULE$$.equirectX($z, $c)")
  override protected def withNewChildInternal(c: Expression): TileXExpr = copy(child = c)
}
case class TileYExpr(child: Expression, z: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "tile_y"
  override protected def nullSafeEval(v: Any): Any = TileMath.equirectY(z, v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TileMath$$.MODULE$$.equirectY($z, $c)")
  override protected def withNewChildInternal(c: Expression): TileYExpr = copy(child = c)
}
case class MercTileXExpr(child: Expression, z: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "merc_tile_x"
  override protected def nullSafeEval(v: Any): Any =
    TileMath.mercatorX(z, v.asInstanceOf[Long].toDouble / 1e6)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TileMath$$.MODULE$$.mercatorX($z, $c / 1.0E6D)")
  override protected def withNewChildInternal(c: Expression): MercTileXExpr = copy(child = c)
}
case class MercTileYExpr(child: Expression, z: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "merc_tile_y"
  override protected def nullSafeEval(v: Any): Any =
    TileMath.mercatorY(z, v.asInstanceOf[Long].toDouble / 1e6)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TileMath$$.MODULE$$.mercatorY($z, $c / 1.0E6D)")
  override protected def withNewChildInternal(c: Expression): MercTileYExpr = copy(child = c)
}

/** Column-level API over the expressions. */
object GraftFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def zcell(lonMicro: Column, latMicro: Column, level: Int): Column =
    column(ZCellExpr(expression(lonMicro), expression(latMicro), level))
  def ringCells(lonMicro: Column, latMicro: Column, level: Int, r: Int,
                wrapX: Boolean = false): Column =
    column(RingCellsExpr(expression(lonMicro), expression(latMicro), level, r, wrapX))
  def phashLon(phash: Column): Column = column(PhashLonExpr(expression(phash)))
  def phashLat(phash: Column): Column = column(PhashLatExpr(expression(phash)))
  def raycastPipEdges(lon: Column, lat: Column, edges: Column): Column =
    column(RaycastPipEdgesExpr(expression(lon), expression(lat), expression(edges)))
  def tileX(lonMicro: Column, z: Int): Column = column(TileXExpr(expression(lonMicro), z))
  def tileY(latMicro: Column, z: Int): Column = column(TileYExpr(expression(latMicro), z))
  def mercTileX(lonMicro: Column, z: Int): Column = column(MercTileXExpr(expression(lonMicro), z))
  def mercTileY(latMicro: Column, z: Int): Column = column(MercTileYExpr(expression(latMicro), z))
}
