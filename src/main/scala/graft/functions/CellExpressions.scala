package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlBridge.{column => mkCol, expression => exprOf}
import graft.geo.{HexCell, PlanarCell, S2Lite, ZCell}

/** Codegen'd Catalyst expressions for the hot-path cell-id encodes (north
  * rule: batched cell-ID encoding — these stay inside whole-stage codegen,
  * unlike Scala UDFs which break the generated pipeline with a boxed
  * function call + serialization fence). Each compiles to a single static
  * call on the pure geo codec. */
abstract class CellEncodeBase extends TernaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  def codecCall: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"$codecCall($a, $b, $c)")
}

/** zcell(lon, lat, res) — Z-order quadtree cell id. */
case class ZCellEncode(first: Expression, second: Expression, third: Expression)
    extends CellEncodeBase {
  override def prettyName: String = "zcell"
  def codecCall = "graft.geo.ZCell$.MODULE$.encode"
  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    ZCell.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** hexcell(lon, lat, res) — H3-style hex cell id. */
case class HexCellEncode(first: Expression, second: Expression, third: Expression)
    extends CellEncodeBase {
  override def prettyName: String = "hexcell"
  def codecCall = "graft.geo.HexCell$.MODULE$.encode"
  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    HexCell.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** s2cell(lon, lat, level) — S2-style cube-face cell id. */
case class S2CellEncode(first: Expression, second: Expression, third: Expression)
    extends CellEncodeBase {
  override def prettyName: String = "s2cell"
  def codecCall = "graft.geo.S2Lite$.MODULE$.encode"
  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    S2Lite.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** planar_cell(x, y, size) — projected-plane grid cell id. */
case class PlanarCellEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def prettyName: String = "planar_cell"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any, s: Any): Any =
    PlanarCell.encode(x.asInstanceOf[Double], y.asInstanceOf[Double], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.geo.PlanarCell$$.MODULE$$.encode($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}

/** cell_kring(cell, k) on the planar grid — array of cells for ring-join
  * explode (interpreted eval; the array-building step isn't codegen-hot). */
case class PlanarKRing(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback
    with Serializable {
  override def prettyName: String = "planar_kring"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(cell: Any, k: Any): Any =
    new GenericArrayData(
      PlanarCell.kRing(cell.asInstanceOf[Long], k.asInstanceOf[Int]).toArray)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column-level API + SQL registration. */
object GraftFunctions {
  private def d(c: Column) = exprOf(c.cast("double"))
  private def i(c: Column) = exprOf(c.cast("int"))
  private def l(c: Column) = exprOf(c.cast("long"))
  def zcell(lon: Column, lat: Column, res: Column): Column =
    mkCol(ZCellEncode(d(lon), d(lat), i(res)))
  def hexcell(lon: Column, lat: Column, res: Column): Column =
    mkCol(HexCellEncode(d(lon), d(lat), i(res)))
  def s2cell(lon: Column, lat: Column, level: Column): Column =
    mkCol(S2CellEncode(d(lon), d(lat), i(level)))
  def planarCell(x: Column, y: Column, size: Column): Column =
    mkCol(PlanarCellEncode(d(x), d(y), d(size)))
  def planarKRing(cell: Column, k: Column): Column =
    mkCol(PlanarKRing(l(cell), i(k)))

  private def cd(e: Expression) = Cast(e, DoubleType)
  private def ci(e: Expression) = Cast(e, IntegerType)
  private def cl(e: Expression) = Cast(e, LongType)
  /** (SQL name, expression class, builder) */
  private[functions] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("zcell", classOf[ZCellEncode], es => ZCellEncode(cd(es(0)), cd(es(1)), ci(es(2)))),
    ("hexcell", classOf[HexCellEncode], es => HexCellEncode(cd(es(0)), cd(es(1)), ci(es(2)))),
    ("s2cell", classOf[S2CellEncode], es => S2CellEncode(cd(es(0)), cd(es(1)), ci(es(2)))),
    ("planar_cell", classOf[PlanarCellEncode], es => PlanarCellEncode(cd(es(0)), cd(es(1)), cd(es(2)))),
    ("planar_kring", classOf[PlanarKRing], es => PlanarKRing(cl(es(0)), ci(es(1)))),
    ("vec_dot", classOf[VecDot], es => VecDot(es(0), es(1))))

  /** Register on a live session (SQL-callable: `SELECT zcell(lon, lat, 9)`). */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, _, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
  }
}

/** `SparkSessionExtensions` hook: `--conf spark.sql.extensions=
  * graft.functions.GraftExtensions` registers the functions at session build
  * (the spark-submit path of the north rule). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, cls, b) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b))
    }
    // custom whole-operator plan: nearest-time as-of join (graft.plans)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
