package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, FloatType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Geom
import graft.index.CellGrid

/** Native Catalyst expressions for the hot spatial primitives —
  * preferred over Scala UDFs (no boxing/encoder round-trip; CellPack
  * generates straight-line Java inside whole-stage codegen).
  *
  * Registered for SQL by [[GraftFunctions.register]] on a live session
  * (idempotent: it replaces any earlier registration):
  *   graft_cell_pack(lonM, latM, res)          → packed long cell id
  *   graft_cell_cover(x0,y0,x1,y1, res)        → array<long> covering
  *   graft_rect_poly(x0,y0,x1,y1, wkt)         → exact rect∩polygon
  *   graft_rect_probe(x0,y0,x1,y1, cix,ciy,
  *                    bx0,by0,bx1,by1, res)    → hit indices of a bucket
  */

/** Packed covering-cell id of a point (mdeg) at `res` — the equi-join
  * key; full whole-stage codegen. */
case class CellPack(lon: Expression, lat: Expression, res: Expression)
    extends TernaryExpression {
  override def first: Expression = lon
  override def second: Expression = lat
  override def third: Expression = res
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (lon.dataType == LongType && lat.dataType == LongType &&
        res.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cell_pack(bigint, bigint, int), got " +
        s"(${lon.dataType}, ${lat.dataType}, ${res.dataType})")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(lonV: Any, latV: Any, resV: Any): Any = {
    val r = resV.asInstanceOf[Int]
    val sh = CellGrid.Shift - r
    (((lonV.asInstanceOf[Long] + CellGrid.OffX) >> sh) * CellGrid.IxMul) +
      ((latV.asInstanceOf[Long] + CellGrid.OffY) >> sh)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lonC, latC, resC) =>
      s"""
         |int graft_sh = ${CellGrid.Shift} - $resC;
         |${ev.value} = ((($lonC + ${CellGrid.OffX}L) >> graft_sh) *
         |  ${CellGrid.IxMul}L) + (($latC + ${CellGrid.OffY}L) >> graft_sh);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Covering-cell id set of an mdeg bbox at `res` (H3-polyfill analog);
  * row-major deterministic order. */
case class CellCover(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 5, "graft_cell_cover(x0,y0,x1,y1,res)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val Seq(x0, y0, x1, y1) = vals.take(4).map(_.asInstanceOf[Long])
    val res = vals(4).asInstanceOf[Int]
    new GenericArrayData(
      CellGrid.cover(res, Geom.BBoxI(x0, y0, x1, y1))
        .map(id => CellGrid.ixOf(id) * CellGrid.IxMul + CellGrid.iyOf(id)))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** Exact rect-vs-polygon overlap (ray-casting refine). Coordinates in
  * mdeg, polygon as WKT; parsed rings are memoized per expression
  * instance (per task) so repeated polygons — the broadcast side of
  * the join — parse once, not once per probe row. */
case class RectIntersectsPoly(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 5, "graft_rect_poly(x0,y0,x1,y1,wkt)")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  @transient private lazy val ringCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Double], Array[Double])]()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val Seq(x0, y0, x1, y1) = vals.take(4).map(_.asInstanceOf[Long])
    val wkt = vals(4).asInstanceOf[UTF8String].toString
    val (xs, ys) = ringCache.computeIfAbsent(wkt,
      _ => Geom.parsePolygonWkt(wkt))
    java.lang.Boolean.valueOf(Geom.rectIntersectsPolygon(
      Geom.BBoxD(x0 / 1000.0, y0 / 1000.0, x1 / 1000.0, y1 / 1000.0), xs, ys))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** Hilbert xy2d key of a (x, y) cell in the 2^order grid — wraps
  * [[Kernels.hilbertXY2D]] (O(order) loop) so whole-stage codegen
  * emits one static call instead of the ~3^order re-substituted
  * Column tree the pure-functions form would build. */
case class HilbertKey(left: Expression, right: Expression, order: Int)
    extends BinaryExpression {
  require(order >= 1 && order <= 31, s"hilbert order=$order out of range")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_hilbert(bigint, bigint, int), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(x: Any, y: Any): Any =
    Kernels.hilbertXY2D(x.asInstanceOf[Long], y.asInstanceOf[Long], order)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expr.Kernels.hilbertXY2D($x, $y, $order);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r, order)
}

/** The covering-cell rect join's refine over one polygon BUCKET: the
  * indices (array<int>, ascending) of the bucket boxes (bx0…by1, four
  * aligned array<bigint>, bx0 ascending) that overlap the probe box
  * (x0…y1) and whose intersection's min corner lies in the probe row's
  * cell (cix, ciy) at `res` — `SpatialJoin.overlapsOnce` for a whole
  * bucket in one static loop ([[Kernels.rectProbe]]). Full codegen:
  * the generated Java reuses one index buffer per task. Null if any
  * input is null; bucket boxes have no null elements (a null bbox
  * covers no cell). */
case class RectProbe(children: Seq[Expression], res: Int) extends Expression {
  require(children.length == 10,
    "graft_rect_probe(x0,y0,x1,y1, cix,ciy, bx0,by0,bx1,by1, res)")
  private def sh: Int = CellGrid.Shift - res
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.take(6).forall(_.dataType == LongType) &&
        children.drop(6).forall(_.dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        }))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_rect_probe(6 × bigint, 4 × array<bigint>, int), got " +
        children.map(_.dataType).mkString("(", ", ", ")"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v.contains(null)) return null
    val Seq(x0, y0, x1, y1, cix, ciy) = v.take(6).map(_.asInstanceOf[Long])
    val Seq(bx0, by0, bx1, by1) = v.drop(6).map(_.asInstanceOf[ArrayData])
    val hits = new Array[Int](bx0.numElements())
    val m = Kernels.rectProbe(x0, y0, x1, y1, cix, ciy, sh, bx0, by0, bx1, by1, hits)
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hits, m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val anyNull = cs.map(_.isNull.toString).mkString(" || ")
    val args = cs.map(_.value.toString)
    val buf = ctx.addMutableState("int[]", "graftProbeHits", v => s"$v = new int[0];")
    val m = ctx.freshName("graftProbeN")
    ev.copy(code = Block.blocksToBlock(cs.map(_.code)) + code"""
      |boolean ${ev.isNull} = $anyNull;
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  if ($buf.length < ${args(6)}.numElements()) {
      |    $buf = new int[${args(6)}.numElements()];
      |  }
      |  int $m = graft.expr.Kernels.rectProbe(${args.take(6).mkString(", ")}, $sh,
      |    ${args.drop(6).mkString(", ")}, $buf);
      |  ${ev.value} = UnsafeArrayData.fromPrimitiveArray($buf,
      |    org.apache.spark.unsafe.Platform.INT_ARRAY_OFFSET, $m, 4);
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren, res)
}

object GraftFunctions {
  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal int, got $e")
  }

  // data-derived constants (e.g. a PQ codebook / IVF centroid set):
  // shipped through the function call as a foldable array literal,
  // extracted once at expression build time and embedded as a codegen
  // reference object
  private def longArrayLit(e: Expression, name: String): Array[Long] = e match {
    case l @ Literal(_, ArrayType(LongType, _)) if l.value != null =>
      l.value.asInstanceOf[ArrayData].toLongArray()
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal array<bigint>, got $e")
  }

  private def floatArrayLit(e: Expression, name: String): Array[Float] = e match {
    case l @ Literal(_, ArrayType(FloatType, _)) if l.value != null =>
      l.value.asInstanceOf[ArrayData].toFloatArray()
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal array<float>, got $e")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cell_pack" -> (es => CellPack(es(0), es(1), es(2))),
    "graft_cell_cover" -> (es => CellCover(es)),
    "graft_rect_poly" -> (es => RectIntersectsPoly(es)),
    "graft_rect_probe" -> (es => RectProbe(es.take(10),
      intLit(es(10), "graft_rect_probe res"))),
    // text/vector hot kernels (round 4): codegen expressions calling
    // static Kernels methods — see VecExprs
    "graft_cosine" -> (es => CosineSim(es(0), es(1))),
    "graft_minhash" -> (es => MinhashSig(es(0), intLit(es(1), "graft_minhash n"))),
    "graft_lsh_buckets" -> (es => LshBuckets(es(0),
      intLit(es(1), "tables"), intLit(es(2), "nb"), intLit(es(3), "dim"))),
    // product quantization (round 4): exact-integer encode / distance
    // table / ADC scoring — see VecExprs and Kernels.pq*
    "graft_pq_codes" -> (es => PqCodes(es(0),
      longArrayLit(es(1), "graft_pq_codes cb"),
      intLit(es(2), "m"), intLit(es(3), "ks"))),
    "graft_pq_dtab" -> (es => PqDtab(es(0),
      longArrayLit(es(1), "graft_pq_dtab cb"),
      intLit(es(2), "m"), intLit(es(3), "ks"))),
    "graft_pq_adc" -> (es => PqAdc(es(0), es(1), intLit(es(2), "ks"))),
    "graft_ivf_assign" -> (es => IvfAssign(es(0),
      floatArrayLit(es(1), "graft_ivf_assign cents"), intLit(es(2), "kc"))),
    "graft_hilbert" -> (es => HilbertKey(es(0), es(1),
      intLit(es(2), "graft_hilbert order"))))

  /** Idempotent registration on a live session. */
  def register(spark: SparkSession): Unit = all.foreach { case (name, b) =>
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, b, "built-in")
  }
}
