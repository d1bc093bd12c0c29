package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the hierarchical cell indexes (north rule:
  * "assigns every geometry to H3 (res 7-12) and S2 cells"). Codegen'd static
  * calls keep cell-key derivation inside whole-stage codegen on the join
  * probe path (millions of rows per task at 100 TB scale).
  */

/** `s2_cell(lng, lat, level)` — 64-bit S2 cell id (graft.geo.S2, bit-faithful
  * to the published S2 algorithm). Non-finite coordinates yield NULL, like
  * the other cell-key expressions (see TileKeyExpr scaladoc).
  */
case class S2CellExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "s2_cell"
  override def nullSafeEval(lng: Any, lat: Any, level: Any): Any = {
    val lngd = lng.asInstanceOf[Double]; val latd = lat.asInstanceOf[Double]
    if (java.lang.Double.isFinite(lngd) && java.lang.Double.isFinite(latd))
      graft.geo.S2.latLngToCell(lngd, latd, level.asInstanceOf[Int])
    else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lng, lat, l) =>
      s"""if (java.lang.Double.isFinite($lng) && java.lang.Double.isFinite($lat)) {
         |  ${ev.value} = graft.geo.S2.latLngToCell($lng, $lat, $l);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): S2CellExpr = copy(first = a, second = b, third = c)
}

/** `s2_token(id)` — canonical compact hex token of an S2 cell id. */
case class S2TokenExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def prettyName: String = "s2_token"
  override def nullSafeEval(id: Any): Any =
    UTF8String.fromString(graft.geo.S2.token(id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, id =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.geo.S2.token($id))")
  override protected def withNewChildInternal(c: Expression): S2TokenExpr = copy(child = c)
}

/** `hex_cell(lng, lat, res)` — aperture-7 hexagonal cell id (graft.geo.Hex,
  * H3 API semantics; see Hex scaladoc for the bit-compatibility caveat).
  *
  * Non-finite coordinates yield NULL (no containing cell) — the axial
  * rounding would otherwise silently land on the (q=0, r=0) cell, and the
  * [[graft.plans.CellRangeDerivation]] range conjuncts would contradict the
  * bogus cell match (TileKeyExpr scaladoc has the soundness argument).
  */
case class HexCellExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hex_cell"
  override def nullSafeEval(lng: Any, lat: Any, res: Any): Any = {
    val lngd = lng.asInstanceOf[Double]; val latd = lat.asInstanceOf[Double]
    if (java.lang.Double.isFinite(lngd) && java.lang.Double.isFinite(latd))
      graft.geo.Hex.latLngToCell(lngd, latd, res.asInstanceOf[Int])
    else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lng, lat, r) =>
      s"""if (java.lang.Double.isFinite($lng) && java.lang.Double.isFinite($lat)) {
         |  ${ev.value} = graft.geo.Hex.latLngToCell($lng, $lat, $r);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): HexCellExpr = copy(first = a, second = b, third = c)
}

/** `geohash(lng, lat, chars)` — base-32 geohash string of length `chars`
  * (graft.geo.Geohash closed-form interleave; the string-prefix cell
  * index — `substring(gh, 1, k)` is the k-char parent). Non-finite
  * coordinates yield NULL, like the other cell-key expressions.
  */
case class GeohashExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "geohash"
  override def nullSafeEval(lng: Any, lat: Any, chars: Any): Any = {
    val lngd = lng.asInstanceOf[Double]; val latd = lat.asInstanceOf[Double]
    if (java.lang.Double.isFinite(lngd) && java.lang.Double.isFinite(latd))
      UTF8String.fromString(
        graft.geo.Geohash.encode(lngd, latd, chars.asInstanceOf[Int]))
    else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lng, lat, c) =>
      s"""if (java.lang.Double.isFinite($lng) && java.lang.Double.isFinite($lat)) {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    graft.geo.Geohash.encode($lng, $lat, $c));
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): GeohashExpr = copy(first = a, second = b, third = c)
}

/** `hex_parent(cell, parentRes)` — coarser-resolution ancestor of an
  * aperture-7 hex cell (center-containment parentage, the H3 API's
  * cellToParent) — the multi-resolution rollup key.
  */
case class HexParentExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_parent"
  override def nullSafeEval(cell: Any, res: Any): Any =
    graft.geo.Hex.cellToParent(cell.asInstanceOf[Long], res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cell, res) =>
      s"graft.geo.Hex.cellToParent($cell, $res)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): HexParentExpr = copy(left = l, right = r)
}

/** `zorder_key(lng, lat)` — 32-bit Morton write-clustering key
  * (graft.geo.Morton; sort-before-write locality for row-group pruning).
  */
case class ZOrderKeyExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"
  override def nullSafeEval(lng: Any, lat: Any): Any =
    graft.geo.Morton.key(lng.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lng, lat) => s"graft.geo.Morton.key($lng, $lat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrderKeyExpr =
    copy(left = l, right = r)
}

/** `hilbert_key(lng, lat)` — 16-bit order-8 Hilbert write-clustering key
  * (graft.geo.Hilbert; consecutive keys are always grid-adjacent, the
  * tighter-locality alternative to [[ZOrderKeyExpr]]). Non-finite
  * coordinates yield NULL, like the other cell-key expressions.
  */
case class HilbertKeyExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_key"
  override def nullSafeEval(lng: Any, lat: Any): Any = {
    val lngd = lng.asInstanceOf[Double]; val latd = lat.asInstanceOf[Double]
    if (java.lang.Double.isFinite(lngd) && java.lang.Double.isFinite(latd))
      graft.geo.Hilbert.key(lngd, latd)
    else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lng, lat) =>
      s"""if (java.lang.Double.isFinite($lng) && java.lang.Double.isFinite($lat)) {
         |  ${ev.value} = graft.geo.Hilbert.key($lng, $lat);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertKeyExpr =
    copy(left = l, right = r)
}

/** Column API + SQL registration. */
object cells {
  private def col(e: Expression): Column = GraftColumns.column(e)
  private def ex(c: Column): Expression = GraftColumns.expression(c)

  def s2_cell(lng: Column, lat: Column, level: Column): Column =
    col(S2CellExpr(ex(lng.cast(DoubleType)), ex(lat.cast(DoubleType)),
      ex(level.cast(IntegerType))))
  def s2_token(id: Column): Column = col(S2TokenExpr(ex(id.cast(LongType))))
  def hex_cell(lng: Column, lat: Column, res: Column): Column =
    col(HexCellExpr(ex(lng.cast(DoubleType)), ex(lat.cast(DoubleType)),
      ex(res.cast(IntegerType))))
  def hex_parent(cell: Column, parentRes: Column): Column =
    col(HexParentExpr(ex(cell.cast(LongType)), ex(parentRes.cast(IntegerType))))
  def geohash(lng: Column, lat: Column, chars: Column): Column =
    col(GeohashExpr(ex(lng.cast(DoubleType)), ex(lat.cast(DoubleType)),
      ex(chars.cast(IntegerType))))
  def zorder_key(lng: Column, lat: Column): Column =
    col(ZOrderKeyExpr(ex(lng.cast(DoubleType)), ex(lat.cast(DoubleType))))
  def hilbert_key(lng: Column, lat: Column): Column =
    col(HilbertKeyExpr(ex(lng.cast(DoubleType)), ex(lat.cast(DoubleType))))

  /** Hex grid distance between two SAME-RESOLUTION packed cells (the h3
    * `gridDistance` API as column arithmetic): unpack the offset-encoded
    * axial coords straight from the cell id's bit layout
    * ([[graft.geo.Hex.pack]]) and take the standard axial metric
    * `(|dq| + |dr| + |dq+dr|) / 2` — the sum is always even, so the final
    * halving is an exact `shiftright`. Pure codegen'd integer bit ops
    * (no UDF, no unpack round trip through the driver); this is the
    * distance the kNN ring expansion's pruning bound quantifies over, made
    * queryable — e.g. "how many rings apart are these two point sets".
    */
  def hex_grid_distance(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{abs, lit, shiftright}
    def qOf(c: Column): Column =
      shiftright(c, 29).bitwiseAND(lit((1L << 29) - 1)) - lit(1L << 28)
    def rOf(c: Column): Column =
      c.bitwiseAND(lit((1L << 29) - 1)) - lit(1L << 28)
    val dq = qOf(a) - qOf(b)
    val dr = rOf(a) - rOf(b)
    shiftright(abs(dq) + abs(dr) + abs(dq + dr), 1)
  }

  /** All same-resolution cells within hex grid distance `k` of `cell` (the
    * h3 `gridDisk` / kRing API) as a plan-time literal-offset array:
    * [[graft.geo.Hex.pack]] is LINEAR in (q, r), so every disk member is
    * the cell id plus one 64-bit constant `(dq << 29) + dr` — the
    * 1+3k(k+1) offsets are enumerated when the plan is built and the whole
    * disk is pure codegen'd adds (no UDF, no driver round trip). This is
    * the neighborhood-expansion primitive of kRing smoothing / hotspot
    * dilation: explode(hex_disk(cell, k)) fans each aggregated CELL out to
    * its bounded neighborhood — shuffle traffic scales with cells × disk,
    * never with the points inside them.
    */
  def hex_disk(cell: Column, k: Int): Column = {
    require(k >= 0, s"k must be >= 0: $k")
    import org.apache.spark.sql.functions.{array, lit}
    val offs = for { dq <- -k to k
                     dr <- math.max(-k, -dq - k) to math.min(k, -dq + k) }
      yield (dq, dr)
    array(offs.map { case (dq, dr) =>
      cell + lit((dq.toLong << 29) + dr.toLong) }: _*)
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("s2_cell",
      es => S2CellExpr(es.head, es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("s2_token", es => S2TokenExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("hex_cell",
      es => HexCellExpr(es.head, es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("hex_parent",
      es => HexParentExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("geohash",
      es => GeohashExpr(es.head, es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("zorder_key",
      es => ZOrderKeyExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("hilbert_key",
      es => HilbertKeyExpr(es.head, es(1)), "built-in")
  }
}
