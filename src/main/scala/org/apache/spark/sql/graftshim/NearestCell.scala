/** Lives under org.apache.spark.sql for the same reason as FloatVecDot:
  * the expression/Column bridge APIs are private[sql].
  */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData,
  SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType,
  DoubleType, FloatType, IntegerType, TypeCollection}

/** A driver-held cosine quantizer: cell ids in tie-break order
  * (ascending, a null id last) and each cell's centroid. A centroid with
  * a null component is stored as null: its norm, and so every cosine
  * against it, is null.
  *
  * Both kernels score `cc = v·c / (|v|·|c|)` as the (vector × centroid)
  * cross join over a `(cl, cv)` frame does (KmeansSpec keeps that join as
  * the test-side reference and compares against it):
  *  - every term is VecDotD's double left fold (floats widened), then the
  *    same `sqrt`, `*` and `/` in the same operand order;
  *  - Divide's null rules: a null divisor, or a zero divisor outside ANSI
  *    mode, makes cc null; a zero divisor in ANSI mode raises
  *    DIVIDE_BY_ZERO unless the dot is null;
  *  - Spark's double order: NaN greatest, null lowest, −0.0 = 0.0.
  * A null vector, or a null element (it nulls |v|), makes every cc null.
  */
final class CellTable private (ids: Array[Integer],
    cells: Array[Array[Double]]) extends Serializable {

  private val norms: Array[Double] = cells.map(c =>
    if (c == null) 0.0 else math.sqrt(CellTable.dot(c, c, c.length)))

  /** `v` widened to doubles; null when `v` or one of its elements is. */
  private def doubles(v: ArrayData, isFloat: Boolean): Array[Double] = {
    if (v == null) return null
    val n = v.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    x
  }

  /** Whether cc against cell `j` is null for a non-null vector of norm
    * `vn`: a null centroid, or a zero divisor outside ANSI mode. */
  private def nullCc(vn: Double, j: Int, failOnError: Boolean): Boolean =
    cells(j) == null || (vn * norms(j) == 0 && !failOnError)

  /** cc against a cell where [[nullCc]] is false. */
  private def cc(x: Array[Double], vn: Double, j: Int): Double = {
    val c = cells(j)
    val div = vn * norms(j)
    val dot = CellTable.dot(x, c, math.min(x.length, c.length))
    if (div == 0) throw QueryExecutionErrors.divideByZeroError(null)
    dot / div
  }

  /** The argmax of cc over the cells: the cross join's
    * `max(struct(cc, −cl))`. Ties go to the earlier cell, i.e. the
    * smaller id; a vector whose cc is null against every cell lands in
    * the first cell. Zero cells → null.
    */
  def nearest(v: ArrayData, isFloat: Boolean,
      failOnError: Boolean): Integer = {
    if (ids.isEmpty) return null
    val x = doubles(v, isFloat)
    if (x == null) return ids(0)
    val vn = math.sqrt(CellTable.dot(x, x, x.length))
    var best = -1
    var bestCc = 0.0
    var j = 0
    while (j < ids.length) {
      if (!nullCc(vn, j, failOnError)) {
        val c = cc(x, vn, j)
        if (best < 0 || SQLOrderingUtil.compareDoubles(c, bestCc) > 0) {
          best = j
          bestCc = c
        }
      }
      j += 1
    }
    ids(math.max(best, 0))
  }

  /** The ids of the `n` best cells, best first, in the cross join's
    * window order `cc DESC NULLS LAST, cl ASC NULLS FIRST`: it differs
    * from [[nearest]]'s order only in putting a null id first among
    * ties. `n` past the cell count ranks every cell.
    */
  def top(v: ArrayData, n: Int, isFloat: Boolean,
      failOnError: Boolean): ArrayData = {
    val x = doubles(v, isFloat)
    val vn = if (x == null) 0.0 else math.sqrt(CellTable.dot(x, x, x.length))
    val score = Array.tabulate[java.lang.Double](ids.length)(j =>
      if (x == null || nullCc(vn, j, failOnError)) null else cc(x, vn, j))
    def ahead(a: Int, b: Int): Boolean = {
      val c =
        if (score(a) == null || score(b) == null)
          (if (score(b) == null) 1 else 0) - (if (score(a) == null) 1 else 0)
        else SQLOrderingUtil.compareDoubles(score(a), score(b))
      if (c != 0) c > 0 else ids(b) != null && (ids(a) == null || a < b)
    }
    new GenericArrayData(
      ids.indices.sortWith(ahead).take(n).map(ids(_)).toArray[Any])
  }

  override def toString: String = s"cells(${ids.length})"
}

object CellTable {
  private def dot(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a(i) * b(i)
      i += 1
    }
    s
  }

  /** Cells in any order; ids unique. */
  def apply(ids: Array[Integer],
      cv: Array[Array[java.lang.Double]]): CellTable = {
    require(ids.length == cv.length, "one centroid per cell id")
    val order = ids.indices.sortBy(i =>
      if (ids(i) == null) (1, 0) else (0, ids(i).intValue))
    new CellTable(order.map(i => ids(i)).toArray, order.map { i =>
      val c = cv(i)
      if (c == null || c.contains(null)) null else c.map(_.doubleValue)
    }.toArray)
  }
}

/** A float or double vector in, a driver-held [[CellTable]] reached from
  * generated code as a reference object, never as inlined literals: the
  * generated source — and Janino's compile cache entry — is the same for
  * every centroid set, so a Lloyd loop that re-projects each round
  * compiles once, not once per round. `failOnError` is captured at
  * construction, as Divide captures it.
  */
sealed trait CellKernel extends UnaryExpression with ExpectsInputTypes {
  def cells: CellTable

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))

  protected def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** `NearestCell(embedding, cells)`: the id of the cell whose centroid has
  * the highest cosine with the vector (see [[CellTable.nearest]]).
  */
case class NearestCell(child: Expression, cells: CellTable,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends CellKernel {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_cell"

  override def eval(input: InternalRow): Any =
    cells.nearest(child.eval(input).asInstanceOf[ArrayData], isFloat,
      failOnError)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cells", cells)
    val v = child.genCode(ctx)
    val r = ctx.freshName("cell")
    ev.copy(code = code"""
      ${v.code}
      Integer $r = $ref.nearest(${v.isNull} ? null : ${v.value},
        $isFloat, $failOnError);
      boolean ${ev.isNull} = $r == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${ev.isNull} ? -1 : $r.intValue();""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCell = copy(child = newChild)
}

/** `TopCells(embedding, cells, n)`: the ids of the `n` cells nearest the
  * vector, best first (see [[CellTable.top]]). Never null: a null vector
  * ranks the cells by id alone.
  */
case class TopCells(child: Expression, cells: CellTable, n: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends CellKernel {

  override def dataType: DataType = ArrayType(IntegerType)

  override def nullable: Boolean = false

  override def prettyName: String = "top_cells"

  override def eval(input: InternalRow): Any =
    cells.top(child.eval(input).asInstanceOf[ArrayData], n, isFloat,
      failOnError)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cells", cells)
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.top(
        ${v.isNull} ? null : ${v.value}, $n, $isFloat, $failOnError);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TopCells = copy(child = newChild)
}

object NearestCell {
  /** Column-API entry point: `cv(i)` is the centroid of cell `ids(i)`. */
  def nearest(v: Column, ids: Array[Integer],
      cv: Array[Array[java.lang.Double]]): Column =
    ExpressionUtils.column(NearestCell(ExpressionUtils.expression(v),
      CellTable(ids, cv)))

  /** [[nearest]]'s ranking form: the `n` nearest cell ids, best first. */
  def top(v: Column, n: Int, ids: Array[Integer],
      cv: Array[Array[java.lang.Double]]): Column =
    ExpressionUtils.column(TopCells(ExpressionUtils.expression(v),
      CellTable(ids, cv), n))
}
