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
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType,
  DoubleType, FloatType, IntegerType, TypeCollection}

/** A driver-held cosine quantizer: cell ids in tie-break order
  * (ascending, a null id last) and each cell's centroid. A centroid with
  * a null component is stored as null: its norm, and so every cosine
  * against it, is null.
  */
final class CellTable private (ids: Array[Integer],
    cells: Array[Array[Double]]) extends Serializable {

  private val norms: Array[Double] = cells.map(c =>
    if (c == null) 0.0 else math.sqrt(CellTable.dot(c, c, c.length)))

  /** The argmax of `cc = v·c / (|v|·|c|)` over the cells — the exact
    * `max(struct(cc, −cl))` of the (vector × centroid) cross join it
    * replaces:
    *  - every term is VecDotD's double left fold (floats widened), then
    *    the same `sqrt`, `*` and `/` in the same operand order;
    *  - Divide's null rules: a null divisor, or a zero divisor outside
    *    ANSI mode, makes cc null; a zero divisor in ANSI mode raises
    *    DIVIDE_BY_ZERO unless the dot is null;
    *  - Spark's double order: NaN greatest, null lowest, −0.0 = 0.0;
    *    ties go to the earlier cell, i.e. the smaller id. A vector whose
    *    cc is null against every cell (a null embedding, or a null
    *    element) lands in the first cell.
    * Zero cells → null.
    */
  def nearest(v: ArrayData, isFloat: Boolean,
      failOnError: Boolean): Integer = {
    if (ids.isEmpty) return null
    // a null vector, or a null element (it nulls |v|), makes every cc
    // null: the first cell wins
    if (v == null) return ids(0)
    val n = v.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return ids(0)
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val vn = math.sqrt(CellTable.dot(x, x, n))
    var best = -1
    var bestCc = 0.0
    var j = 0
    while (j < ids.length) {
      val c = cells(j)
      if (c != null) {
        val div = vn * norms(j)
        if (div != 0 || failOnError) {
          val dot = CellTable.dot(x, c, math.min(n, c.length))
          if (div == 0) throw QueryExecutionErrors.divideByZeroError(null)
          val cc = dot / div
          if (best < 0 || SQLOrderingUtil.compareDoubles(cc, bestCc) > 0) {
            best = j
            bestCc = cc
          }
        }
      }
      j += 1
    }
    ids(math.max(best, 0))
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

/** `NearestCell(embedding, cells)`: the id of the cell whose centroid has
  * the highest cosine with the vector (see [[CellTable.nearest]]), over
  * float or double arrays.
  *
  * The centroid matrix reaches generated code as a reference object,
  * never as inlined literals, so the generated source — and Janino's
  * compile cache entry — is the same for every centroid set: a Lloyd
  * loop that re-projects each round compiles once, not once per round.
  * `failOnError` is captured at construction, as Divide captures it.
  */
case class NearestCell(child: Expression, cells: CellTable,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_cell"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

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

object NearestCell {
  /** Column-API entry point: `cv(i)` is the centroid of cell `ids(i)`. */
  def nearest(v: Column, ids: Array[Integer],
      cv: Array[Array[java.lang.Double]]): Column =
    ExpressionUtils.column(NearestCell(ExpressionUtils.expression(v),
      CellTable(ids, cv)))
}
