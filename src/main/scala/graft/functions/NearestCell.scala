package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructType}

/** Native Catalyst expression assigning a vector to its nearest IVF
  * centroid cell (argmax cosine) in ONE primitive loop
  * ([[AnnOps.cellFold]]) — the codegen'd replacement for an aggregate
  * fold over the centroids, which dispatches an interpreted lambda step
  * (wrapping a [[DotProduct]] eval) per centroid per row.
  *
  * Semantics are BIT-identical to the fold (NearestCellSpec A/Bs them):
  * nrm = sqrt(sequential Σe_i²), per candidate cs = (sequential
  * Σ e_i·c_i) / (nrm·c_nrm), strict `>` argmax in cid order — the
  * lowest cid wins ties, matching the oracle's ORDER BY csim DESC, cid.
  */
case class NearestCell(left: Expression, right: Expression)
    extends BinaryExpression {

  private def embOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  // array< struct<cid:long, c_emb:array<float|double>, c_nrm:double> >
  private def centsOk(dt: DataType): Boolean = dt match {
    case ArrayType(s: StructType, _) if s.length == 3 =>
      s(0).dataType == LongType && embOk(s(1).dataType) &&
        s(2).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (embOk(left.dataType) && centsOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<struct<cid,c_emb,c_nrm>>), got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell"

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  private def centFloat: Boolean = right.dataType match {
    case ArrayType(s: StructType, _) => isFloat(s(1).dataType)
    case _ => false
  }

  override def nullSafeEval(emb: Any, cents: Any): Any = {
    val cid = NearestCell.compute(emb.asInstanceOf[ArrayData],
      cents.asInstanceOf[ArrayData], isFloat(left.dataType), centFloat)
    if (cid < 0) null else cid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c) =>
      s"""${ev.value} = graft.functions.NearestCell.compute($e, $c,
         |  ${isFloat(left.dataType)}, $centFloat);
         |if (${ev.value} < 0L) { ${ev.isNull} = true; }""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

object NearestCell {

  /** Sequential-fold arithmetic in the exact order of the Column form —
    * see the class doc. Returns the sentinel −1 when no candidate wins:
    * an empty `cents` array, or a zero-norm embedding (nrm 0 makes
    * every cosine NaN and `NaN > best` is false). The expression maps
    * the sentinel to SQL NULL rather than silently assigning the vector
    * to a nonexistent cell.
    */
  def compute(emb: ArrayData, cents: ArrayData,
      embFloat: Boolean, centFloat: Boolean): Long = {
    val dim = emb.numElements()
    val e = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      e(i) = if (embFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < dim) { acc += e(i) * e(i); i += 1 }
    val nrm = math.sqrt(acc)
    var best = Double.NegativeInfinity
    var bestCid = -1L
    var k = 0
    val n = cents.numElements()
    while (k < n) {
      val c = cents.getStruct(k, 3)
      val cv = c.getArray(1)
      var dotv = 0.0
      var x = 0
      while (x < dim) {
        dotv += e(x) * (if (centFloat) cv.getFloat(x).toDouble else cv.getDouble(x))
        x += 1
      }
      val cs = dotv / (nrm * c.getDouble(2))
      if (cs > best) { best = cs; bestCid = c.getLong(0) }
      k += 1
    }
    bestCid
  }
}
