package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The PQ encode — `graft_pq_codes(emb)` over the raw codebooks
  * (TrainedPqCodebooks) and `graft_pqr_codes(residual)` over the residual
  * ones (TrainedPqrCodebooks): the M-byte code row of a double array, each
  * byte the 0-based index of its subspace's nearest centroid.
  *
  * The squared distance sums (x_d - c_d)·(x_d - c_d) left to right over the
  * SubDim components, the same IEEE sequence as the DuckDB mirror's
  * unrolled SQL, and the argmin is the first minimum under Spark's double
  * order (NaN above every value) — what array_position(dists,
  * array_min(dists)) picks. A null or missing component makes its distance
  * null, which the minimum skips; a subspace without a distance codes as
  * null. One node reads the codebook by reference: the unrolled expression
  * tree it replaces held M × Ksub distance subtrees, each holding the
  * encode's input, so a residual input (the row minus its cell's centroid
  * literal) shipped 4,096 copies of that literal in a 27 MiB task binary.
  */
case class PqCodes(emb: Expression, residual: Boolean) extends UnaryExpression
    with CodegenFallback {

  override def child: Expression = emb

  override def checkInputDataTypes(): TypeCheckResult = emb.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = true)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input).asInstanceOf[ArrayData]
    val cb = if (residual) PqrSim.flat else PqSim.flat
    val (m, k, sub) = (PqSim.M, PqSim.K, PqSim.SubDim)
    def x(i: Int): java.lang.Double =
      if (e == null || i >= e.numElements() || e.isNullAt(i)) null else e.getDouble(i)
    new GenericArrayData(Array.tabulate[Any](m) { j =>
      var best = 0.0
      var code = -1
      var c = 0
      while (c < k) {
        var dist: java.lang.Double = null
        var d = 0
        while (d < sub) {
          val v = x(j * sub + d)
          if (v == null) { dist = null; d = sub }
          else {
            val diff = v - cb((j * k + c) * sub + d)
            dist = if (d == 0) diff * diff else dist + diff * diff
            d += 1
          }
        }
        if (dist != null && (code < 0 || SQLOrderingUtil.compareDoubles(dist, best) < 0)) {
          best = dist; code = c
        }
        c += 1
      }
      if (code < 0) null else code.toByte
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(emb = newChild)

  override def prettyName: String = if (residual) "graft_pqr_codes" else "graft_pq_codes"
}
