package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes,
  Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the IVF-PQ asymmetric-distance (ADC)
  * lookup: score = Σ_j table[j·ksub + code(j)] over a BINARY PQ code
  * column, with the per-query lookup table (m·ksub doubles — KBs) riding
  * in the expression itself.
  *
  * This replaces a typed `Dataset.map` closure on the ADC scan — at the
  * 100 TB target that scan IS the hot loop of every IVF-PQ query, and
  * the closure forced DeserializeToObject/SerializeFromObject around a
  * per-row lambda. As an expression the scan stays inside whole-stage
  * codegen: primitive byte[] access, a flat double[] lookup, no row
  * materialization.
  *
  * On valid codes the semantics match the closure it replaced exactly:
  * evaluation is the same j-ascending sequential fold (bit-identical
  * sums), and only the first min(code.length, m) bytes are read. A code
  * byte ≥ ksub (corrupt index) yields NULL and callers drop the row: a
  * deliberate change from the closure, which %-wrapped such a byte into
  * a valid but wrong slot and scored the row anyway.
  */
case class AdcScore(child: Expression, table: Array[Double], ksub: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(ksub > 0, s"ksub must be positive, got $ksub")
  require(table.length % ksub == 0,
    s"table length ${table.length} is not a multiple of ksub $ksub")

  override def inputTypes = Seq(BinaryType)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "adc_score"

  private def m: Int = table.length / ksub

  override protected def nullSafeEval(input: Any): Any = {
    val code = input.asInstanceOf[Array[Byte]]
    var s = 0.0
    var j = 0
    val n = math.min(code.length, m)
    while (j < n) {
      val ci = code(j) & 0xff
      if (ci >= ksub) return null
      s += table(j * ksub + ci)
      j += 1
    }
    s
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tab = ctx.addReferenceObj("adcTable", table, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val ci = ctx.freshName("ci")
      s"""
         |final int $n = java.lang.Math.min($c.length, $m);
         |double $s = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  final int $ci = $c[$j] & 0xff;
         |  if ($ci >= $ksub) {
         |    ${ev.isNull} = true;
         |    break;
         |  }
         |  $s += $tab[$j * $ksub + $ci];
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): AdcScore = copy(child = newChild)
}

object AdcScore {

  /** Codegen'd ADC score of a BINARY code column under a flat
    * (m·ksub) lookup table → DOUBLE (NULL on corrupt code bytes).
    */
  def adcScore(code: Column, table: Array[Double], ksub: Int): Column =
    GraftColumnBridge.column(
      AdcScore(GraftColumnBridge.expression(code), table, ksub))
}
