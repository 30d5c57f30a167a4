package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 16-slot nibble histogram of a
  * payload, in ONE fused pass.
  *
  * The multimodal family's byte-distribution features (m37 entropy,
  * m40 drift L1, m50 segment mass, the m46/m47/m48 frame kernels) were
  * first written as sixteen `length(x) - length(replace(x, c, ''))`
  * counters — native UTF8String ops, but SIXTEEN full scans of every
  * payload (and always over the 2× hex rendering). This expression
  * produces the identical counts with one pass:
  *
  *  - `STRING` input (a `lower(hex(...))` rendering or any hex slice):
  *    each ASCII hex char bumps its value's slot; non-hex bytes are
  *    ignored — exactly the chars the replace-counters counted.
  *  - `BINARY` input: each byte contributes its high and low nibble —
  *    equivalent to histogramming the hex rendering WITHOUT
  *    materializing the 2× string at all.
  *
  * Output `array<long>` of exactly 16 non-null counts. All-integer, so
  * every consumer's oracle parity is untouched — the DuckDB side keeps
  * replaying the per-nibble counting arithmetic; only the Spark-side
  * evaluation strategy changes. Codegen'd (`doGenCode`) so the scan
  * stays inside whole-stage codegen next to the surrounding projection.
  */
case class NibbleHist(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nibble_hist expects string or binary, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nibble_hist"

  private def isBinary: Boolean = child.dataType == BinaryType

  override def nullSafeEval(input: Any): Any = {
    val h = new Array[Long](16)
    if (isBinary) {
      val bytes = input.asInstanceOf[Array[Byte]]
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        h(b >>> 4) += 1L
        h(b & 0xf) += 1L
        i += 1
      }
    } else {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < bytes.length) {
        val c = bytes(i) & 0xff
        if (c >= '0' && c <= '9') h(c - '0') += 1L
        else if (c >= 'a' && c <= 'f') h(c - 'a' + 10) += 1L
        else if (c >= 'A' && c <= 'F') h(c - 'A' + 10) += 1L
        i += 1
      }
    }
    new GenericArrayData(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val h = ctx.freshName("hist")
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val body =
        if (isBinary)
          s"""
             |byte[] $bytes = $in;
             |for (int $i = 0; $i < $bytes.length; $i++) {
             |  int $c = $bytes[$i] & 0xff;
             |  $h[$c >>> 4] += 1L;
             |  $h[$c & 0xf] += 1L;
             |}
             |""".stripMargin
        else
          s"""
             |byte[] $bytes = $in.getBytes();
             |for (int $i = 0; $i < $bytes.length; $i++) {
             |  int $c = $bytes[$i] & 0xff;
             |  if ($c >= '0' && $c <= '9') $h[$c - '0'] += 1L;
             |  else if ($c >= 'a' && $c <= 'f') $h[$c - 'a' + 10] += 1L;
             |  else if ($c >= 'A' && $c <= 'F') $h[$c - 'A' + 10] += 1L;
             |}
             |""".stripMargin
      s"""
         |long[] $h = new long[16];
         |$body
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($h);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
