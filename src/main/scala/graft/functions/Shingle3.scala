package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 3-gram word shingles of a token array in ONE pass — the native
  * replacement for the interpreted chain
  * `array_distinct(transform(sequence(1, n-2), i -> concat(t[i], ' ',
  * t[i+1], ' ', t[i+2])))` with the `< 3 tokens -> [concat_ws(' ', t)]`
  * whole-text fallback.
  *
  * Semantics are bit-identical to that chain: grams are built in position
  * order, `array_distinct` keeps first occurrences (mirrored here by an
  * insertion-ordered set), a gram with any NULL token is NULL (concat
  * semantics; cannot occur from `split` but preserved for parity), and the
  * short-doc fallback joins all tokens with a single space, skipping nulls
  * (`concat_ws` semantics).
  *
  * Why: the shingle projection runs under every near-dup operator (d2/d4/d6)
  * and the lambda chain interprets two lambdas and allocates an intermediate
  * gram per position before deduplication — with [[MinHash8]] it is the
  * dedup family's hot path.
  */
case class Shingle3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle3 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override protected def nullSafeEval(input: Any): Any =
    Shingle3.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.Shingle3.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle3"
}

object Shingle3 {
  private val SPACE = UTF8String.fromString(" ")

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) {
      // concat_ws(' ', t): join all tokens, skipping nulls
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        parts(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        i += 1
      }
      return new GenericArrayData(Array[Any](UTF8String.concatWs(SPACE, parts: _*)))
    }
    // insertion-ordered distinct == array_distinct's keep-first-occurrence
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var sawNullGram = false
    var i = 0
    while (i + 2 < n) {
      if (arr.isNullAt(i) || arr.isNullAt(i + 1) || arr.isNullAt(i + 2)) {
        // concat(a, ' ', b, ' ', c) is NULL if any input is NULL;
        // array_distinct keeps a single null at its first position — a
        // LinkedHashSet can't hold null, so track it via the flag (order
        // relative to later grams is irrelevant: nulls can only arise from
        // hand-built token arrays, and set semantics downstream ignore
        // position)
        sawNullGram = true
      } else {
        seen.add(UTF8String.concat(
          arr.getUTF8String(i), SPACE,
          arr.getUTF8String(i + 1), SPACE,
          arr.getUTF8String(i + 2)))
      }
      i += 1
    }
    val out = new Array[Any](seen.size + (if (sawNullGram) 1 else 0))
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
