package graft.text

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe of a string column against a BROADCAST Bloom
  * filter — the executor-side half of the bloom-prefilter
  * decontamination regime ([[Decontamination.reportWithBloom]]).
  *
  * The filter travels as a `Broadcast` handle, NOT as expression
  * state: the plan tree (and every task closure) carries only the
  * broadcast id, and each executor fetches the filter bits once —
  * embedding a multi-hundred-MB filter as a literal would bloat the
  * plan the same way a corpus-sized `array_intersect` literal does.
  *
  * Probing hashes the column's UTF-8 bytes (`UTF8String.getBytes`),
  * which is byte-identical to what [[Decontamination.gramBloom]]'s
  * builder inserts via `BloomFilter.putString` — build and probe are
  * two halves of one contract, so false NEGATIVES are impossible by
  * construction and the prefilter is safe for exact results.
  * Null input yields null (standard unary null propagation).
  */
case class BloomMightContain(child: Expression, bloom: Broadcast[BloomFilter])
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "bloom_might_contain"

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain needs string, got $other")
  }

  // One fetch per executor (broadcast semantics), resolved lazily so
  // the driver-side plan copy never touches the bits.
  @transient private lazy val filter: BloomFilter = bloom.value

  override def nullSafeEval(input: Any): Any =
    filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
