package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.LongType

/** `child IN keys` for a bigint column against a sorted key array, by
  * binary search; null on a null input.
  *
  * The maintained stores' bounded read filters on every upsert key, up
  * to tens of thousands of them. As one literal per key, or as an
  * `InSet`, the plan holds each key as an object: analysis, the plan
  * string rendered for every execution and each task's deserialized
  * closure pay per key (an IVF read with 60 000 upsert keys spent 0.8 s
  * beyond its scan that way). Here the keys are one primitive array,
  * and plans render their count and content hash. */
case class LongKeyIn(child: Expression, keys: Array[Long])
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"key_in requires a bigint input, got ${child.dataType.catalogString}")

  override def prettyName: String = "key_in"

  override protected def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(keys, v.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ks = ctx.addReferenceObj("keys", keys, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ks, $c) >= 0")
  }

  override def toString: String =
    s"$child IN (${keys.length} keys #${java.util.Arrays.hashCode(keys)})"

  // keys compare by content, so two reads of one key set plan alike
  override def equals(o: Any): Boolean = o match {
    case k: LongKeyIn => k.child == child && java.util.Arrays.equals(k.keys, keys)
    case _ => false
  }
  override def hashCode: Int = 31 * child.hashCode + java.util.Arrays.hashCode(keys)

  override protected def withNewChildInternal(c: Expression): LongKeyIn = copy(child = c)
}
