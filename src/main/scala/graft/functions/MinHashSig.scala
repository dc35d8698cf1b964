package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native k-MinHash signature over an array of pre-hashed shingles.
  *
  * Semantically identical to the declarative form
  * `transform(sequence(0,k-1), j -> array_min(transform(hs, h -> (a_j*h+b_j) mod p)))`
  * (universal hashes a_j=((j+1)*2654435761) mod p, b_j=((j+7)*40503) mod p,
  * p=2^31-1 — the DuckDB oracle runs exactly that formula), but evaluated
  * in one tight primitive loop instead of k nested lambda evaluations per
  * element — Spark's higher-order functions pay per-element closure and
  * boxing costs that dominate MinHash at scale.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  private val p = 2147483647L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // Can return null from non-null input (empty array).
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // Empty set -> null (array_min of an empty array is null); a sentinel
    // signature would make all empty documents "near-duplicates".
    if (n == 0) return null
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = ((j + 1) * 2654435761L) % p
      val b = ((j + 7) * 40503L) % p
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        // Reduce the shingle hash mod p BEFORE the affine step: a raw
        // 56-bit hash times a ~2^31 multiplier wraps Long (~2^87) and a
        // negative remainder would beat every legitimate minimum. With
        // h < p the product stays under 2^62 — identity for callers that
        // already pass mod-p hashes (all current ones), total-function
        // safe for any other input.
        val v = (a * (arr.getLong(i) % p) + b) % p
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
