package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5-prefix hash: value of the first 14 hex chars of md5(s) —
  * identical to `conv(substring(md5(s),1,14),16,10)` in Spark SQL and
  * `('0x' || substring(md5(s),1,14))::BIGINT` in DuckDB (first 7 digest
  * bytes, big-endian).
  */
private[functions] object Md5Prefix {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def hash(bytes: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(bytes)
    ((h(0) & 0xffL) << 48) | ((h(1) & 0xffL) << 40) | ((h(2) & 0xffL) << 32) |
      ((h(3) & 0xffL) << 24) | ((h(4) & 0xffL) << 16) | ((h(5) & 0xffL) << 8) |
      (h(6) & 0xffL)
  }
}

/** Distinct character n-grams of a string, md5-prefix-hashed (optionally
  * mod `m`), sorted ascending. Set-equivalent to
  * `array_distinct(transform(transform(sequence(1, length(s)-n+1),
  * i -> substring(s, i, n)), g -> conv-md5 [% m]))` but one pass, no
  * per-gram lambda machinery; the sort lets downstream set operations
  * (JaccardSorted) run as merge walks. ASCII-equivalent to SQL substring
  * semantics (the corpus is ASCII; SQL counts code points, this counts
  * UTF-16 units).
  */
case class GramHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val count = s.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val seenGrams = new java.util.HashSet[String](count * 2)
    val seenVals = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[java.lang.Long](count)
    var i = 0
    while (i < count) {
      val g = s.substring(i, i + n)
      if (seenGrams.add(g)) {
        var h = Md5Prefix.hash(g.getBytes("UTF-8"))
        if (mod > 0) h = h % mod
        if (mod <= 0 || seenVals.add(h)) out.add(h)
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** Jaccard similarity of two SORTED long arrays (as produced by
  * [[GramHashes]]) via a merge walk — value-identical to
  * `size(array_intersect(a,b)) / size(array_union(a,b))` on distinct sets,
  * without per-pair hash-set construction. Returns null on an empty union
  * (matching Spark's divide-by-zero semantics).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Can return null from non-null inputs (empty union).
  override def nullable: Boolean = true

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $inter++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |int $union = $na + $nb - $inter;
         |if ($union == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = (double) $inter / (double) $union; }
       """.stripMargin
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) null else inter.toDouble / union.toDouble
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED long arrays (as produced by
  * [[GramHashes]]) via the same merge walk as [[JaccardSorted]] —
  * value-identical to `size(array_intersect(a, b))` on distinct sorted
  * sets, without per-pair hash-set construction.
  */
case class IntersectSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val inter = ctx.freshName("inter")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $inter++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $inter;
       """.stripMargin
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSorted =
    copy(left = newLeft, right = newRight)
}

/** Character n-gram occurrence counts of a string as a gram -> count map —
  * the in-row combiner for corpus n-gram profiles: exploding the map emits
  * one row per DISTINCT gram per document instead of one per occurrence
  * (3-4x fewer generator rows on this corpus), and the global rollup
  * becomes a SUM of partial counts. Count-equivalent to exploding
  * `transform(sequence(1, length(s)-n+1), i -> substring(s, i, n))`.
  */
case class GramCounts(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, LongType, valueContainsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Iterate by code points, not UTF-16 units: Spark's substring() and the
    // DuckDB oracle both slice by code point, so grams over supplementary
    // characters (emoji etc.) must match that boundary rule.
    val cp = s.codePoints().toArray
    val count = cp.length - n + 1
    val m = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < math.max(count, 0)) {
      val g = new String(cp, i, n)
      // missing keys unbox to 0L, so this is a plain counter bump
      m.put(g, m.getOrDefault(g, 0L) + 1L)
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey)
      vals(j) = e.getValue
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(newChild: Expression): GramCounts =
    copy(child = newChild)
}

/** Occurrence counts of the elements of a string array as an
  * element -> count map (first-appearance order) — the in-row combiner for
  * term frequencies: exploding the map yields (term, tf) directly, so
  * per-document TF needs no aggregation shuffle at all. Count-equivalent
  * to exploding the array and grouping — EXCEPT for null elements, which
  * are dropped (a map key cannot be null) where explode+groupBy would
  * count a null group; callers feeding anything beyond split() output
  * must filter nulls first.
  */
case class ArrayCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, LongType, valueContainsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // Key the counter map on UTF8String directly (content-hashed): the
    // old String round trip paid a UTF-16 decode per token plus a UTF-8
    // re-encode per distinct key — pure per-row overhead on the hottest
    // tokenize path (guide §4). Keys are cloned for the output map so no
    // returned bytes alias the input row's buffer.
    val m = new java.util.LinkedHashMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      val e = arr.getUTF8String(i)
      if (e != null) m.put(e, m.getOrDefault(e, 0L) + 1L)
      i += 1
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey.clone()
      vals(j) = e.getValue
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayCounts =
    copy(child = newChild)
}

/** 48-bit SimHash over the distinct elements of a string array: token ->
  * md5-prefix hash; bit b contributes +1/-1 by (h div 2^b) % 2; result sets
  * bit b iff the sum is positive. Matches the declarative 48-aggregate
  * formulation the DuckDB oracle runs.
  */
case class SimHash48(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // UTF8String content-hashes directly — no per-token UTF-16 decode.
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val sums = new Array[Int](48)
    var i = 0
    while (i < n) {
      val tok = arr.getUTF8String(i)
      if (tok != null && seen.add(tok)) {
        val h = Md5Prefix.hash(tok.getBytes)
        var b = 0
        while (b < 48) {
          if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 48) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash48 =
    copy(child = newChild)
}
