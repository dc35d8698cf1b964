package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** The canonical (name, usage, builder) list of every native function the
  * library ships — the ONE place a new expression is added. A session gets
  * these functions only through [[graft.GraftExtensions]], which injects
  * this list when the session is created (and so into every newSession()
  * derived from it); no builder registers a function itself.
  */
object NativeFunctions {

  private def intArg(e: Expression): Int =
    e.eval() match { case i: Int => i; case l: Long => l.toInt }
  private def longArg(e: Expression): Long =
    e.eval() match { case i: Int => i.toLong; case l: Long => l }

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", "minhash_sig(arr) - 24 universal-hash minima",
      exprs => MinHashSig(exprs.head, 24)),
    ("vec_dot", "vec_dot(a, b) - ordered-fold dot product",
      exprs => VecDot(exprs(0), exprs(1))),
    ("gram_hashes",
      "gram_hashes(s, n, mod) - distinct md5-prefix n-gram hashes",
      exprs => GramHashes(exprs.head, intArg(exprs(1)), longArg(exprs(2)))),
    ("simhash48", "simhash48(arr) - 48-bit simhash of string array",
      exprs => SimHash48(exprs.head)),
    ("jaccard_sorted",
      "jaccard_sorted(a, b) - merge-walk Jaccard of sorted long arrays",
      exprs => JaccardSorted(exprs(0), exprs(1))),
    ("intersect_sorted",
      "intersect_sorted(a, b) - merge-walk intersection count",
      exprs => IntersectSorted(exprs(0), exprs(1))),
    ("gram_counts", "gram_counts(s, n) - char n-gram occurrence counts",
      exprs => GramCounts(exprs.head, intArg(exprs(1)))),
    ("array_counts", "array_counts(arr) - element occurrence counts",
      exprs => ArrayCounts(exprs.head)))
}
