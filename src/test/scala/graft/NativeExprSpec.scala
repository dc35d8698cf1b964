package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native expressions must be value-identical to the declarative
  * formulations the DuckDB oracle runs — these tests pin that equivalence
  * on real data so a refactor can't silently break oracle parity.
  */
class NativeExprSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"

  private def mismatches(leftRight: org.apache.spark.sql.DataFrame): Long =
    leftRight.filter(col("a") =!= col("b") ||
      (col("a").isNull !== col("b").isNull)).count()

  test("gram_hashes == declarative shingle hashing") {
    val d = Tables.t(spark, dir, "documents").filter(length(col("text")) >= 5)
      .select(
        expr("gram_hashes(text, 5, 2147483647)").as("a"),
        expr("array_sort(array_distinct(transform(array_distinct(transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))), s -> CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT) % 2147483647)))")
          .as("b"))
    assert(mismatches(d) == 0)
  }

  test("minhash_sig == declarative universal-hash minima") {
    val d = Tables.t(spark, dir, "documents").filter(length(col("text")) >= 5)
      .select(expr("gram_hashes(text, 5, 2147483647)").as("hs"))
      .select(
        expr("minhash_sig(hs)").as("a"),
        expr("""transform(sequence(0, 23), j -> array_min(transform(hs,
               |  h -> ((((j + 1) * 2654435761) % 2147483647) * h
               |        + ((j + 7) * 40503) % 2147483647) % 2147483647)))""".stripMargin)
          .as("b"))
    assert(mismatches(d) == 0)
  }

  test("simhash48 == declarative bit-sum formulation") {
    val decl = (0 until 48)
      .map(b => s"CASE WHEN aggregate(ths, 0, (acc, h) -> acc + (CASE WHEN (h div ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    val d = Tables.t(spark, dir, "documents")
      .select(col("text"),
        expr("transform(array_distinct(split(text, ' ')), tok -> CAST(conv(substring(md5(tok), 1, 14), 16, 10) AS BIGINT))")
          .as("ths"))
      .select(
        expr("simhash48(split(text, ' '))").as("a"),
        expr(s"CAST($decl AS BIGINT)").as("b"))
    assert(mismatches(d) == 0)
  }

  test("extensions expose the native functions to plain SQL") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "simhash48(array('a', 'b')) AS s").head()
    assert(r.getDouble(0) == 11.0 && r.getLong(1) > 0)
  }

  test("intersect_sorted == size(array_intersect) on shingle sets") {
    val g = Tables.t(spark, dir, "documents").filter(length(col("text")) >= 5)
      .select(col("doc_id"), expr("gram_hashes(text, 5, 2147483647)").as("hs"))
      .limit(80)
    val d = g.as("x").crossJoin(g.as("y"))
      .select(
        expr("intersect_sorted(x.hs, y.hs)").as("a"),
        size(array_intersect(col("x.hs"), col("y.hs"))).cast("long").as("b"))
    assert(mismatches(d) == 0)
  }

  test("gram_counts == declarative per-occurrence explode counts") {
    val docs = Tables.t(spark, dir, "documents").filter(length(col("text")) >= 3)
    val a = docs
      .select(explode(expr("gram_counts(text, 3)")).as(Seq("g", "c")))
      .groupBy("g").agg(sum("c").cast("long").as("n"))
    val b = docs
      .select(explode(
        expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("g"))
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("array_counts == declarative explode-and-group term counts") {
    val docs = Tables.t(spark, dir, "documents")
    val a = docs.select(col("doc_id"),
      explode(expr("array_counts(split(text, ' '))")).as(Seq("term", "tf")))
    val b = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("every native function is SQL-callable via the extensions path") {
    // GraftExtensions is the only registration path, so this pins that it
    // exposes the FULL canonical list (it had drifted: intersect_sorted /
    // gram_counts / array_counts were missing from it) — in the built
    // session and in a newSession() derived from it.
    for (s <- Seq(spark, spark.newSession());
         (name, _, _) <- graft.functions.NativeFunctions.all) {
      val fn = s.sessionState.catalog
        .lookupFunctionInfo(org.apache.spark.sql.catalyst
          .FunctionIdentifier(name))
      assert(fn.getName == name, s"$name not resolvable via extensions")
    }
  }

  test("vec_dot == declarative left-to-right fold, bit for bit") {
    val d = Tables.t(spark, dir, "embeddings")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(
        expr("vec_dot(v, v)").as("a"),
        expr("aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("b"))
    assert(mismatches(d) == 0)
  }
}
