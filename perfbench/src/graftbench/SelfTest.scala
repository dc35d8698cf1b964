package graftbench

import graft.sources.Glog
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: aggregates, the result fingerprint, the
  * log_store generator and model. Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero on the first failure.
  */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try body
    catch {
      case e: Throwable =>
        System.err.println(s"[selftest] FAIL $name: $e")
        sys.exit(1)
    }
    passed += 1
    System.err.println(s"[selftest] ok   $name")
  }

  private def expectThrows(body: => Any): Unit = {
    val threw = try { body; false } catch { case _: IllegalArgumentException => true }
    assert(threw, "expected IllegalArgumentException")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1, math.abs(b))

  def main(args: Array[String]): Unit = {
    test("median of odd and even sample counts") {
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
      assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
      expectThrows(Stats.median(Nil))
    }
    test("gmean") {
      assert(close(Stats.gmean(Seq(1.0, 100.0)), 10.0))
      assert(close(Stats.gmean(Seq(2.0, 8.0, 4.0)), 4.0))
      expectThrows(Stats.gmean(Seq(1.0, 0.0)))
      expectThrows(Stats.gmean(Nil))
    }
    test("a percentile needs ten samples beyond it") {
      assert(Stats.hasTail(100, 90))
      assert(!Stats.hasTail(99, 90))
      assert(Stats.hasTail(20, 50) && !Stats.hasTail(19, 50))
      assert(Stats.hasTail(1000, 99) && !Stats.hasTail(999, 99))
      assert(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    }
    test("json quoting") {
      assert(Json.quote("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
      assert(Json.obj("x" -> 1.5, "y" -> Seq(1, 2), "z" -> "s") == """{"x":1.5,"y":[1,2],"z":"s"}""")
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val rows = Seq((1L, "a", 1.5, Map("k" -> 1L)), (2L, "b", 2.5, Map("k" -> 2L)),
        (3L, null, -0.5, Map.empty[String, Long]), (4L, "d", 4.5, Map("j" -> 4L)))
      def fp(rs: Seq[(Long, String, Double, Map[String, Long])], parts: Int = 1) =
        Fingerprint.value(Fingerprint.of(rs.toDF("id", "s", "x", "m").repartition(parts)))
      val base = fp(rows)
      test("fingerprint is order-insensitive") {
        assert(fp(rows.reverse) == base)
        assert(fp(rows, 3) == base)
        assert(base.startsWith("4:"))
      }
      test("fingerprint sees a changed row") {
        assert(fp(rows.updated(1, (2L, "b", 2.5000001, Map("k" -> 2L)))) != base)
        assert(fp(rows.updated(0, (1L, "a", 1.5, Map("k" -> 9L)))) != base)
      }
      test("fingerprint sees a dropped row") {
        assert(fp(rows.tail) != base)
      }
      test("fingerprint sees a duplicated row") {
        assert(fp(rows :+ rows.head) != base)
        assert(fp(rows ++ rows) != fp(rows :+ rows.head :+ rows(1)))
      }
      test("fingerprint of an empty result") {
        assert(Fingerprint.value(Fingerprint.of(Seq.empty[(Long, String)].toDF("a", "b"))) ==
          "0:0000000000000000:0000000000000000")
      }
    } finally spark.stop()

    test("generator: same seed, same records") {
      assert(LogGen.records(7, 0, 500) == LogGen.records(7, 0, 500))
      assert(LogGen.records(7, 0, 500) != LogGen.records(8, 0, 500))
    }
    test("generator: shape") {
      val r = LogGen.records(3, 1000, 5000)
      assert(r.map(_.eventId) == (1000L until 6000L))
      assert(r.forall(p => p.part >= 0 && p.part < LogGen.Parts && LogGen.Topics.contains(p.topic)))
      assert(r.map(_.tms).sliding(2).forall { case Seq(a, b) => b >= a - 8 })
      val keys = r.groupBy(_.k).values.map(_.size).toSeq.sorted.reverse
      assert(keys.head > 10 * keys(keys.size / 2), "keys are not skewed")
      assert(r.map(_.v.length).distinct.size > 50, "value sizes do not vary")
    }
    test("model: offsets per partition in event order, ends") {
      val m = new LogModel
      val p = Seq(Produced("t", 0, 5, 50, "a", "x"), Produced("t", 0, 3, 30, "b", "y"),
        Produced("t", 1, 4, 40, "a", "z"))
      val recs = m.append(p)
      assert(recs.filter(_.part == 0).map(r => (r.event_id, r.offs)) == Seq((3L, 0L), (5L, 1L)))
      m.append(Seq(Produced("t", 1, 9, 90, "c", "w")))
      assert(m.ends == Map("t/0" -> 2L, "t/1" -> 2L))
      assert(m.range("t", 1, 1, 10).map(_.event_id) == Seq(9L))
      assert(m.since("t", 0, 40).map(_.event_id) == Seq(5L))
    }
    test("model: compaction keeps the latest by (tms, event_id) with its offset") {
      val m = new LogModel
      m.append(Seq(Produced("t", 0, 1, 100, "k", "old"), Produced("t", 0, 2, 90, "k", "late"),
        Produced("t", 0, 3, 100, "k", "tie"), Produced("t", 0, 4, 10, "j", "only")))
      val c = m.compacted
      assert(c.map(r => (r.k, r.v, r.offs)) == Seq(("k", "tie", 2L), ("j", "only", 3L)))
      val s = new LogModel
      s.load(c)
      assert(s.range("t", 0, 1, 3).map(_.v) == Seq("tie"))
      assert(s.end("t", 0) == 4L)
    }
    System.err.println(s"[selftest] $passed passed")
  }
}
