package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class QuerySpec(name: String, module: String)
final case class Expected(fingerprint: String, coldJobs: Long)

/** One timed query call: the builder `fn(spark, dir)` (which may run eager
  * collects and checkpoints), then the result's fingerprint, computed by
  * Spark, as the action. The timing covers both.
  */
final case class QueryCall(ms: Double, buildMs: Double, fp: String,
    k: ExecCounters, jobWallMs: Long, catalyst: Map[String, Double],
    cachedBytes: Long, persistedRdds: Int, buildJobs: Long)

object QueryWorkload {
  /** Warm calls per query; in a traced run half of them are traced. A third
    * round of the eleven queries would make every run 11-14 s longer on a
    * 4-core host.
    */
  val WarmRounds = 2
}

/** registry_queries: a warm-up pass over the small dataset (JIT only),
  * one cold pass over the measured dataset in the committed order, then
  * warm rounds in a seeded order.
  */
final class QueryWorkload(spark: SparkSession, probe: ExecProbe, tracer: Tracer,
    specs: Seq[QuerySpec], expected: Map[String, Expected], m: Metrics) {

  def call(spec: QuerySpec, dir: String, detail: Boolean): Either[String, QueryCall] =
    SparkEntry.queries.get(spec.name) match {
      case None => Left(s"${spec.name}: not in SparkEntry.queries")
      case Some(fn) => timedCall(spec, fn, dir, detail)
    }

  private def timedCall(spec: QuerySpec,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String,
      detail: Boolean): Either[String, QueryCall] =
    tracer.op(s"query ${spec.name}") {
      try {
        probe.begin()
        val t0 = System.nanoTime()
        val df = tracer.span("build")(fn(spark, dir))
        val t1 = System.nanoTime()
        val buildJobs = if (detail) probe.peekJobs() else 0L
        val fpDf = tracer.span("plan")(Fingerprint.of(df))
        val fp = tracer.span("execute")(Fingerprint.value(fpDf))
        val t2 = System.nanoTime()
        val k = probe.end()
        val catalyst =
          if (!detail) Map.empty[String, Double]
          else {
            import scala.jdk.CollectionConverters._
            fpDf.queryExecution.tracker.phases.map { case (n, s) => n -> s.durationMs.toDouble }
          }
        val (bytes, rdds) =
          if (!detail) (0L, 0)
          else {
            val info = spark.sparkContext.getRDDStorageInfo
            (info.map(i => i.memSize + i.diskSize).sum, info.length)
          }
        Right(QueryCall((t2 - t0) / 1e6, (t1 - t0) / 1e6, fp, k, probe.jobWallMs(k),
          catalyst, bytes, rdds, buildJobs))
      } catch {
        case e: Throwable =>
          probe.end()
          Left(s"${spec.name} on $dir threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
      }
    }

  private def checked(spec: QuerySpec, dir: String, detail: Boolean)(
      check: QueryCall => Option[String]): Option[QueryCall] =
    call(spec, dir, detail) match {
      case Left(err) => m.op(ok = false, err); None
      case Right(c) =>
        check(c) match {
          case Some(err) => m.op(ok = false, err); None
          case None => m.op(ok = true, ""); Some(c)
        }
    }

  /** Cold first calls in the committed order. Returns each query's call. */
  def coldPass(dir: String, detail: Boolean, record: Boolean): Seq[(QuerySpec, QueryCall)] =
    specs.flatMap { s =>
      checked(s, dir, detail) { c =>
        expected.get(s.name) match {
          case _ if record => None
          case None => Some(s"${s.name}: no expected fingerprint committed")
          case Some(e) if e.fingerprint != c.fp =>
            Some(s"${s.name}: cold fingerprint ${c.fp} != expected ${e.fingerprint}")
          case Some(e) if e.coldJobs != c.k.jobs =>
            Some(s"${s.name}: cold call launched ${c.k.jobs} jobs, a fresh JVM launches " +
              s"${e.coldJobs}: the warm-up leaked state")
          case _ => None
        }
      }.map(s -> _)
    }

  def warmUp(dir: String): Unit = specs.foreach { s =>
    checked(s, dir, detail = false)(_ => None)
  }

  /** `rounds` warm rounds, each over every query in a seeded order. In a
    * traced run each query's calls alternate tracing on and off from round
    * to round, and every round mixes traced and untraced calls, so the
    * tracing overhead is measured inside one JVM under the same host
    * conditions on both sides.
    */
  def warmRounds(dir: String, rounds: Int, seed: Long, coldFp: Map[String, String],
      alternateTrace: Boolean): (Map[String, Seq[QueryCall]], Map[String, Seq[QueryCall]]) = {
    val rnd = new scala.util.Random(seed)
    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[QueryCall]]
    val plain = mutable.Map.empty[String, mutable.ArrayBuffer[QueryCall]]
    val index = specs.map(_.name).zipWithIndex.toMap
    (0 until rounds).foreach { round =>
      rnd.shuffle(specs).foreach { s =>
        val on = alternateTrace && (index(s.name) + round) % 2 == 0
        tracer.active = on
        checked(s, dir, detail = on) { c =>
          coldFp.get(s.name).filter(_ != c.fp)
            .map(f => s"${s.name}: warm fingerprint ${c.fp} != cold $f")
        }.foreach { c =>
          (if (on) traced else plain).getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += c
        }
      }
    }
    tracer.active = alternateTrace
    (plain.map { case (k, v) => k -> v.toSeq }.toMap, traced.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
