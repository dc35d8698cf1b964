package graftbench

import graft.sources.Glog
import scala.collection.mutable

/** A produced record before the store gives it an offset. */
final case class Produced(topic: String, part: Long, eventId: Long, tms: Long,
    k: String, v: String)

/** Seeded record generator for the log_store workload: several topics of
  * eight partitions, power-law skewed keys (a few hot keys per topic),
  * log-normal value sizes and timestamps that rise with small jitter, so
  * the (tms, event_id) "latest" rule and event order sometimes disagree.
  */
object LogGen {
  val Topics: Seq[String] = Seq("orders", "payments", "clicks", "audit")
  val Parts = 8
  val KeysPerTopic = 4000
  private val Alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"

  /** Records `from until from + n` of the stream for `seed`. */
  def records(seed: Long, from: Long, n: Int): IndexedSeq[Produced] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + from)
    val baseTms = 1704067200000L // 2024-01-01T00:00:00Z
    (0 until n).map { i =>
      val eid = from + i
      val topic = Topics(rnd.nextInt(Topics.size))
      val u = rnd.nextDouble()
      val key = (KeysPerTopic * u * u * u).toInt
      val gauss = {
        // Box-Muller, one draw
        val a = math.max(rnd.nextDouble(), 1e-12); val b = rnd.nextDouble()
        math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
      }
      val vlen = math.min(4096, 16 + math.exp(4.6 + 0.9 * gauss).toInt)
      val v = new String(Array.fill(vlen)(Alphabet.charAt(rnd.nextInt(Alphabet.length))))
      val tms = baseTms + eid * 4 + rnd.nextInt(9)
      Produced(topic, (key % Parts).toLong, eid, tms, f"k$key%05d", v)
    }
  }

  def userBytes(r: Glog.Rec): Long =
    r.k.getBytes("UTF-8").length.toLong + r.v.getBytes("UTF-8").length
}

/** What the store must hold: per (topic, part) the records in offset
  * order, with offsets assigned the way the streaming sink assigns them
  * (the partition's current end plus the record's rank by event id).
  */
final class LogModel {
  private val logs = mutable.Map.empty[(String, Long), mutable.ArrayBuffer[Glog.Rec]]
  private var gapped = false

  /** End offset (exclusive) of a partition: its last offset plus one. */
  def end(topic: String, part: Long): Long =
    logs.get((topic, part)).flatMap(_.lastOption).map(_.offs + 1).getOrElse(0L)

  def ends: Map[String, Long] =
    logs.keys.map { case (t, p) => s"$t/$p" -> end(t, p) }.toMap

  def partitions: Seq[(String, Long)] = logs.keys.toSeq.sorted

  /** Give `batch` offsets and add it to the model; returns the records as
    * they must be written.
    */
  def append(batch: Seq[Produced]): Seq[Glog.Rec] = {
    require(!gapped, "appending to a compacted model")
    batch.groupBy(p => (p.topic, p.part)).toSeq.sortBy(_._1).flatMap {
      case (tp, recs) =>
        val buf = logs.getOrElseUpdate(tp, mutable.ArrayBuffer.empty)
        recs.sortBy(_.eventId).map { p =>
          val r = Glog.Rec(p.topic, p.part, buf.size.toLong, p.eventId, p.tms, p.k, p.v)
          buf += r
          r
        }
    }
  }

  def range(topic: String, part: Long, from: Long, until: Long): Seq[Glog.Rec] =
    logs.get((topic, part)).map { b =>
      if (gapped) b.filter(r => r.offs >= from && r.offs < until).toSeq
      else b.slice(math.max(0L, from).toInt, math.min(b.size.toLong, until).toInt).toSeq
    }.getOrElse(Nil)

  def since(topic: String, part: Long, minTms: Long): Seq[Glog.Rec] =
    logs.get((topic, part)).map(_.filter(_.tms >= minTms).toSeq).getOrElse(Nil)

  /** The compacted log: the latest record per (topic, part, key) by
    * (tms, event_id), keeping its original offset.
    */
  def compacted: Seq[Glog.Rec] =
    logs.values.flatten.groupBy(r => (r.topic, r.part, r.k)).values
      .map(_.maxBy(r => (r.tms, r.event_id))).toSeq
      .sortBy(r => (r.topic, r.part, r.offs))

  def all: Seq[Glog.Rec] = logs.values.flatten.toSeq

  /** Load records that already carry offsets (a compacted log). Offsets
    * may have gaps, so lookups go by offset value, not position.
    */
  def load(recs: Seq[Glog.Rec]): Unit = {
    recs.groupBy(r => (r.topic, r.part)).foreach { case (tp, rs) =>
      logs(tp) = mutable.ArrayBuffer.from(rs.sortBy(_.offs))
    }
    gapped = true
  }
}
