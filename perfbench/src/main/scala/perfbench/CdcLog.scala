package perfbench

import scala.collection.mutable
import graft.connectors.TableCdcEvent

/** A seeded binlog for whole-schema replication.
  *
  * The snapshot is every source row as a position-0 create. The tail is one
  * position sequence shared by all tables, cut into delivery batches, with
  * commit timestamps rising with the position. Each tail event picks its
  * table in proportion to the table's size and is an update, a delete or a
  * new key; updates and deletes favour recently written keys. A small share
  * of events is delivered twice (an earlier event is sent again later) or
  * late (held back to the end of the next batch), which is the
  * at-least-once, out-of-order delivery a replica must absorb.
  *
  * The shares below are assumptions, not measurements: they give the tail
  * the shape of an update-heavy OLTP binlog with recency skew, but no
  * published binlog mix was fitted to them.
  */
final case class CdcLog(snapshot: Vector[TableCdcEvent], tail: Vector[Vector[TableCdcEvent]]) {
  def events: Vector[TableCdcEvent] = snapshot ++ tail.flatten
  def tailEvents: Int = tail.map(_.length).sum
  def lastPosition: Long = events.iterator.map(_.position).max
  def tables: Seq[String] = snapshot.map(_.table).distinct
  /** The snapshot and the first `batches` tail batches, as delivered. */
  def through(batches: Int): Vector[TableCdcEvent] = snapshot ++ tail.take(batches).flatten
}

object CdcLog {
  /** Share of tail events that update a live key (assumed). */
  val UpdateShare = 0.7
  /** Share of tail events that delete a live key (assumed); the rest create new keys. */
  val DeleteShare = 0.1
  /** Share of updates and deletes aimed at a recently written key (assumed). */
  val RecentShare = 0.6
  /** Share of deliveries that re-send an earlier event (assumed). */
  val RedeliveredShare = 0.01
  /** Share of events held back to the end of the next batch (assumed). */
  val LateShare = 0.01

  private val RecentKeys = 4096
  private val BaseTsMicros = 1_700_000_000_000_000L

  /** `rows`: per table, its (key, payload) rows. Same arguments, same log. */
  def generate(seed: Long, rows: Seq[(String, IndexedSeq[(Long, String)])],
               batches: Int, batchEvents: Int): CdcLog = {
    val rng = new java.util.SplittableRandom(seed)
    final class TableState(val name: String, base: IndexedSeq[(Long, String)]) {
      val live = mutable.LongMap.empty[String] ++= base
      val keys = mutable.ArrayBuffer.empty[Long] ++= base.map(_._1)
      var nextKey: Long = if (base.isEmpty) 0L else base.map(_._1).max + 1
      val recent = new Array[Long](RecentKeys)
      var recentN = 0
      def touch(k: Long): Unit = { recent(recentN % RecentKeys) = k; recentN += 1 }
      /** A live key, from the recently written ones at [[RecentShare]]. */
      def pickLive(): Option[Long] = {
        val fromRecent = recentN > 0 && rng.nextDouble() < RecentShare
        Iterator.continually {
          if (fromRecent) recent(rng.nextInt(math.min(recentN, RecentKeys)))
          else keys(rng.nextInt(keys.length))
        }.take(8).find(live.contains)
      }
    }
    val states = rows.map { case (t, rs) => new TableState(t, rs) }
    val weights = states.map(_.keys.length.toDouble).scanLeft(0.0)(_ + _).tail
    def pickTable(): TableState = {
      val x = rng.nextDouble() * weights.last
      states(weights.indexWhere(x < _))
    }
    def edit(payload: String, pos: Long): String = {
      val fs = payload.split('|')
      fs(rng.nextInt(fs.length)) = s"v$pos"
      fs.mkString("|")
    }

    val snapshot = states.flatMap(st => rows.find(_._1 == st.name).get._2.map {
      case (k, p) => TableCdcEvent(st.name, k, 0L, 0L, "c", p) }).toVector
    var pos = 0L
    val sent = mutable.ArrayBuffer.empty[TableCdcEvent]
    var late = Vector.empty[TableCdcEvent]
    val tail = Vector.tabulate(batches) { b =>
      val batch = mutable.ArrayBuffer.empty[TableCdcEvent]
      val held = mutable.ArrayBuffer.empty[TableCdcEvent]
      while (batch.length + held.length < batchEvents) {
        if (sent.nonEmpty && rng.nextDouble() < RedeliveredShare)
          batch += sent(rng.nextInt(sent.length))
        else {
          pos += 1
          val st = pickTable()
          val r = rng.nextDouble()
          val picked = if (r < UpdateShare + DeleteShare) st.pickLive() else None
          val e = picked match {
            case Some(k) if r < UpdateShare =>
              val p = edit(st.live(k), pos)
              st.live(k) = p
              TableCdcEvent(st.name, k, pos, BaseTsMicros + pos * 1000, "u", p)
            case Some(k) =>
              st.live -= k
              TableCdcEvent(st.name, k, pos, BaseTsMicros + pos * 1000, "d", "")
            case None =>
              val k = st.nextKey
              st.nextKey += 1
              st.keys += k
              val template = st.live.valuesIterator.nextOption().getOrElse("")
              val p = edit(s"$k|$template", pos)
              st.live(k) = p
              TableCdcEvent(st.name, k, pos, BaseTsMicros + pos * 1000, "c", p)
          }
          if (e.op != "d") st.touch(e.key)
          sent += e
          if (rng.nextDouble() < LateShare) held += e else batch += e
        }
      }
      val out = (batch ++ late).toVector
      late = held.toVector
      if (b == batches - 1) out ++ late else out
    }
    CdcLog(snapshot, tail)
  }
}
