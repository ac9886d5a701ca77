package graftbench

import scala.collection.mutable

/** Plain-Scala model of the mor_cdc table's live rows. A row is its `id`
  * and `grp`; the table's other columns derive from them (`v = id * 0.25`,
  * `s = note-<id>-<grp>`), so every sum the reads take is exact. */
final class LiveModel {
  private val rows = mutable.LongMap.empty[Int]

  def size: Long = rows.size.toLong

  /** Inserts new rows or replaces the `grp` of existing ones (an upsert). */
  def put(ids: Iterable[Long], grp: Int): Unit = ids.foreach(id => rows(id) = grp)

  def put(id: Long, grp: Int): Unit = rows(id) = grp

  /** Removes every row with `id % m == c`; returns how many went. */
  def deleteMod(m: Long, c: Long): Int = {
    val gone = rows.keysIterator.filter(_ % m == c).toList
    gone.foreach(rows.remove)
    gone.size
  }

  def liveIds: Array[Long] = rows.keysIterator.toArray.sorted

  def maxId: Long = if (rows.isEmpty) -1L else rows.keysIterator.max

  /** (count, sum of v, max id, sum of grp) over all live rows. */
  def full: (Long, Double, Long, Long) =
    (size, rows.keysIterator.map(_ * 0.25).sum, maxId, rows.valuesIterator.map(_.toLong).sum)

  /** (count, sum of v, sum of grp) over live rows with lo <= id < hi. */
  def range(lo: Long, hi: Long): (Long, Double, Long) = {
    val in = rows.iterator.filter { case (id, _) => id >= lo && id < hi }.toList
    (in.size.toLong, in.map(_._1 * 0.25).sum, in.map(_._2.toLong).sum)
  }
}
