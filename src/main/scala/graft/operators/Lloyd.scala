package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The Lloyd update step shared by [[Ivf.kmeans]] and [[Pq.train]]: the
  * new centroid of every cell is the per-position `floor(sum / count)`
  * of the integer vectors assigned to it.
  *
  * One job per sweep, no shuffle and no explode: each task folds its
  * partition's rows into per-(cell, position) long sums and counts, and
  * the driver merges the task results — k·dim pairs per task, never
  * data. This is the SQL formulation
  * {{{
  *   SELECT cell, pos, floor(CAST(sum(x) AS DOUBLE) / count(1))
  *   FROM assigned LATERAL VIEW posexplode(vec) AS pos, x
  *   GROUP BY cell, pos
  * }}}
  * computed without its three AQE jobs over a dim×-row explode, and it
  * agrees with it bit for bit:
  *  - sums are exact longs; `Math.addExact` fails on overflow the way
  *    ANSI `sum` does;
  *  - the update divides in double and floors, as the SQL does (exact
  *    while |sum| < 2^53);
  *  - ragged vectors count only the positions they have, so a cell's
  *    centroid is as long as its longest member;
  *  - a cell with no vector position (no members, or only empty or
  *    null vectors) is absent from the result; callers keep its old
  *    centroid. A row with a null cell id adds nothing.
  * Vectors have no null elements: the callers' assignment kernels
  * reject them before a row reaches the fold.
  */
private[graft] object Lloyd {

  /** Per-cell running sums and counts, grown to the longest member. */
  private final class Acc(var sums: Array[Long], var counts: Array[Long]) extends Serializable {
    def grow(n: Int): Unit = if (n > sums.length) {
      sums = java.util.Arrays.copyOf(sums, n)
      counts = java.util.Arrays.copyOf(counts, n)
    }
    def merge(o: Acc): Acc = {
      grow(o.sums.length)
      var i = 0
      while (i < o.sums.length) {
        sums(i) = Math.addExact(sums(i), o.sums(i))
        counts(i) += o.counts(i)
        i += 1
      }
      this
    }
  }

  private type Partial = scala.collection.mutable.LongMap[Acc]

  private def fold(rows: Iterator[InternalRow]): Partial = {
    val acc = new Partial
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val v = r.getArray(1)
        val n = v.numElements()
        val a = acc.getOrElseUpdate(r.getLong(0), new Acc(new Array[Long](n), new Array[Long](n)))
        a.grow(n)
        var i = 0
        while (i < n) {
          a.sums(i) = Math.addExact(a.sums(i), v.getLong(i))
          a.counts(i) += 1
          i += 1
        }
      }
    }
    acc
  }

  /** New centroids of the cells of `assigned` — a two-column frame of
    * (cell id: bigint, vector: array<bigint>) — keyed by cell id. */
  def means(assigned: DataFrame): Map[Long, Array[Long]] = {
    require(assigned.schema.length == 2, s"Lloyd.means: need (cell, vector), got ${assigned.schema}")
    val merged = assigned.queryExecution.toRdd.mapPartitions(rows => Iterator.single(fold(rows)))
      .collect()
      .foldLeft(new Partial) { (all, part) =>
        part.foreach { case (cell, a) =>
          all.get(cell) match {
            case Some(b) => b.merge(a)
            case None => all.update(cell, a)
          }
        }
        all
      }
    merged.iterator.collect { case (cell, a) if a.sums.nonEmpty =>
      cell -> Array.tabulate(a.sums.length)(i =>
        math.floor(a.sums(i).toDouble / a.counts(i).toDouble).toLong)
    }.toMap
  }
}
