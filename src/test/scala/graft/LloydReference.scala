package graft

import graft.operators.{Ivf, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SQL formulation of the Lloyd sweep that [[graft.operators.Lloyd]]
  * replaced (posexplode, group by (cell, pos), floor(sum/count), regroup
  * by cell), and the k-means / PQ training built on it — the reference
  * IvfSpec and PqSpec compare the one-job sweep against, bit for bit. */
object LloydReference {

  /** cell -> floor(sum/count) per position, over (cell, vector) rows. */
  def means(assigned: DataFrame): Map[Long, Seq[Long]] =
    assigned.toDF("cell", "vec")
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("elem"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("elem")))),
        _.getField("elem")).as("cent"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.toSeq).toMap

  def kmeans(q: DataFrame, k: Int, iters: Int): Ivf.Centroids = {
    val init: Ivf.Centroids = q.select(col("id"), col("qv")).orderBy(col("id")).limit(k)
      .collect().sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](1).toArray) }.toSeq
    (1 to iters).foldLeft(init) { (cents, _) =>
      val updated = means(q.select(Ivf.nearestCentroid(col("qv"), cents), col("qv")))
      cents.map { case (cid, c) => (cid, updated.get(cid.toLong).map(_.toArray).getOrElse(c)) }
    }
  }

  def train(sq: DataFrame, ksub: Int, iters: Int): Pq.Codebooks = {
    val w = Window.partitionBy(col("sub")).orderBy(col("id"))
    var books: Pq.Codebooks = sq.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ksub).select(col("sub"), col("rn"), col("sv")).collect()
      .groupBy(_.getInt(0)).map { case (s, rows) =>
        s -> rows.sortBy(_.getInt(1)).zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Long](2).toArray) }.toSeq
      }
    for (_ <- 1 to iters) {
      val updated = means(sq.select(col("sub").cast("long") * ksub +
        Pq.nearestCode(col("sub"), col("sv"), books), col("sv")))
      books = books.map { case (s, cents) =>
        s -> cents.map { case (cid, c) =>
          (cid, updated.get(s.toLong * ksub + cid).map(_.toArray).getOrElse(c))
        }
      }
    }
    books
  }

  /** Centroids as comparable values (arrays compare by reference). */
  def plain(c: Ivf.Centroids): Seq[(Int, Seq[Long])] = c.map { case (i, v) => (i, v.toSeq) }
}
