package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._

/** Product-quantization properties: deterministic training, narrow
  * encoding, and ADC = exact subspace-distance sum against the decoded
  * codebook entries. */
class PqSpec extends GraftSpec {

  private val (m, ksub, iters, scale, dim) = (4, 4, 2, 1000.0, 64)
  private val dsub = dim / m

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("pq training is deterministic and layout-invariant") {
    val sq1 = Pq.subQuantized(emb, col("id"), col("vec"), m, dsub, scale)
    val sq2 = Pq.subQuantized(emb.repartition(13), col("id"), col("vec"), m, dsub, scale)
    val b1 = Pq.train(sq1, m, ksub, iters)
    val b2 = Pq.train(sq2, m, ksub, iters)
    assert(b1.keySet === b2.keySet)
    b1.foreach { case (s, cents) =>
      assert(cents.map(_._1) === b2(s).map(_._1))
      cents.zip(b2(s)).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    }
  }

  test("Lloyd sweep trains the same codebooks as the SQL sweep") {
    val sq = Pq.subQuantized(emb, col("id"), col("vec"), m, dsub, scale)
    val got = Pq.train(sq, m, ksub, iters = 3)
    val ref = LloydReference.train(sq, ksub, iters = 3)
    assert(got.keySet === ref.keySet)
    got.foreach { case (s, cents) =>
      assert(LloydReference.plain(cents) === LloydReference.plain(ref(s)), s"subspace $s")
    }
  }

  test("encoding is narrow (no exchange), total (every vector), and in-range") {
    val sq = Pq.subQuantized(emb, col("id"), col("vec"), m, dsub, scale)
    val books = Pq.train(sq, m, ksub, iters)
    val codes = Pq.encode(emb, col("id"), col("vec"), books, m, dsub, scale)
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(codes.count() === emb.count())
    val bad = codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= ksub)
    assert(bad.count() === 0)
    assert(codes.filter(size(col("codes")) =!= m).count() === 0)
  }

  test("ADC score equals the sum of exact subspace distances to the decoded codes") {
    val sq = Pq.subQuantized(emb, col("id"), col("vec"), m, dsub, scale)
    val books = Pq.train(sq, m, ksub, iters)
    val top = Pq.adcTopK(emb.filter(col("id") < 4), emb, k = 3,
      m, ksub, iters, scale, dim)
    // independent recomputation on the driver for the surviving pairs:
    // decode each neighbor's codes through the codebooks and sum plain
    // squared distances against the query's quantized subvectors
    val codes = Pq.encode(emb, col("id"), col("vec"), books, m, dsub, scale)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val qv = graft.operators.Ivf.quantized(emb, col("id"), col("vec"), scale)
      .select(col("id"), col("qv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val rows = top.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n, adist) = (r.getLong(r.fieldIndex("q_id")), r.getLong(r.fieldIndex("n_id")),
        r.getLong(r.fieldIndex("adist")))
      val expect = (0 until m).map { s =>
        val cent = books(s).find(_._1 == codes(n)(s).toInt).get._2
        val qs = qv(q).slice(s * dsub, (s + 1) * dsub)
        qs.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(adist === expect, s"pair ($q,$n)")
    }
  }

  test("ranks are dense 1..k per query and follow (adist, n_id) order") {
    val top = Pq.adcTopK(emb.filter(col("id") < 4), emb, k = 5, m, ksub, iters, scale, dim)
      .collect().groupBy(_.getLong(0))
    top.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rows.length).toSeq)
      val keys = sorted.map(r => (r.getLong(2), r.getLong(1))).toSeq
      assert(keys === keys.sorted)
    }
  }

  test("dim not divisible by m fails loudly") {
    intercept[IllegalArgumentException] {
      Pq.adcTopK(emb, emb, k = 1, m = 5, ksub, iters, scale, dim)
    }
  }
}
