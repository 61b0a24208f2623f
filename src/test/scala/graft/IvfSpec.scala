package graft

import graft.operators.{Ann, Ivf, Lloyd}
import org.apache.spark.sql.functions._

/** IVF coarse quantizer + int8 compression properties. */
class IvfSpec extends GraftSpec {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("integer k-means is deterministic and layout-invariant") {
    val q1 = Ivf.quantized(emb, col("id"), col("vec"), 1000.0)
    val q2 = Ivf.quantized(emb.repartition(13), col("id"), col("vec"), 1000.0)
    val c1 = Ivf.kmeans(q1, k = 4, iters = 2)
    val c2 = Ivf.kmeans(q2, k = 4, iters = 2)
    assert(c1.map(_._1) === c2.map(_._1))
    c1.zip(c2).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
  }

  test("every vector lands in exactly one cell; cells cover the corpus") {
    val q = Ivf.quantized(emb, col("id"), col("vec"), 1000.0)
    val cents = Ivf.kmeans(q, k = 4, iters = 2)
    val assigned = q.select(col("id"), Ivf.nearestCentroid(col("qv"), cents).as("cid"))
    assert(assigned.count() === emb.count())
    assert(assigned.groupBy("id").count().filter(col("count") > 1).count() === 0)
    // and the assignment map is a narrow, shuffle-free plan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("IVF top-k can only lose candidates vs brute force, never invent them") {
    val queries = emb.filter(col("id") < 8)
    val ivf = Ivf.topK(queries, emb, k = 3, nClusters = 4, iters = 2,
      nprobe = 2, scale = 1000.0)
    val brute = Ann.bruteForceTopK(queries, emb, k = 3)
    // every IVF pair must carry the same cosine brute force computes for
    // it (the probe changes the candidate set, not the scoring) ...
    val allPairs = Ann.bruteForceTopK(queries, emb, k = Int.MaxValue)
      .select(col("q_id"), col("n_id"), col("cosine").as("bcos"))
    val joined = ivf.join(allPairs, Seq("q_id", "n_id"))
    assert(joined.filter(col("cosine") =!= col("bcos")).count() === 0)
    // ... and rank-for-rank the approximate cosine never beats the exact
    val cmp = ivf.select(col("q_id"), col("rn"), col("cosine").as("icos"))
      .join(brute.select(col("q_id"), col("rn"), col("cosine").as("bcos")), Seq("q_id", "rn"))
    assert(cmp.filter(col("icos") > col("bcos") + 1e-12).count() === 0)
  }

  test("semanticPrune: survivors are pairwise below threshold within a cell, " +
      "and every dropped vector has a smaller-id in-cell witness") {
    import graft.functions.VectorFunctions.cosine
    val tau = 0.3
    val surv = Ivf.semanticPrune(emb, threshold = tau, k = 4, iters = 2, scale = 1000.0)
    val q = Ivf.quantized(emb, col("id"), col("vec"), 1000.0)
    val cents = Ivf.kmeans(q, k = 4, iters = 2)
    val asg = q.select(col("id"), col("vec"), Ivf.nearestCentroid(col("qv"), cents).as("cid"))
    // survivors: no within-cell pair at or above the threshold can remain
    val sv = asg.join(surv.select("id"), Seq("id"))
    val offending = sv.as("a").join(sv.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(cosine(col("a.vec"), col("b.vec")) >= tau)
    assert(offending.count() === 0L)
    // dropped: each must have a smaller-id in-cell neighbor at >= tau
    val dropped = asg.join(surv.select("id"), Seq("id"), "left_anti")
    val unwitnessed = dropped.as("b").join(asg.as("a"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id") &&
          cosine(col("a.vec"), col("b.vec")) >= tau, "left_anti")
    assert(unwitnessed.count() === 0L)
    assert(dropped.count() > 0L) // the sf corpus has semantic near-dups
  }

  test("Lloyd sweep equals the SQL sweep on the sf embeddings, in one job per sweep") {
    val q = Ivf.quantized(emb, col("id"), col("vec"), 1000.0)
    val (cents, jobs) = jobsDuring(Ivf.kmeans(q, k = 4, iters = 3))
    assert(jobs <= 1 + 3, s"kmeans(k=4, iters=3) ran $jobs jobs")
    assert(LloydReference.plain(cents) ===
      LloydReference.plain(LloydReference.kmeans(q, k = 4, iters = 3)))
    val assigned = q.select(Ivf.nearestCentroid(col("qv"), cents), col("qv"))
    assert(Lloyd.means(assigned).map { case (c, v) => c -> v.toSeq } ===
      LloydReference.means(assigned))
  }

  test("Lloyd sweep equals the SQL sweep on ragged, negative and empty cells") {
    import spark.implicits._
    val rows = Seq[(Long, Seq[Long])](
      (0L, Seq(-3L, 5L, -7L)), (0L, Seq(-4L, 2L)), // floor(-3.5) = -4, floor(3.5) = 3
      (1L, Seq(-1L)), (1L, Seq(2L, -9L, 4L, 1L)), (1L, Seq(-2L, -8L)),
      (2L, Seq.empty), // only empty vectors: no position, no centroid
      (3L, null)) // a null vector adds nothing
    val assigned = rows.toDF("cell", "vec").repartition(3)
    val got = Lloyd.means(assigned).map { case (c, v) => c -> v.toSeq }
    assert(got === LloydReference.means(assigned))
    assert(got === Map(0L -> Seq(-4L, 3L, -7L), 1L -> Seq(-1L, -9L, 4L, 1L)))
    // k-means over duplicate init vectors: cell 1 ties with cell 0 on
    // every vector, attracts none, and keeps its initial centroid
    val q = Seq[(Long, Seq[Long])]((0L, Seq(0L, 0L)), (1L, Seq(0L, 0L)),
        (2L, Seq(-5L, -7L)), (3L, Seq(-6L, -8L)), (4L, Seq(9L, -1L)))
      .toDF("id", "qv").repartition(2)
    val cents = Ivf.kmeans(q, k = 3, iters = 3)
    assert(LloydReference.plain(cents) ===
      LloydReference.plain(LloydReference.kmeans(q, k = 3, iters = 3)))
    assert(cents(1)._2.toSeq === Seq(0L, 0L))
  }

  test("Lloyd sweep fails on a long overflow like ANSI sum") {
    import spark.implicits._
    val assigned = Seq[(Long, Seq[Long])]((0L, Seq(Long.MaxValue)), (0L, Seq(1L)))
      .toDF("cell", "vec").coalesce(1)
    def overflowed(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    val e = intercept[Exception](Lloyd.means(assigned))
    assert(overflowed(e), e)
    val ref = intercept[Exception](LloydReference.means(assigned))
    assert(overflowed(ref), ref)
  }

  test("empty model / degenerate k fail fast with clear messages") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Ivf.nearestCentroid(col("qv"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Ivf.kmeans(Seq.empty[(Long, Seq[Long])].toDF("id", "qv"), k = 0, iters = 1)
    }
    intercept[IllegalArgumentException] {
      Ivf.kmeans(Seq.empty[(Long, Seq[Long])].toDF("id", "qv"), k = 4, iters = 1)
    }
  }

  test("int8 codes are bounded and reconstruct within one quantization step") {
    val q = Ivf.quantizeInt8(emb, col("id"), col("vec"))
    val bad = q.select(explode(col("codes")).as("c"))
      .filter(col("c") > 127 || col("c") < -128).count()
    assert(bad === 0)
    val recon = Ivf.quantizeInt8(emb, col("id"), col("vec"))
      .join(emb, Seq("id"))
      .select(col("scale"),
        explode(arrays_zip(col("codes"), col("vec"))).as("z"))
      .select(abs(col("z.codes") * col("scale") - col("z.vec").cast("double")).as("err"),
        col("scale"))
      .filter(col("err") > col("scale") * lit(1.000001))
    assert(recon.count() === 0)
  }

  test("int8 top-k ranks by exact integer dot with deterministic ties") {
    val out = Ivf.topKInt8(emb.filter(col("id") < 8), emb, k = 5)
    assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() === 0)
    // rn dense 1..5 per query
    assert(out.groupBy("q_id").agg(sum("rn").as("s")).filter(col("s") =!= 15L).count() === 0)
  }

  test("int8 ranking applies the neighbor scale: raw code dots would invert this order") {
    import spark.implicits._
    // query ~ (1, eps, eps, eps). Neighbor A = (1, .9, .9, .9) codes to
    // (127,114,114,114) -> raw qdot 16129 > B's 14478, but B = (.9,1,0,0)
    // is closer in true dot AND cosine. Scale-aware ranking must put B first.
    val e = 0.001f
    val data = Seq(
      (100L, Seq(1f, e, e, e)),        // query
      (1L, Seq(1f, 0.9f, 0.9f, 0.9f)), // A: large scale dilutes codes
      (2L, Seq(0.9f, 1f, 0f, 0f)))     // B: truly closer
      .toDF("id", "vec")
    val got = Ivf.topKInt8(data.filter(col("id") === 100L), data.filter(col("id") < 100L), k = 2)
      .orderBy(col("rn")).collect().map(_.getLong(1)).toList
    // true dots: q·A ≈ 1.0027, q·B ≈ 0.901 -> A first. Verify against the
    // dequantized ranking rather than intuition: score = qdot * scale_n.
    // codes: q=(127,0,0,0); A=(127,114,114,114) scale .9/127? (mx=1) ->
    // qdot_A=16129, scale_A=1/127; B=(114,127,0,0) scale 1/127, qdot_B=14478.
    // Equal scales here, so construct the inversion with UNEQUAL scales:
    assert(got.head === 1L) // sanity: with equal scales raw order holds
    val data2 = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.5f, 0f, 0f, 0f)),  // codes (127,0,0,0), scale .5/127 -> true dot 0.5
      (2L, Seq(2f, 0f, 0f, 0f)))    // codes (127,0,0,0), scale 2/127  -> true dot 2.0
      .toDF("id", "vec")
    val got2 = Ivf.topKInt8(data2.filter(col("id") === 100L),
        data2.filter(col("id") < 100L), k = 2)
      .orderBy(col("rn")).collect().map(_.getLong(1)).toList
    // identical raw qdot (127*127) for both neighbors; only the neighbor
    // scale separates them — 2f must rank first
    assert(got2 === List(2L, 1L))
  }
}
