package graftbench

import org.apache.spark.sql.functions._

/** Checks of the harness's own fingerprint, run by perfbench/selftest.py:
  * the same rows in another order or partitioning fingerprint equal; a
  * changed value, a dropped row or a duplicated row do not. Exits 1 on
  * the first violated check. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("2")
    try {
      val base = spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id").cast("string")).as("s"), (col("id") / 3.0).as("d"))
      val fp = Harness.fingerprint(base)
      val checks = Seq(
        "reordered" -> (Harness.fingerprint(base.orderBy(col("d").desc)) == fp),
        "repartitioned" -> (Harness.fingerprint(base.repartition(5, col("k"))) == fp),
        "coalesced" -> (Harness.fingerprint(base.coalesce(1)) == fp),
        "value changed" -> (Harness.fingerprint(
          base.withColumn("k", when(col("id") === 42, 99).otherwise(col("k")))) != fp),
        "row dropped" -> (Harness.fingerprint(base.where(col("id") =!= 7)) != fp),
        "row duplicated" -> (Harness.fingerprint(base.union(base.where(col("id") === 7))) != fp),
        "row count" -> (fp.rows == 5000L))
      checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} fingerprint: $name") }
      if (!checks.forall(_._2)) sys.exit(1)
    } finally spark.stop()
  }
}
