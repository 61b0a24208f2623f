package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Verify}
import graft.schema.FieldSpec
import graft.sources.{TabularWriter, TfRecordSource}
import graft.streaming.StreamingLayout

/** The JVM half of the benchmark (perfbench/run.py drives it).
  *
  * One process runs one workload: `setups` set-ups, each a fresh
  * GraftSession over a fresh hard-linked copy of the inputs, with Spark's
  * generated-class cache emptied, plus one untimed warm-up pass; then one
  * untimed settling pass, so the JIT has compiled the classes the last
  * set-up generated; then closed-loop timed passes over the
  * workload's operations until `seconds` have elapsed. The first set-up's
  * warm-up also writes every result the DuckDB oracle checks. Every
  * result is reduced engine-side to a fingerprint (row count +
  * order-independent hash) and must equal that first one. Raw
  * measurements go to
  * `<out>/result.json`; run.py derives every metric from them.
  *
  * With `trace` on, timed passes run untraced and traced in the order
  * U T T U U T T U ..., so drift over the run falls on both kinds alike.
  * A traced pass has spans around each call into the engine, a job group
  * per operation, and Spark's public listeners, attached for that pass
  * only; an untraced pass has none of them, so the trace's own overhead
  * is measured in the same process.
  */
object Harness {

  // ---- measurement clock: epoch µs from one monotonic source ------------
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, run: String)

  /** Spans are kept in memory and written when the run ends. */
  object Tracer {
    @volatile var on = false
    var run = "setup"
    val spans = ArrayBuffer.empty[Span]
    private var next = 0
    private var stack: List[Int] = Nil

    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        next += 1
        val id = next
        val parent = stack.headOption.getOrElse(0)
        stack = id :: stack
        val t0 = nowUs
        try body
        finally {
          stack = stack.tail
          spans += Span(id, parent, name, t0, nowUs, run)
        }
      }
  }

  final case class Fp(rows: Long, hash: String)

  /** Row count plus the decimal sum of per-row xxhash64: independent of
    * row order and partitioning, exact (no float rounding), and computed
    * engine-side so the client never fetches a large result. */
  def fingerprint(df: DataFrame): Fp = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (d.columns.isEmpty) lit(0L) else xxhash64(d.columns.map(col).toIndexedSeq: _*)
    val r = d.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).collect()(0)
    Fp(r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** Context an operation runs in. */
  final class Ctx(val spark: SparkSession, val data: String, val out: String, val seed: Long)

  /** (name, DuckDB SQL over the input tables, parquet dir the engine's
    * rows are in): one check run.py makes against the oracle. */
  type Check = (String, String, String)

  /** One closed-loop operation. `run` is the timed part; it returns the
    * untimed step that fingerprints the result. `first` is the
    * operation's first execution in a process: it also leaves a copy of
    * the result where the oracle can check it, and its fingerprint is
    * the reference every later execution must equal. */
  trait Op {
    def name: String
    def run(c: Ctx): () => Fp
    def first(c: Ctx): (Fp, Seq[Check])
  }

  /** A `SparkEntry.queries` entry, timed as build + fingerprint action. */
  final case class Query(name: String) extends Op {
    def run(c: Ctx): () => Fp = {
      val df = Tracer.span("SparkEntry.queries") { SparkEntry.queries(name)(c.spark, c.data) }
      val fp = Tracer.span("action") { fingerprint(df) }
      () => fp
    }
    def first(c: Ctx): (Fp, Seq[Check]) = {
      val dir = s"${c.out}/oracle/$name"
      val df = Tracer.span("SparkEntry.queries") { SparkEntry.queries(name)(c.spark, c.data) }
      Tracer.span("action") { Verify.naiveTs(df).coalesce(1).write.mode("overwrite").parquet(dir) }
      (fingerprint(c.spark.read.parquet(dir)), Seq((name, SparkEntry.oracleSql(name), dir)))
    }
  }

  /** A write-path operation: `write` is timed. Its output, the catalog
    * `table` if it has one, else the directory `stage/<name>`, is read
    * back untimed (by `readBack` where it is not parquet) and
    * fingerprinted. The first execution's output must fingerprint equal
    * to the `source` frame it was written from, and the oracle checks its
    * rows against `oracleSql` (a non-parquet output through a parquet copy
    * of its source). `sources` are the input columns the output came from
    * (table -> columns). */
  final case class Write(name: String, table: Option[String], write: Ctx => Unit,
      source: Ctx => DataFrame, oracleSql: String, sources: Map[String, Seq[String]],
      readBack: Option[Ctx => DataFrame] = None) extends Op {
    def scratch(c: Ctx): String = s"${c.out}/stage/$name"
    def dir(c: Ctx): String = table.map { t =>
      c.spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)).getPath
    }.getOrElse(scratch(c))

    /** Untimed: every execution starts from no output. */
    def reset(c: Ctx): Unit = {
      table.foreach(t => c.spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      deleteTree(Paths.get(dir(c)))
      deleteTree(Paths.get(scratch(c)))
    }
    def run(c: Ctx): () => Fp = {
      Tracer.span("writer") { write(c) }
      () => fingerprint(readBack.map(_(c)).getOrElse(
        table.map(c.spark.table).getOrElse(c.spark.read.parquet(dir(c)))))
    }
    def first(c: Ctx): (Fp, Seq[Check]) = {
      val fp = run(c)()
      val want = fingerprint(source(c))
      require(fp == want, s"output $fp != its source $want")
      val checked = if (readBack.isEmpty) dir(c) else {
        val copy = s"${c.out}/oracle/$name"
        Verify.naiveTs(source(c)).coalesce(1).write.mode("overwrite").parquet(copy)
        copy
      }
      (fp, Seq((name, oracleSql, checked)))
    }

    /** Bytes on disk of the output, data files only. */
    def storedBytes(c: Ctx): Long =
      Files.walk(Paths.get(dir(c))).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(Files.size).sum
  }

  private def query(name: String)(c: Ctx): DataFrame = SparkEntry.queries(name)(c.spark, c.data)
  private val lineitemCols = Seq("l_orderkey", "l_quantity", "l_extendedprice")
  private val eventCols = Seq("event_id", "user_id", "value")

  val stageOps: Seq[Op] = Seq(
    Write("parquet_criteo", None,
      c => TabularWriter.toParquet(query("pipeline_criteo_shaped")(c), s"${c.out}/stage/parquet_criteo"),
      query("pipeline_criteo_shaped"), SparkEntry.oracleSql("pipeline_criteo_shaped"),
      Map("lineitem" -> Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"),
        "part" -> Seq("p_partkey", "p_brand"))),
    Write("tfrecord_taobao", None,
      c => TfRecordSource.write(query("pipeline_taobao_shaped")(c), s"${c.out}/stage/tfrecord_taobao"),
      query("pipeline_taobao_shaped"), SparkEntry.oracleSql("pipeline_taobao_shaped"),
      Map("events" -> Seq("event_id", "ts", "user_id", "event_type", "value")),
      readBack = Some { c =>
        import org.apache.spark.sql.types._
        TfRecordSource.read(c.spark, Seq(s"${c.out}/stage/tfrecord_taobao"), Seq(
          FieldSpec("event_id", LongType), FieldSpec("user_id", LongType),
          FieldSpec("n_hist", LongType), FieldSpec("recent_vals", StringType)))
      }),
    Write("append_compact", Some("pb_append"),
      c => {
        // the seed picks which seventh of the orders arrives as the
        // appended slice; every seventh holds about as many lines
        val slice = col("l_orderkey") % 7 === java.lang.Math.floorMod(c.seed, 7L)
        val li = graft.Tables.lineitem(c.spark, c.data)
        def cols(df: DataFrame) = df.select(lineitemCols.map(col): _*)
        TabularWriter.toBucketedTable(cols(li.where(!slice)), "pb_append", "l_orderkey",
          buckets = 8, sorted = true)
        TabularWriter.appendToBucketedTable(cols(li.where(slice)), "pb_append")
        TabularWriter.compactBuckets(c.spark, "pb_append")
      },
      c => graft.Tables.lineitem(c.spark, c.data).select(lineitemCols.map(col): _*),
      s"SELECT ${lineitemCols.mkString(", ")} FROM lineitem", Map("lineitem" -> lineitemCols)),
    Write("stream_ingest", Some("pb_events"),
      c => {
        val ev = graft.Tables.events(c.spark, c.data).select(eventCols.map(col): _*)
        TabularWriter.toBucketedTable(ev.where(col("event_id") % 4 =!= 0), "pb_events",
          "user_id", buckets = 8, sorted = true)
        val root = s"${c.out}/stage/stream_ingest"
        ev.where(col("event_id") % 4 === 0).repartition(2)
          .write.mode("overwrite").parquet(s"$root/src")
        val stream = c.spark.readStream.schema(c.spark.read.parquet(s"$root/src").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
        // two one-file batches, the second followed by a compaction
        val q = StreamingLayout.intoBucketedTable(stream, "pb_events", s"$root/commits",
          s"$root/ckpt", compactEvery = 2)
        try q.processAllAvailable() finally q.stop()
      },
      c => graft.Tables.events(c.spark, c.data).select(eventCols.map(col): _*),
      s"SELECT ${eventCols.mkString(", ")} FROM events", Map("events" -> eventCols)))

  /** Workloads by name. The query lists are fixed; the seed only permutes
    * their order (see run.py and the doc for why each is chosen). */
  val workloads: Map[String, Seq[Op]] = Map(
    "suite" -> Seq(
      "q1_pricing_summary_cents", "layout_agg_rollup", "dedup_block_roundtrip",
      "ann_topk_ivf", "metric_gauc", "text_tfidf_topk", "scan_orc_roundtrip").map(Query),
    "stage" -> stageOps)

  /** A fresh copy of the input directory made of hard links, so each
    * set-up stages its fixtures again (the engine memoizes them per
    * input directory) without copying bytes. */
  def linkInputs(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    new File(src).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.createLink(Paths.get(dst, f.getName), f.toPath)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = workloads(opts("workload"))
    val data = opts("data")
    val out = opts("out")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val setups = opts("setups").toInt
    val cores = opts("cores")
    val order = new scala.util.Random(seed).shuffle(ops)
    val rec = new Recorder
    val json = new Json
    json.field("order", order.map(_.name))

    var spark: SparkSession = null
    val reference = scala.collection.mutable.Map.empty[String, Fp]
    val failures = ArrayBuffer.empty[(String, String)]
    var ctx: Ctx = null

    val checks = ArrayBuffer.empty[Check]

    /** Runs one operation with its hygiene; returns its timed seconds, or
      * NaN when it failed or its fingerprint mismatched. */
    def execute(op: Op): Double = {
      if (Tracer.on) spark.sparkContext.setJobGroup(op.name, op.name)
      op match { case w: Write => w.reset(ctx); case _ => }
      val t0 = System.nanoTime()
      val timed = Tracer.span(s"query:${op.name}") {
        try Right(
          if (reference.contains(op.name)) op.run(ctx)
          else { val (fp, cs) = op.first(ctx); checks ++= cs; () => fp })
        catch { case e: Throwable => Left(e) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (Tracer.on) rec.storage(spark)
      val res = timed.flatMap(fp => try Right(fp()) catch { case e: Throwable => Left(e) })
      if (Tracer.on) spark.sparkContext.clearJobGroup()
      Tracer.span("GraftSession.clearSessionState") { GraftSession.clearSessionState(spark) }
      res match {
        case Left(e) =>
          failures += op.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          Double.NaN
        case Right(fp) =>
          reference.getOrElseUpdate(op.name, fp) match {
            case want if want == fp => dt
            case want =>
              failures += op.name -> s"fingerprint $fp != $want"
              Double.NaN
          }
      }
    }

    // ---- set-ups ----------------------------------------------------------
    val processStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    Tracer.on = trace
    val setupSeconds = (1 to setups).map { k =>
      Tracer.run = s"setup$k"
      val t0 = if (k == 1) processStartUs else nowUs
      Tracer.span("setup") {
        if (spark != null) {
          spark.stop()
          SparkInternals.clearCodegenCache()
        }
        spark = Tracer.span("GraftSession.local") { GraftSession.local(cores) }
        val dir = s"$out/inputs$k"
        Tracer.span("stage") { linkInputs(data, dir) }
        ctx = new Ctx(spark, dir, out, seed)
        order.foreach(execute)
      }
      (nowUs - t0) / 1e6
    }
    json.field("setup_s", setupSeconds)
    json.field("codegen_setup", rec.codegen())
    Tracer.on = false
    Tracer.run = "settle"
    order.foreach(execute)

    // ---- timed closed loop ------------------------------------------------
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val heapMb = ArrayBuffer.empty[Double]
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val tStart = System.nanoTime()
    var pass = 0
    // at least one pass; with tracing four traced and four untraced, so
    // that neither median rests on one pass
    val minPasses = if (trace) 8 else 1
    while (pass < minPasses || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      val detach = if (traced) rec.attach(spark) else () => ()
      Tracer.on = traced
      Tracer.run = s"pass$pass"
      val cg0 = rec.codegen()
      val cpu0 = Recorder.cpu()
      val p0 = nowUs
      val times = order.map { op =>
        val dt = execute(op)
        heapMb += mem.getHeapMemoryUsage.getUsed / 1048576.0
        op.name -> dt
      }
      passes += Map("traced" -> traced, "start_us" -> p0, "end_us" -> nowUs,
        "times" -> times.toMap, "codegen" -> rec.codegen().zip(cg0).map { case (a, b) => a - b },
        "cpu" -> Recorder.cpu().zip(cpu0).map { case (a, b) => a - b })
      detach()
      pass += 1
    }
    Tracer.on = false
    json.field("passes", passes.toSeq)
    json.field("heap_mb", heapMb.toSeq)

    json.field("oracle", checks.map { case (n, q, d) => Seq(n, q, d) }.toSeq)
    val writes = ops.collect { case w: Write => w }
    json.field("sources", writes.map(w => w.name -> w.sources).toMap)
    json.field("stored_bytes", writes.map(w => w.name -> w.storedBytes(ctx)).toMap)
    spark.stop()

    json.field("failures", failures.map { case (a, b) => Seq(a, b) }.toSeq)
    json.field("cores", cores.toInt)
    if (trace) {
      json.field("spans", Tracer.spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end, s.run)).toSeq)
      rec.dump(json)
    }
    json.field("peak_rss_mb", Recorder.peakRssMb())
    Files.writeString(Paths.get(s"$out/result.json"), json.render())
  }
}
