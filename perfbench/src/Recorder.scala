package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects what Spark's public listeners report, as raw timestamped
  * records; run.py attributes them to spans and derives the per-layer
  * metrics. Listener callbacks arrive on Spark's listener-bus threads,
  * hence the synchronization. The listeners are attached only for the
  * traced passes, so untraced passes run without them. */
final class Recorder {
  private val jobs = ArrayBuffer.empty[Seq[Any]]       // id, group, start ms, end ms, stage ids
  private val jobEnds = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val stages = scala.collection.mutable.Map.empty[(Int, Int), Array[Any]]
  private val plans = ArrayBuffer.empty[Seq[Any]]      // start ms, phases, graft rules
  private val sqlStarts = scala.collection.mutable.Map.empty[(Int, Long), Long]
  private val aqe = scala.collection.mutable.Map.empty[(Int, Long), Int]
  private val progress = ArrayBuffer.empty[Seq[Any]]   // start ms, batch ms, input rows, state rows, state bytes
  private val storageSamples = ArrayBuffer.empty[Seq[Any]] // ms, used bytes
  private var context = 0

  /** Task-metric fields summed per stage, in the order dumped. */
  private val taskFields = Seq("tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "input_rows",
    "output_b", "output_rows", "peak_exec_mem_b")

  /** Registers the listeners on `spark`; the returned function waits
    * until they have seen every event posted so far, then removes them. */
  def attach(spark: SparkSession): () => Unit = synchronized {
    context += 1
    val ctx = context
    val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
        jobs += Seq(ctx, e.jobId, group, e.time, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
        jobEnds((ctx, e.jobId)) = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
        val s = stage(ctx, e.stageInfo.stageId)
        s(1) = e.stageInfo.submissionTime.getOrElse(0L)
        s(2) = e.stageInfo.completionTime.getOrElse(0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
        val s = stage(ctx, e.stageId)
        val m = e.taskMetrics
        def add(i: Int, v: Long): Unit = s(3 + i) = s(3 + i).asInstanceOf[Long] + v
        add(0, 1L)
        if (e.reason != org.apache.spark.Success) add(1, 1L)
        if (m != null) {
          add(2, m.executorRunTime)
          add(3, m.executorCpuTime)
          add(4, m.jvmGCTime)
          add(5, m.shuffleWriteMetrics.bytesWritten)
          add(6, m.shuffleReadMetrics.totalBytesRead)
          add(7, m.diskBytesSpilled + m.memoryBytesSpilled)
          add(8, m.inputMetrics.bytesRead)
          add(9, m.inputMetrics.recordsRead)
          add(10, m.outputMetrics.bytesWritten)
          add(11, m.outputMetrics.recordsWritten)
          s(3 + 12) = math.max(s(3 + 12).asInstanceOf[Long], m.peakExecutionMemory)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
          sqlStarts((ctx, s.executionId)) = s.time
        }
        case a: SparkListenerSQLAdaptiveExecutionUpdate => Recorder.this.synchronized {
          aqe((ctx, a.executionId)) = aqe.getOrElse((ctx, a.executionId), 0) + 1
        }
        case _ =>
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
        val rules = qe.tracker.rules.collect { case (k, r) if k.startsWith("graft.") =>
          k.stripPrefix("graft.plans.") -> Seq(r.totalTimeNs, r.numInvocations, r.numEffectiveInvocations)
        }
        // callbacks arrive late on the listener bus: stamp the query's own start
        val start = qe.tracker.phases.values.map(_.startTimeMs).minOption
          .getOrElse(System.currentTimeMillis())
        Recorder.this.synchronized { plans += Seq(start, phases, rules) }
      }
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val states = p.stateOperators.toSeq
        Recorder.this.synchronized {
          progress += Seq(java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration, p.numInputRows,
            states.map(_.numRowsTotal).sum, states.map(_.memoryUsedBytes).sum)
        }
      }
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    () => {
      SparkInternals.drainListeners(spark)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
  }

  private def stage(ctx: Int, id: Int): Array[Any] =
    stages.getOrElseUpdate((ctx, id), Array[Any](id, 0L, 0L) ++ taskFields.map(_ => 0L))

  /** Storage memory held by the block manager right now. */
  def storage(spark: SparkSession): Unit = {
    val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    synchronized { storageSamples += Seq(System.currentTimeMillis(), used) }
  }

  /** (Janino compiles so far, their total ns), process-wide. */
  def codegen(): Seq[Long] = Seq(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def dump(json: Json): Unit = synchronized {
    json.field("jobs", jobs.map(j => j :+ jobEnds.getOrElse((j(0).asInstanceOf[Int], j(1).asInstanceOf[Int]), 0L)).toSeq)
    json.field("stage_fields", Seq("id", "submitted_ms", "completed_ms") ++ taskFields)
    json.field("stages", stages.toSeq.sortBy(_._1).map { case ((ctx, _), s) => ctx +: s.toSeq })
    json.field("plans", plans.toSeq)
    json.field("sql_starts", sqlStarts.toSeq.map { case ((ctx, id), t) => Seq(ctx, id, t, aqe.getOrElse((ctx, id), 0)) })
    json.field("streaming", progress.toSeq)
    json.field("storage", storageSamples.toSeq)
  }
}

object Recorder {
  /** (this process's CPU ns, the machine's busy and stolen jiffies from
    * /proc/stat; 0 where /proc is absent). Steal is time a virtual CPU
    * was runnable while its host ran something else. */
  def cpu(): Seq[Long] = {
    val proc = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val f = new java.io.File("/proc/stat")
    val (busy, steal) =
      if (!f.exists()) (0L, 0L)
      else {
        val src = scala.io.Source.fromFile(f)
        try {
          val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
          // user nice system idle iowait irq softirq steal
          (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
        } finally src.close()
      }
    Seq(proc, busy, steal)
  }

  /** Peak resident set of this process (VmHWM), in MiB; 0 where /proc is absent. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** Two Spark internals the harness needs and Spark has no public call
  * for, reached by reflection. */
object SparkInternals {
  /** Blocks until every listener has been handed every event posted so far. */
  def drainListeners(spark: SparkSession): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Empties Spark's generated-class cache. The cache belongs to the
    * process, not the session, so without this a second session in the
    * same JVM would reuse the first one's compiled classes. */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}

/** Minimal JSON writer for the run's raw record. */
final class Json {
  private val fields = ArrayBuffer.empty[(String, Any)]
  def field(k: String, v: Any): Unit = fields += k -> v

  def render(): String = value(fields.toMap)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }
}
