package perfbench

import java.util.{Properties, UUID}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval on the epoch-millisecond clock. `op` is the id of
  * the benchmark op that caused it (-1: outside any op).
  */
final case class Span(op: Int, layer: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class StageStats(job: Int, tasks: Int, runMs: Long, cpuNs: Long,
    inputBytes: Long, outputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Span recorder for the traced run.
  *
  * Client side: every call the benchmark makes into a public graft
  * function goes through [[call]], which records a span in the calling
  * op. Spark side: a SparkListener records jobs, stages and SQL
  * executions with their Catalyst planning phases, and a
  * StreamingQueryListener records trigger progress. Each listener event
  * is tied to its op through the Spark job group, a local property the
  * harness sets to `op-<id>` around every op; a streaming query runs its
  * micro-batches under its run id as job group, which maps to the op
  * that started the query. Spans stay in memory until [[write]].
  *
  * With tracing off nothing is registered and [[call]] is a plain call;
  * the job-group property is set either way, so the two modes run the
  * same Spark code.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile private var currentOp = -1
  val opSpans = ArrayBuffer.empty[Span]
  val calls = ArrayBuffer.empty[Span]
  // listener-side state, guarded by `this`
  private val jobs = mutable.LinkedHashMap.empty[Int, Span]
  private val dedupJobs = mutable.Set.empty[Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageStats]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, Span]
  private val phases = ArrayBuffer.empty[Span]
  private val streamOp = mutable.Map.empty[UUID, Int]
  private val triggers = ArrayBuffer.empty[(Int, Map[String, Long])]

  /** The op behind a job group: `op-<id>` set by the harness, or the run
    * id a streaming query sets as the group of its micro-batch jobs. */
  private def opOf(group: String): Int = synchronized {
    if (group == null) -1
    else if (group.startsWith("op-")) group.substring(3).toInt
    else streamOp.collectFirst { case (run, op) if run.toString == group => op }.getOrElse(-1)
  }
  private def opOf(p: Properties): Int =
    if (p == null) -1 else opOf(p.getProperty("spark.jobGroup.id"))

  private object SparkSide extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op >= 0) Tracer.this.synchronized {
        jobs(e.jobId) = Span(op, "exec", "job", e.time.toDouble, e.time.toDouble)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        if (e.stageInfos.exists(s => s.name.contains("Dedup.scala")))
          dedupJobs += e.jobId
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { job =>
          val m = si.taskMetrics
          if (m != null) stages += StageStats(job, si.numTasks,
            m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
            m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = opOf(s.jobGroupId.orNull)
        if (op >= 0) Tracer.this.synchronized {
          sqlExecs(s.executionId) = Span(op, "exec", "sql", s.time.toDouble, s.time.toDouble)
        }
      case x: SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized(sqlExecs.get(x.executionId)).foreach { sql =>
          val ps = PerfbenchAccess.planningPhases(x).collect {
            case (k, (a, b)) if k != "parsing" => Span(sql.op, "plans", k, a.toDouble, b.toDouble)
          }
          Tracer.this.synchronized {
            sqlExecs(x.executionId) = sql.copy(end = x.time.toDouble)
            phases ++= ps
          }
        }
      case _ =>
    }
  }

  private object StreamSide extends StreamingQueryListener {
    import StreamingQueryListener._
    // posted synchronously while the client thread waits inside the op
    // that started the query, before any of the query's jobs
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Tracer.this.synchronized(streamOp(e.runId) = currentOp)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized(triggers += ((streamOp.getOrElse(p.runId, -1), d)))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(SparkSide)
    spark.streams.addListener(StreamSide)
  }

  def beginOp(id: Int, kind: String): Double = {
    currentOp = id
    spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    now
  }

  def endOp(id: Int, kind: String, start: Double): Double = {
    val end = now
    spark.sparkContext.clearJobGroup()
    currentOp = -1
    if (enabled && id >= 0) opSpans += Span(id, "op", kind, start, end)
    end
  }

  /** A call into a public graft function from `layer` (tables,
    * operators, streaming). Calls never nest.
    */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = now
      try body finally calls += Span(currentOp, layer, name, s, now)
    }

  // ------------------------------------------------------------ derivation

  /** total length of the union of `xs`, clipped to [lo, hi] */
  private def covered(xs: Iterable[Span], lo: Double, hi: Double): Double = {
    val iv = xs.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }

  /** Per-op layer figures for the given ops, keyed by metric name. */
  def perOp(ops: Seq[Span]): Seq[(Span, Map[String, Double])] = {
    PerfbenchAccess.drainListenerBus(spark)
    Tracer.this.synchronized {
      val byOp = (xs: Iterable[Span]) => xs.groupBy(_.op)
      val callsBy = byOp(calls); val jobsBy = byOp(jobs.values)
      val phasesBy = byOp(phases); val execsBy = byOp(sqlExecs.values)
      val dedupBy = jobs.filter { case (id, _) => dedupJobs(id) }.values.groupBy(_.op)
      val stagesBy = stages.groupBy(s => jobs.get(s.job).map(_.op).getOrElse(-1))
      val trigBy = triggers.groupBy(_._1)
      ops.map { o =>
        val cs = callsBy.getOrElse(o.op, Nil); val js = jobsBy.getOrElse(o.op, Nil)
        val ps = phasesBy.getOrElse(o.op, Nil); val ss = stagesBy.getOrElse(o.op, Nil)
        val xs = execsBy.getOrElse(o.op, Nil)
        // Spark's share of a graft call: its jobs, the driver side of its
        // SQL executions, and planning
        val children = js ++ xs ++ ps
        def self(layer: String) = cs.filter(_.layer == layer)
          .map(c => c.ms - covered(children, c.start, c.end)).sum
        def phase(n: String) = covered(ps.filter(_.name == n), o.start, o.end)
        val trig = trigBy.getOrElse(o.op, Nil).map(_._2)
        def dur(keys: String*) = trig.map(d => keys.map(d.getOrElse(_, 0L)).sum).sum.toDouble
        val dj = dedupBy.getOrElse(o.op, Nil)
        val stream = cs.filter(_.layer == "streaming")
        o -> Map(
          "tables.self_ms" -> self("tables"),
          "tables.calls" -> cs.count(_.layer == "tables").toDouble,
          "operators.self_ms" -> self("operators"),
          "operators.calls" -> cs.count(_.layer == "operators").toDouble,
          "operators.dedup_jobs" -> dj.size.toDouble,
          "operators.dedup_job_ms" -> dj.map(_.ms).sum,
          "streaming.self_ms" -> self("streaming"),
          "streaming.cycle_ms" -> stream.map(_.ms).sum,
          "streaming.triggers" -> trig.size.toDouble,
          "streaming.trigger_ms" -> dur("triggerExecution"),
          "streaming.add_batch_ms" -> dur("addBatch"),
          "streaming.offset_ms" -> dur("latestOffset", "getBatch"),
          "streaming.wal_ms" -> dur("walCommit", "commitOffsets"),
          "streaming.query_planning_ms" -> dur("queryPlanning"),
          "streaming.start_stop_ms" ->
            (if (stream.isEmpty) 0.0 else stream.map(_.ms).sum - dur("triggerExecution")),
          "plans.sql_execs" -> xs.size.toDouble,
          "plans.analysis_ms" -> phase("analysis"),
          "plans.optimization_ms" -> phase("optimization"),
          "plans.planning_ms" -> phase("planning"),
          "plans.self_ms" -> covered(ps, o.start, o.end),
          "exec.jobs" -> js.size.toDouble,
          "exec.stages" -> ss.size.toDouble,
          "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
          "exec.job_wall_ms" -> covered(js, o.start, o.end),
          // wall time inside a SQL execution or a job
          "exec.sql_wall_ms" -> covered(js ++ xs, o.start, o.end),
          "exec.run_ms" -> ss.map(_.runMs).sum.toDouble,
          "exec.cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
          "exec.input_bytes" -> ss.map(_.inputBytes).sum.toDouble,
          "exec.output_bytes" -> ss.map(_.outputBytes).sum.toDouble,
          "exec.shuffle_read_bytes" -> ss.map(_.shuffleReadBytes).sum.toDouble,
          "exec.shuffle_write_bytes" -> ss.map(_.shuffleWriteBytes).sum.toDouble,
          "exec.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
          // share of the op's wall time inside a graft call, a Spark job, a
          // SQL execution or a planning phase
          "trace.coverage" -> covered(cs ++ children, o.start, o.end) / math.max(o.ms, 1e-9)
        )
      }
    }
  }

  /** Every recorded span, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    PerfbenchAccess.drainListenerBus(spark)
    val all = Tracer.this.synchronized(opSpans ++ calls ++ jobs.values ++ sqlExecs.values ++ phases)
    val lines = all.sortBy(_.start).map { s =>
      Json.render(Map("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
