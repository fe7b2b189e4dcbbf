package graftbench

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region: a top-level op, a public call inside it, or a
  * set-up step. Times are epoch nanoseconds so they line up with the
  * scheduler's epoch-millisecond event times.
  */
final class Span(val id: Long, val parent: Long, val name: String, val op: Int, val start: Long) {
  @volatile var end: Long = 0L
}

final case class JobRec(id: Int, span: Long, module: String, site: String, start: Long, var end: Long)

final case class TaskRec(
    stage: Int, launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    inRows: Long, inBytes: Long, shufReadRows: Long, shufReadBytes: Long,
    fetchWaitMs: Long, shufWriteBytes: Long, spillBytes: Long,
    outRows: Long, outBytes: Long)

/** Scheduler, SQL-planning and block-storage events for the op being
  * traced. It is registered only around traced ops, and the bus is
  * drained on both sides, so everything it holds belongs to that op.
  */
final class LayerListener(sc: org.apache.spark.SparkContext)
    extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stageSubmit = mutable.Map.empty[Int, Long]
  val stagesDone = mutable.Set.empty[Int]
  val planMs = mutable.ArrayBuffer.empty[Long]
  private val blockMem = mutable.Map.empty[String, Long]
  // SQL execution id -> module of the action that started it: jobs that
  // adaptive execution submits from its own threads carry only the id
  private val execModule = mutable.Map.empty[String, String]
  var storageBytes = 0L
  var storagePeak = 0L
  var blocksDropped = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); tasks.clear(); stageSubmit.clear(); stagesDone.clear(); planMs.clear()
    execModule.clear()
    blockMem.clear()
    blockMem ++= BusAccess.rddBlockMemory(sc)
    storageBytes = blockMem.values.sum
    storagePeak = storageBytes
    blocksDropped = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val last = e.stageInfos.sortBy(-_.stageId).headOption
    val own = Tracer.moduleOf(last.map(_.details).getOrElse(""))
    val module =
      if (own != "engine") own
      else Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(execModule.get).getOrElse(own)
    jobs += JobRec(e.jobId, span, module, last.map(_.name).getOrElse(""), e.time, 0L)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId.toString) = Tracer.moduleOf(s.details)
    }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks += TaskRec(
        e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        sr.recordsRead, sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val name = info.blockId.name
      val before = blockMem.getOrElse(name, 0L)
      val after = info.memSize
      // memory released while its RDD is still persisted is an eviction;
      // an unpersist removes the RDD from the persistent set first
      if (before > 0 && after == 0) {
        val rdd = info.blockId.asRDDId.map(_.rddId)
        if (rdd.exists(sc.getPersistentRDDs.contains)) blocksDropped += 1
      }
      if (after > 0) blockMem(name) = after else blockMem.remove(name)
      storageBytes += after - before
      storagePeak = math.max(storagePeak, storageBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
  }
}

/** Spans plus the per-op layer record. With tracing off, [[span]] is a
  * plain call and nothing is registered with Spark.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[(Int, JobRec)] // (op, job) for the artifact
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var active = false
  private var opIndex = Int.MinValue
  private val listener = new LayerListener(sc)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name, opIndex, nowNs)
      nextId += 1
      spans += s
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      stack = s :: stack
      try body
      finally {
        s.end = nowNs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Start tracing op `op` (negative for set-up steps). */
  def begin(op: Int): Unit = if (enabled) {
    BusAccess.drain(sc)
    listener.reset()
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    opIndex = op
    active = true
  }

  /** Stop tracing and fold the op's events into its layer counters. */
  def end(kind: String, wallNs: Long, resultRows: Long): Option[OpLayers] =
    if (!active) None
    else {
      active = false
      BusAccess.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
      val top = spans.filter(s => s.op == opIndex && s.parent == 0L).toSeq
      Some(listener.synchronized(fold(kind, wallNs, resultRows, top)))
    }

  private def fold(kind: String, wallNs: Long, resultRows: Long, top: Seq[Span]): OpLayers = {
    val l = listener
    val cores = sc.defaultParallelism
    val spanIds = spans.filter(_.op == opIndex).map(_.id).toSet
    l.jobs.foreach(j => jobs += ((opIndex, j)))
    val jobIntervals = l.jobs.filter(_.end > 0).map(j => (j.start * 1000000L, j.end * 1000000L)).toSeq
    val opStart = top.map(_.start).minOption.getOrElse(0L)
    val opEnd = top.map(_.end).maxOption.getOrElse(0L)
    val covered = Stats.unionLength(jobIntervals, opStart, opEnd)
    val tasks = l.tasks
    val empty = tasks.count(t => t.inRows == 0 && t.shufReadRows == 0)
    val waits = tasks.flatMap(t => l.stageSubmit.get(t.stage).map(s => math.max(0L, t.launch - s)))
    val runMs = tasks.map(_.runMs).sum.toDouble
    val wallMs = wallNs / 1e6
    val values = mutable.LinkedHashMap[String, Double](
      "driver.plan_ms" -> l.planMs.sum.toDouble,
      "driver.outside_jobs_ms" -> (opEnd - opStart - covered) / 1e6,
      "driver.jobs_ms" -> covered / 1e6,
      "sched.jobs" -> l.jobs.size.toDouble,
      "sched.stages" -> l.stagesDone.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.empty_tasks" -> empty.toDouble,
      "sched.task_wait_ms_sum" -> waits.sum.toDouble,
      "exec.run_ms" -> runMs,
      "exec.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "exec.busy_ratio" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "scan.rows" -> tasks.map(_.inRows).sum.toDouble,
      "scan.bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shufWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shufReadBytes).sum.toDouble,
      "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum.toDouble,
      "spill.bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "cache.storage_peak_mb" -> l.storagePeak / 1048576.0,
      "cache.blocks_dropped" -> l.blocksDropped.toDouble,
      "sink.rows" -> tasks.map(_.outRows).sum.toDouble,
      "sink.bytes" -> tasks.map(_.outBytes).sum.toDouble,
      "result.rows" -> resultRows.toDouble,
      "span.jobs_unattributed" -> l.jobs.count(j => !spanIds.contains(j.span)).toDouble)
    l.jobs.groupBy(_.module).foreach { case (m, js) =>
      values(s"$m.jobs") = js.size.toDouble
      values(s"$m.job_ms") = js.filter(_.end > 0).map(j => (j.end - j.start).toDouble).sum
    }
    OpLayers(opIndex, kind, wallMs, values.toMap)
  }
}

final case class OpLayers(op: Int, kind: String, wallMs: Double, values: Map[String, Double])

object Tracer {
  val SpanKey = "graftbench.span"

  private val Frame = """^\s*(\S+)\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** The module a job belongs to: the graft source file of the first
    * library frame in its call site, "harness" when only the
    * benchmark's own frames appear, "engine" when neither does (jobs
    * Spark launches from its own threads).
    */
  def moduleOf(callSite: String): String = {
    val frames = callSite.split('\n').toSeq.flatMap {
      case Frame(cls, file) => Some((cls, file))
      case _ => None
    }
    frames.find { case (c, _) => c.startsWith("graft.") }.map(_._2)
      .orElse(frames.find { case (c, _) => c.startsWith("graftbench.") }.map(_ => "harness"))
      .getOrElse("engine")
  }
}
