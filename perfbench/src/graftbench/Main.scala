package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Peak heap in use right after a collection, over the whole run. */
object HeapAfterGc {
  @volatile var peakBytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peakBytes = math.max(peakBytes, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}

/** Entry point: one workload, one seed, one process.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <file> [--artifact <file>] [--sha <id>]
  * }}}
  *
  * Set-up runs [[SetupReps]] times into fresh directories (the last one
  * stays as the fixture), then one cold first op, one untimed warm-up op
  * of each other kind, then ops in a closed loop with one client, in
  * whole cycles of the workload's kind pattern, until at least
  * `--seconds` have passed. Output checks run between ops, outside the
  * timed region. With `--trace 1` the loop runs twice as many cycles,
  * and half the ops run with spans and listeners on: the odd positions
  * of even cycles and the even positions of odd ones, so every position
  * of the pattern is traced once and run untraced once. The untraced
  * ops give the tracing overhead and the per-kind latencies.
  */
object Main {
  val SetupReps = 3

  final case class Sample(i: Int, ns: Long, traced: Boolean, done: Done, failed: Boolean)

  /** Whether timed op `i` (from 1) of a traced run is traced, for a
    * pattern of `size` kinds: odd positions in even cycles, even ones in
    * odd cycles.
    */
  def tracedAt(i: Int, size: Int): Boolean = ((i - 1) % size + (i - 1) / size) % 2 == 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val out = need("out")

    HeapAfterGc.install()
    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionNs) = Workloads.timed(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    Console.err.println(f"phase session  ${sessionNs / 1e9}%.1f s")
    try run(spark, sessionNs, workload, seed, seconds, trace, work, out, opts)
    finally {
      val (_, stopNs) = Workloads.timed(spark.stop())
      Console.err.println(f"phase stop     ${stopNs / 1e9}%.1f s")
    }
  }

  private def run(
      spark: SparkSession, sessionNs: Long, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, opts: Map[String, String]): Unit = {
    val tracer = new Tracer(spark, trace)
    val w = Workloads(name, spark, tracer, seed)
    val layers = scala.collection.mutable.ArrayBuffer.empty[OpLayers]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    val setupNs = (0 until SetupReps).map { r =>
      if (r > 0) Workloads.delete(spark, s"$work/setup_${r - 1}")
      tracer.begin(-1 - r)
      val (_, ns) = Workloads.timed(tracer.span("setup")(w.setup(s"$work/setup_$r")))
      tracer.end("setup", ns, 0L).foreach(layers += _)
      ns
    }

    def runOp(i: Int, kind: String, traced: Boolean): Sample = {
      if (traced) tracer.begin(i)
      val t0 = System.nanoTime()
      val res =
        try Right(tracer.span("op")(w.op(i, kind)))
        catch { case e: Throwable => Left(e) }
      val ns = System.nanoTime() - t0
      val done = res match {
        case Right(d) => d
        case Left(e) =>
          failures += s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          Done("error", 0L, 0L, Nil, () => Nil)
      }
      if (traced) tracer.end(done.kind, ns, done.resultRows).foreach(layers += _)
      val errs =
        try done.check()
        catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      errs.foreach(e => failures += s"op $i (${done.kind}): $e")
      val writes = done.writeNs.map(w => f"${w / 1e6}%.1f")
      Console.err.println(f"op $i%4d ${done.kind}%-16s ${ns / 1e6}%10.1f ms" +
        (if (writes.isEmpty) "" else writes.mkString(" writes ", " ", " ms")))
      Sample(i, ns, traced, done, failed = res.isLeft || errs.nonEmpty)
    }

    val clock = System.nanoTime()
    def phase(what: String): Unit =
      Console.err.println(f"phase $what%-8s ${(System.nanoTime() - clock) / 1e9}%.1f s")
    Console.err.println(f"phase setup    ${setupNs.map(_ / 1e9).map(x => f"$x%.2f").mkString(" ")} s")
    val first = runOp(0, w.kindOf(0), traced = false)
    phase("first")
    val warm = w.warmKinds.zipWithIndex.map { case (k, j) => runOp(-1 - j, k, traced = false) }
    phase("warm-up")
    // whole cycles of the kind pattern, at least `seconds` long: every
    // run then holds the same mix, whatever the machine's speed
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    while (i == 1 || System.nanoTime() < deadline || (i - 1) % w.pattern.size != 0) {
      samples += runOp(i, w.kindOf(i), trace && tracedAt(i, w.pattern.size))
      i += 1
    }
    if (trace) (1 until i).foreach { _ => samples += runOp(i, w.kindOf(i), tracedAt(i, w.pattern.size)); i += 1 }
    phase("timed")
    val finalErrs =
      try w.finalChecks()
      catch { case e: Throwable => Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    failures ++= finalErrs.map(e => s"final: $e")
    phase("checked")

    val all = (first +: warm) ++ samples.toSeq
    val attempted = all.size
    // a failed end-of-run check voids every op it vouches for
    val failed = if (finalErrs.nonEmpty) attempted else all.count(_.failed)

    val report = Report.build(
      name, seed, trace, sessionNs, setupNs, w, first, samples.toSeq, layers.toSeq,
      tracer, attempted, failed, spark)
    Report.write(out, opts.get("artifact"), report, failures.toSeq, opts.getOrElse("sha", "unknown"), spark)
  }
}
