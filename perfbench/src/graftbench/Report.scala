package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Turns samples and layer records into the metric set, and writes the
  * result line, the summary and the artifact.
  */
object Report {

  final case class Metric(name: String, value: Double, unit: String, note: String = "")

  final case class Built(
      metrics: Seq[Metric], attempted: Int, failed: Int, correct: Boolean,
      workload: String, seed: Long, trace: Boolean,
      samples: Seq[Main.Sample], layers: Seq[OpLayers], tracer: Tracer)

  /** Spans whose self time is reported per call on the traced run. A
    * call that only set-up makes (`Trend.run` and `Sinks.writeScored` on
    * `trend_interactive`) is reported from its set-up spans.
    */
  val SpanNames: Seq[String] = Seq(
    "Trend.run", "Sinks.writeScored", "Sinks.forUrl", "TrendMachine.rescore", "TrendMachine.run",
    "Corpus.docPipelineFullV4",
    "Sinks.readAnnIndexTopK", "Sinks.upsertAnnIndex", "Sinks.deleteFromAnnIndex",
    "Sinks.compactAnnIndex", "harness.collect", "harness.sink")

  /** Modules jobs are attributed to by call site: those that launch jobs
    * during the listed workloads' ops. The other modules return lazy
    * frames, whose jobs the harness's collect or sink launches.
    */
  val Modules: Seq[String] = Seq("Corpus", "Ann", "Sinks", "harness")

  /** Op kinds with their own latency medians on the traced run. */
  val Kinds: Seq[String] = Seq(
    "lookup", "rescore", "cold", "funnel", "search", "upsert", "delete")

  def build(
      name: String, seed: Long, trace: Boolean, sessionNs: Long,
      setupNs: Seq[Long], w: Workload, first: Main.Sample, samples: Seq[Main.Sample],
      layers: Seq[OpLayers], tracer: Tracer, attempted: Int, failed: Int,
      spark: SparkSession): Built = {
    val ms = samples.filter(s => w.latencyKind(s.done.kind)).map(_.ns / 1e6)
    val n = ms.size
    val metrics =
      if (!trace) endToEnd(setupNs, w, samples, n, ms)
      else perLayer(sessionNs, w, first, samples, layers, tracer, attempted, failed, spark)
    Built(metrics, attempted, failed, failed == 0, name, seed, trace, first +: samples, layers, tracer)
  }

  private def endToEnd(
      setupNs: Seq[Long], w: Workload,
      samples: Seq[Main.Sample], n: Int, ms: Seq[Double]): Seq[Metric] = {
    val (writes, writeSrc) = warmWrites(samples.flatMap(_.done.writeNs), w.setupWrites, setupNs.size)
    Seq(
      Metric("setup_s", Stats.median(setupNs.map(_.toDouble)) / 1e9, "s",
        s"median of ${setupNs.size} set-ups"),
      Metric("throughput_rows_per_s", mixThroughput(w.pattern, samples), "rows/s",
        s"n=${samples.size}"),
      Metric("latency_p50_ms", Stats.median(ms), "ms",
        s"n=$n, highest percentile with 10 samples beyond: " +
          Stats.highestResolved(n).fold("none")(p => s"p$p")),
      Metric("write_latency_mean_ms", writes.sum / 1e6 / math.max(1, writes.size), "ms",
        s"n=${writes.size}, $writeSrc"))
  }

  private def perLayer(
      sessionNs: Long, w: Workload, first: Main.Sample, samples: Seq[Main.Sample],
      allLayers: Seq[OpLayers], tracer: Tracer, attempted: Int, failed: Int,
      spark: SparkSession): Seq[Metric] = {
    val layers = allLayers.filter(_.op >= 0)
    val k = math.max(1, layers.size)
    def total(key: String) = layers.map(_.values.getOrElse(key, 0.0)).sum
    def perOp(key: String) = total(key) / k
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val cores = spark.sparkContext.defaultParallelism
    val out = mutable.ArrayBuffer.empty[Metric]
    out += Metric("driver.plan_ms", perOp("driver.plan_ms"), "ms")
    out += Metric("driver.outside_jobs_ms", perOp("driver.outside_jobs_ms"), "ms")
    out += Metric("sched.jobs", perOp("sched.jobs"), "count")
    out += Metric("sched.stages", perOp("sched.stages"), "count")
    out += Metric("sched.tasks", perOp("sched.tasks"), "count")
    out += Metric("sched.empty_task_ratio", ratio(total("sched.empty_tasks"), total("sched.tasks")), "ratio")
    out += Metric("sched.task_wait_ms", ratio(total("sched.task_wait_ms_sum"), total("sched.tasks")), "ms")
    out += Metric("exec.run_ms", perOp("exec.run_ms"), "ms")
    out += Metric("exec.cpu_ms", perOp("exec.cpu_ms"), "ms")
    out += Metric("exec.gc_ms", perOp("exec.gc_ms"), "ms")
    out += Metric("exec.busy_ratio", ratio(total("exec.run_ms"), layers.map(_.wallMs).sum * cores), "ratio")
    out += Metric("scan.rows", perOp("scan.rows"), "count")
    out += Metric("scan.bytes", perOp("scan.bytes"), "bytes")
    out += Metric("scan.rows_per_result_row", ratio(total("scan.rows"), total("result.rows")), "ratio")
    out += Metric("shuffle.write_bytes", perOp("shuffle.write_bytes"), "bytes")
    out += Metric("shuffle.read_bytes", perOp("shuffle.read_bytes"), "bytes")
    out += Metric("shuffle.fetch_wait_ms", perOp("shuffle.fetch_wait_ms"), "ms")
    out += Metric("spill.bytes", perOp("spill.bytes"), "bytes")
    out += Metric("cache.storage_peak_mb",
      layers.map(_.values.getOrElse("cache.storage_peak_mb", 0.0)).maxOption.getOrElse(0.0), "MB")
    out += Metric("cache.blocks_dropped", perOp("cache.blocks_dropped"), "count")
    out += Metric("sink.rows", perOp("sink.rows"), "count")
    out += Metric("sink.bytes", perOp("sink.bytes"), "bytes")
    val (opSelf, setupSelf) = spanSelfTimes(tracer).partition(_._1.op >= 0)
    SpanNames.foreach { s =>
      def of(xs: Seq[(Span, Long)]) = xs.filter(_._1.name == s).map(_._2 / 1e6)
      val xs = Some(of(opSelf)).filter(_.nonEmpty).getOrElse(of(setupSelf))
      out += Metric(s"$s.self_ms", if (xs.isEmpty) 0.0 else xs.sum / xs.size, "ms")
    }
    Modules.foreach { m =>
      out += Metric(s"$m.jobs", perOp(s"$m.jobs"), "count")
      out += Metric(s"$m.job_ms", perOp(s"$m.job_ms"), "ms")
    }
    val (segs, live) = w match {
      case a: AnnServe => (a.deltaSegmentsMean, a.liveRatio)
      case _ => (0.0, 0.0)
    }
    out += Metric("ann.delta_segments", segs, "count")
    out += Metric("ann.live_ratio", live, "ratio")
    out += Metric("trace.overhead_pct", overheadPct(samples), "%")
    out += Metric("trace.ops_traced", layers.size.toDouble, "count")
    out += Metric("failed_ops_ratio", Stats.failedRatio(attempted, failed), "ratio")
    // one sample each per run, and neither repeats within a tenth from
    // seed to seed, so they are reported here rather than gated
    out += Metric("first_op_s", first.ns / 1e9, "s")
    // one cold sample per run: the JVM's and Spark's start, kept out of setup_s
    out += Metric("session_start_s", sessionNs / 1e9, "s")
    out += Metric("heap_after_gc_peak_mb", HeapAfterGc.peakBytes / 1048576.0, "MB")
    // a run holds at most 8 timed ops, so the p90 has at most one sample
    // beyond it, short of the ten a gated tail percentile needs
    val lat = samples.filter(s => !s.traced && w.latencyKind(s.done.kind)).map(_.ns / 1e6)
    out += Metric("latency_p90_ms", if (lat.isEmpty) 0.0 else Stats.percentile(lat, 90), "ms")
    Kinds.foreach { kind =>
      val xs = samples.filter(s => !s.traced && s.done.kind.startsWith(kind)).map(_.ns / 1e6)
      out += Metric(s"lat.${kind}_p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    out.toSeq
  }

  /** Rows per second of op wall under the workload's nominal mix: each
    * kind's mean rows and mean latency, weighted by its share of the
    * pattern. A run holds only a few ops, and a plain ratio would move
    * with how many of each kind happened to finish inside the window.
    */
  def mixThroughput(pattern: Seq[String], samples: Seq[Main.Sample]): Double = {
    val byKind = samples.groupBy(_.done.kind.takeWhile(_ != '+'))
    val share = pattern.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / pattern.size }
    val seen = share.filter { case (k, _) => byKind.contains(k) }
    val rows = seen.map { case (k, w) => w * byKind(k).map(_.done.rows).sum / byKind(k).size }.sum
    val secs = seen.map { case (k, w) => w * byKind(k).map(_.ns).sum / 1e9 / byKind(k).size }.sum
    if (secs > 0) rows / secs else 0.0
  }

  /** The write calls write_latency_mean_ms averages, and where they come
    * from: the timed ops' writes or, on workloads whose ops write nothing,
    * those of the set-ups after the cold first one (each of `setups`
    * set-ups makes the same number of writes).
    */
  def warmWrites(opWrites: Seq[Long], setupWrites: Seq[Long], setups: Int): (Seq[Long], String) =
    if (opWrites.nonEmpty) (opWrites, "timed ops")
    else (setupWrites.drop(setupWrites.size / math.max(1, setups)), "warm set-ups")

  /** Self time of every recorded span, paired with the span. */
  def spanSelfTimes(tracer: Tracer): Seq[(Span, Long)] = {
    val kids = tracer.spans.groupBy(_.parent)
    tracer.spans.toSeq.map { s =>
      s -> Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
    }
  }

  /** Median traced op latency over median untraced, per kind, weighted by
    * the kind's op count: the cost of spans and listeners.
    */
  def overheadPct(samples: Seq[Main.Sample]): Double = {
    val byKind = samples.filterNot(_.failed).groupBy(_.done.kind).toSeq.flatMap { case (_, ss) =>
      val (tr, un) = ss.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some((Stats.median(tr.map(_.ns.toDouble)) / Stats.median(un.map(_.ns.toDouble)) - 1) * 100, ss.size)
    }
    val wsum = byKind.map(_._2).sum
    if (wsum == 0) 0.0 else byKind.map { case (p, c) => p * c }.sum / wsum
  }

  // ---------------------------------------------------------------- JSON

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  /** The result object: exactly correct, attempted, failed, metrics. */
  def resultLine(b: Built): String = obj(Seq(
    "correct" -> b.correct.toString,
    "attempted" -> b.attempted.toString,
    "failed" -> b.failed.toString,
    "metrics" -> obj(b.metrics.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))

  def write(
      out: String, artifact: Option[String], b: Built, failures: Seq[String], sha: String,
      spark: SparkSession): Unit = {
    val env = Seq(
      "source" -> str(sha),
      "jdk" -> str(System.getProperty("java.version")),
      "spark" -> str(spark.version),
      "master" -> str(spark.sparkContext.master),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "time_zone" -> str(spark.conf.get("spark.sql.session.timeZone")))
    println(s"env ${obj(env)}")
    b.metrics.foreach(m => println(f"metric ${m.name}%-34s ${num(m.value)}%16s ${m.unit}%-6s ${m.note}"))
    failures.take(20).foreach(f => println(s"FAILED $f"))
    Files.write(Paths.get(out), (resultLine(b) + "\n").getBytes(StandardCharsets.UTF_8))
    artifact.foreach(p => Files.write(Paths.get(p), artifactJson(b, env, failures).getBytes(StandardCharsets.UTF_8)))
  }

  private def artifactJson(b: Built, env: Seq[(String, String)], failures: Seq[String]): String = {
    val t0 = b.tracer.spans.map(_.start).minOption.getOrElse(0L)
    val opJobs = b.tracer.jobs.groupBy(_._1)
    val spans = spanSelfTimes(b.tracer).map { case (s, self) =>
      val jobsNs = Stats.unionLength(
        opJobs.getOrElse(s.op, Nil).map(_._2).filter(_.end > 0)
          .map(j => (j.start * 1000000L, j.end * 1000000L)).toSeq, s.start, s.end)
      obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> str(s.name), "start_ms" -> num((s.start - t0) / 1e6),
        "dur_ms" -> num((s.end - s.start) / 1e6), "self_ms" -> num(self / 1e6),
        "jobs_ms" -> num(jobsNs / 1e6), "outside_jobs_ms" -> num((s.end - s.start - jobsNs) / 1e6)))
    }
    val jobs = b.tracer.jobs.toSeq.map { case (op, j) =>
      obj(Seq("op" -> op.toString, "job" -> j.id.toString, "span" -> j.span.toString,
        "module" -> str(j.module), "site" -> str(j.site), "ms" -> num((j.end - j.start).toDouble)))
    }
    val ops = b.samples.map(s => obj(Seq(
      "i" -> s.i.toString, "kind" -> str(s.done.kind), "ms" -> num(s.ns / 1e6),
      "traced" -> s.traced.toString, "failed" -> s.failed.toString)))
    val layers = b.layers.map(l => obj(Seq(
      "op" -> l.op.toString, "kind" -> str(l.kind), "wall_ms" -> num(l.wallMs),
      "values" -> obj(l.values.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }))))
    obj(Seq(
      "workload" -> str(b.workload), "seed" -> b.seed.toString, "trace" -> b.trace.toString,
      "env" -> obj(env), "result" -> resultLine(b),
      "failures" -> arr(failures.map(str)),
      "ops" -> arr(ops), "layers" -> arr(layers), "spans" -> arr(spans), "jobs" -> arr(jobs))) + "\n"
  }
}
