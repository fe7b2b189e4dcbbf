package graftbench

/** Tests for the harness itself (no Spark session needed except for the
  * generator determinism check, which runs a tiny local one).
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    intervals()
    failureCounting()
    moduleAttribution()
    generators()
    println(s"self-test: $passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank median of 1..100 is 50")(Stats.median(xs) == 50.0)
    check("nearest-rank p90 of 1..100 is 90")(Stats.percentile(xs, 90) == 90.0)
    check("p90 of 1..10 is 9")(Stats.percentile((1 to 10).map(_.toDouble), 90) == 9.0)
    check("percentile ignores input order")(
      Stats.percentile(xs.reverse, 90) == Stats.percentile(xs, 90))
    check("single sample is every percentile")(Stats.percentile(Seq(7.0), 99) == 7.0)
    check("100 samples leave 10 beyond p90")(Stats.beyond(100, 90) == 10)
    check("p90 resolved at n=100")(Stats.resolved(100, 90))
    check("p90 unresolved at n=99")(!Stats.resolved(99, 90))
    check("p90 unresolved at n=10")(!Stats.resolved(10, 90))
    check("p99 resolved only from n=1000")(Stats.resolved(1000, 99) && !Stats.resolved(999, 99))
    check("highest resolved at n=100 is p90")(Stats.highestResolved(100).contains(90.0))
    check("highest resolved at n=40 is p75")(Stats.highestResolved(40).contains(75.0))
    check("nothing resolved at n=15")(Stats.highestResolved(15).isEmpty)
    check("empty sample is refused")(
      scala.util.Try(Stats.percentile(Nil, 50)).isFailure)
  }

  def intervals(): Unit = {
    check("disjoint union")(Stats.unionLength(Seq((0L, 2L), (5L, 7L)), 0, 10) == 4)
    check("overlapping union")(Stats.unionLength(Seq((0L, 5L), (3L, 8L), (7L, 9L)), 0, 10) == 9)
    check("nested union")(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 10) == 10)
    check("clipped union")(Stats.unionLength(Seq((-5L, 3L), (8L, 20L)), 0, 10) == 5)
    check("empty union")(Stats.unionLength(Nil, 0, 10) == 0)
    check("self time without children is the duration")(Stats.selfTime(10, 30, Nil) == 20)
    check("self time subtracts covered part once")(
      Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 50L), (90L, 120L))) == 100 - 40 - 10)
    check("self time of a fully covered span is 0")(Stats.selfTime(0, 10, Seq((0L, 10L))) == 0)
  }

  def failureCounting(): Unit = {
    check("no attempts, no failure ratio")(Stats.failedRatio(0, 0) == 0.0)
    check("1 of 4 failed")(Stats.failedRatio(4, 1) == 0.25)
    val d = Done("x", 1, 1, Nil, () => Nil)
    val samples = Seq(
      Main.Sample(0, 1, traced = false, d, failed = false),
      Main.Sample(1, 1, traced = false, d, failed = true),
      Main.Sample(2, 1, traced = true, d, failed = false))
    check("failed samples are counted")(samples.count(_.failed) == 1)
    def at(kind: String, rows: Long, ms: Long) =
      Main.Sample(0, ms * 1000000L, traced = false, Done(kind, rows, 0, Nil, () => Nil), failed = false)
    check("mix throughput of one kind is rows over time")(
      Report.mixThroughput(Seq("a"), Seq(at("a", 10, 1000), at("a", 30, 1000))) == 20.0)
    check("mix throughput weights kinds by pattern share, not by count")(
      Report.mixThroughput(Seq("a", "a", "a", "b"),
        Seq(at("a", 30, 1000), at("b", 10, 1000), at("b", 10, 1000), at("b", 10, 1000))) == 25.0)
    check("compaction rides with its write kind")(
      Report.mixThroughput(Seq("u"), Seq(at("u+compact", 10, 2000), at("u", 10, 1000))) == 20.0 / 3)
    check("timed writes are the warm writes")(
      Report.warmWrites(Seq(5L, 6L), Seq(9L, 1L, 2L), 3) == (Seq(5L, 6L), "timed ops"))
    check("without timed writes, the cold first set-up's writes are left out")(
      Report.warmWrites(Nil, Seq(9L, 8L, 1L, 2L, 3L, 4L), 3)._1 == Seq(1L, 2L, 3L, 4L))
    check("overhead ignores failed samples")(Report.overheadPct(Seq(
      Main.Sample(0, 100, traced = false, d, failed = false),
      Main.Sample(1, 110, traced = true, d, failed = false),
      Main.Sample(2, 9999, traced = true, d, failed = true))).round == 10)
    def tracedPositions(size: Int) =
      (1 to 2 * size).filter(Main.tracedAt(_, size)).map(i => (i - 1) % size).sorted
    check("two traced cycles trace every position once")(
      Seq(1, 8, 10).forall(n => tracedPositions(n) == (0 until n)))
    check("half of each cycle pair is traced")(
      (1 to 16).count(Main.tracedAt(_, 8)) == 8 && (1 to 20).count(Main.tracedAt(_, 10)) == 10)
  }

  def moduleAttribution(): Unit = {
    val site =
      """org.apache.spark.sql.Dataset.count(Dataset.scala:3600)
        |graft.operators.Corpus$.clustersFromEdges(Corpus.scala:310)
        |graftbench.Curate.op(Workloads.scala:250)""".stripMargin
    check("first library frame names the module")(Tracer.moduleOf(site) == "Corpus")
    check("harness-only call site")(
      Tracer.moduleOf("graftbench.AnnServe.op(Workloads.scala:1)") == "harness")
    check("spark-only call site")(
      Tracer.moduleOf("java.util.concurrent.FutureTask.run(FutureTask.java:264)") == "engine")
  }

  def generators(): Unit = {
    val p1 = Gen.urlPlan(42, 50, 20000)
    check("url plan is deterministic")(p1 == Gen.urlPlan(42, 50, 20000))
    check("url plan depends on the seed")(p1 != Gen.urlPlan(43, 50, 20000))
    check("url plan sums to the requested captures")(p1.map(_.captures.toLong).sum == 20000)
    check("url plan is skewed")(p1.map(_.captures).max > 5 * p1.map(_.captures).min)
    val c1 = Gen.urlCaptures(42, 3, p1(3), 0).map(_.toSeq).toSeq
    check("captures are deterministic")(c1 == Gen.urlCaptures(42, 3, p1(3), 0).map(_.toSeq).toSeq)
    val ts = c1.map(_(1).asInstanceOf[String])
    check("captures are sorted by ts")(ts == ts.sorted)
    check("first capture lies on the planned first day")(
      ts.head.take(8) == p1(3).firstDay.toString.replace("-", ""))
    check("series spans about ten years")(ts.last.take(4).toInt - ts.head.take(4).toInt >= 9)
    val k1 = Gen.corpus(7, 3000)
    val k2 = Gen.corpus(7, 3000)
    check("corpus is deterministic")(k1 == k2)
    check("corpus depends on the seed")(k1.docs != Gen.corpus(8, 3000).docs)
    check("corpus has chains of 2-6")(
      k1.chains.nonEmpty && k1.chains.forall(c => c.size >= 2 && c.size <= 6))
    check("corpus has contaminated docs")(k1.contaminated.nonEmpty)
    check("planted docs avoid the held-out slice")(
      (k1.chains.flatten ++ k1.contaminated).forall(_ % graft.operators.Corpus.BenchmarkMod != 0))
    check("corpus ids are dense")(k1.docs.map(_.id) == (0L until 3000L))
    val cs = Gen.centers(5)
    check("vectors are deterministic")(
      Gen.vector(5, cs, 123).sameElements(Gen.vector(5, Gen.centers(5), 123)))
    val twin = Gen.vector(5, cs, 57)
    val orig = Gen.vector(5, cs, 56)
    val cos = twin.zip(orig).map { case (a, b) => a * b }.sum /
      math.sqrt(twin.map(x => x * x).sum * orig.map(x => x * x).sum)
    check("planted twins are near copies")(Gen.isTwin(57) && cos > 0.999)
  }
}
