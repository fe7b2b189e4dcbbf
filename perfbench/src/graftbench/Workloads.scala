package graftbench

import java.util.SplittableRandom

import graft.TrendMachine
import graft.model.{FillPolicy, ScoredRow, SigParams, TrendQuery}
import graft.operators.{CacheScope, Corpus, Daily, Metrics, TextStats, Trend}
import graft.sinks.Sinks
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one op hands back to the harness: the op's kind, the input rows
  * it processed (the throughput numerator), the rows it returned to the
  * driver, the latency of each program-write call it made, and
  * the output check the harness runs after the timed region.
  */
final case class Done(
    kind: String,
    rows: Long,
    resultRows: Long,
    writeNs: Seq[Long],
    check: () => Seq[String])

/** A benchmark workload: set-up (repeatable into fresh directories), a
  * closed-loop op schedule, and checks.
  *
  * The schedule's kinds follow a fixed cyclic pattern and only the op
  * contents (urls, parameters, vectors, ids) come from the seed: a run
  * holds only a handful of ops, and a seeded kind order would change
  * which kinds a run's percentiles fall on from seed to seed.
  */
trait Workload {
  /** Build inputs and fixtures under `dir`; later calls replace earlier ones. */
  def setup(dir: String): Unit
  /** Latencies (ns) of the program-write calls set-up made, one per call,
    * in order; every set-up makes the same number.
    */
  def setupWrites: Seq[Long] = Nil
  /** The kinds' cycle; op `i` has kind `pattern(i % pattern.size)`, and
    * op 0 is the run's cold first op.
    */
  def pattern: IndexedSeq[String]
  final def kindOf(i: Int): String = pattern(i % pattern.size)
  /** Kinds run once, untimed, after the first op, so that no timed op
    * pays for the first planning and code generation of its shape.
    */
  def warmKinds: Seq[String] = Nil
  /** Run an op; `i` seeds its contents (negative for warm-up ops). */
  def op(i: Int, kind: String): Done
  /** Kinds whose latencies make up latency_p50_ms (and the per-layer p90). */
  def latencyKind(kind: String): Boolean = true
  /** Checks made once after the timed region. */
  def finalChecks(): Seq[String] = Nil
}

object Workloads {
  val Names: Seq[String] = Seq("trend_bulk", "trend_interactive", "curate", "ann_serve")

  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload = name match {
    case "trend_bulk" => new TrendBulk(spark, tracer, seed)
    case "trend_interactive" => new TrendInteractive(spark, tracer, seed)
    case "curate" => new Curate(spark, tracer, seed)
    case "ann_serve" => new AnnServe(spark, tracer, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** One pass over a scored table: `want` rows, every score a
    * probability (NaN fails too).
    */
  def scoredErrors(scored: DataFrame, want: Long, what: String): Seq[String] = {
    val r = scored.agg(
      count(lit(1)),
      sum(when(col("resilience").between(0.0, 1.0) && col("fixity").between(0.0, 1.0), 0L)
        .otherwise(1L))).head()
    val n = r.getLong(0)
    val bad = if (r.isNullAt(1)) 0L else r.getLong(1)
    Seq(
      if (n != want) Some(s"$what: $n rows, generator's (url, day) count is $want") else None,
      if (bad > 0) Some(s"$what: $bad of $n rows score outside [0, 1]") else None).flatten
  }

  /** ScoredRow fields in order, as strings (NaN-safe equality). */
  def scoredKey(r: ScoredRow): Seq[String] = r.productIterator.map(String.valueOf).toSeq
  def scoredKey(r: Row): Seq[String] =
    ScoredFields.map(f => String.valueOf(r.getAs[Any](f)))
  val ScoredFields: Seq[String] =
    classOf[ScoredRow].getDeclaredFields.map(_.getName).filterNot(_.contains("$")).toSeq
}

import Workloads._

// ------------------------------------------------------------ trend_bulk

/** Captures → scores for every url: the flagship bulk path. One op is
  * `Trend.run` → `Sinks.writeScored` to a fresh path, then the headline
  * collected off the written table.
  */
final class TrendBulk(spark: SparkSession, t: Tracer, seed: Long) extends Workload {
  val Urls = 100
  val Captures = 400000L
  private val plan = Gen.urlPlan(seed, Urls, Captures)
  private var dir = ""
  private def caps: DataFrame = spark.read.parquet(s"$dir/captures")

  def setup(d: String): Unit = {
    dir = d
    t.span("gen.captures")(Gen.captures(spark, seed, plan).write.parquet(s"$dir/captures"))
  }
  val pattern: IndexedSeq[String] = Vector("bulk")

  def op(i: Int, kind: String): Done = {
    val out = s"$dir/scored_$i"
    val scored = t.span("Trend.run")(Trend.run(caps, TrendQuery()))
    val (_, wNs) = timed(t.span("Sinks.writeScored")(Sinks.writeScored(scored.toDF(), out)))
    val head = t.span("Metrics.headline")(Metrics.headline(t.span("Sinks.readScored")(Sinks.readScored(spark, out))))
    val rows = t.span("harness.collect")(head.collect())
    Done("bulk", Captures, rows.length.toLong, Seq(wNs), () => {
      val want = plan.map(Gen.scoredDays).sum
      val errs = scoredErrors(Sinks.readScored(spark, out), want, "scored table") ++
        (if (rows.length != Urls) Seq(s"headline rows ${rows.length}, urls $Urls") else Nil)
      delete(spark, out)
      errs
    })
  }

  /** The fused path must equal the staged declarative one on three urls. */
  override def finalChecks(): Seq[String] = {
    val rng = new SplittableRandom(Gen.mix(seed, 7))
    val urls = Seq.fill(3)(plan(rng.nextInt(Urls)).url).distinct
    val sub = caps.filter(col("url").isin(urls: _*))
    val fused = Trend.run(sub, TrendQuery()).collect().map(scoredKey).sortBy(r => (r(0), r(1))).toSeq
    val staged = Trend.runStaged(sub, TrendQuery()).collect().map(scoredKey).sortBy(r => (r(0), r(1))).toSeq
    if (fused == staged && fused.nonEmpty) Nil
    else Seq(s"Trend.run and Trend.runStaged differ on ${urls.mkString(", ")} (${fused.size} vs ${staged.size} rows)")
  }
}

// ----------------------------------------------------- trend_interactive

/** One url per dashboard request, Zipf-skewed so popular urls repeat,
  * in cycles of five: 1 `cold` (C, from captures), 2 `lookup` (L,
  * serving table), 2 `rescore` (R, persisted daily table, seeded
  * parameters). The cycle opens with the cold request, so the run's
  * first op is the most expensive kind's warm-up too. With lookups and
  * rescores even, the median is the cheaper rescore and the p90 the
  * slowest request, usually the cold one; at 50/30 the median would sit
  * on the lookup/rescore boundary and flip between them from run to run.
  */
final class TrendInteractive(spark: SparkSession, t: Tracer, seed0: Long) extends Workload {
  val Urls = 20
  val Captures = 40000L
  private val seed = Gen.mix(seed0, 2)
  private val plan = Gen.urlPlan(seed, Urls, Captures)
  private val byUrl = plan.map(s => s.url -> s).toMap
  private var dir = ""
  private var daily: DataFrame = _
  private val writes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private def caps: DataFrame = spark.read.parquet(s"$dir/captures")
  private def serving = s"$dir/serving"

  def setup(d: String): Unit = {
    if (daily != null) daily.unpersist(blocking = true)
    dir = d
    t.span("gen.captures")(Gen.captures(spark, seed, plan).write.parquet(s"$dir/captures"))
    val scored = t.span("Trend.run")(Trend.run(caps, TrendQuery()))
    writes += timed(t.span("Sinks.writeScored")(Sinks.writeScored(scored.toDF(), serving)))._2
    daily = t.span("Daily.fromCaptures")(Daily.fromCaptures(caps)).persist()
    t.span("harness.persist")(daily.count())
  }
  override def setupWrites: Seq[Long] = writes.toSeq

  val pattern: IndexedSeq[String] =
    "C L R L R".split(' ').toVector.map {
      case "L" => "lookup"
      case "R" => "rescore"
      case _ => "cold"
    }
  override def warmKinds: Seq[String] = Seq("rescore")

  /** Zipf(1.1) over a seeded popularity order. */
  private val popularity = {
    val rng = new SplittableRandom(Gen.mix(seed, 12))
    rng.ints(Urls.toLong).toArray.zipWithIndex.sortBy(_._1).map(_._2)
  }
  private val zipfCdf = {
    val w = (1 to Urls).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def urlFor(i: Int): String = {
    val u = new SplittableRandom(Gen.mix(seed, 1000000L + i)).nextDouble()
    val r = java.util.Arrays.binarySearch(zipfCdf, u) match { case k if k >= 0 => k; case k => -k - 1 }
    plan(popularity(math.min(r, Urls - 1))).url
  }

  /** The session's fill settings come from the seed once per run, as a
    * dashboard user picks them once; each request then moves the
    * sigmoid sliders. Every rescore of a run thus shares one plan shape,
    * which the warm-up rescore has compiled.
    */
  private val (fillDays, fillPolicy) = {
    val rng = new SplittableRandom(Gen.mix(seed, 13))
    (Seq(7, 30)(rng.nextInt(2)), FillPolicy.all(rng.nextInt(FillPolicy.all.size)))
  }

  private def query(i: Int): TrendQuery = {
    val rng = new SplittableRandom(Gen.mix(seed, 2000000L + i))
    def jitter(p: SigParams) = SigParams(
      p.shift * (0.8 + 0.4 * rng.nextDouble()), p.slope * (0.8 + 0.4 * rng.nextDouble()), p.spread)
    TrendQuery(
      fill = fillDays,
      policy = fillPolicy,
      params = SigParams.defaults.map { case (k, v) => k -> jitter(v) })
  }

  private def lookup(url: String): Array[Row] =
    Sinks.forUrl(spark, serving, url).collect()

  def op(i: Int, kind: String): Done = {
    val url = urlFor(i)
    val days = Gen.scoredDays(byUrl(url))
    kind match {
      case "lookup" =>
        val rows = t.span("harness.collect")(t.span("Sinks.forUrl")(Sinks.forUrl(spark, serving, url)).collect())
        Done("lookup", rows.length.toLong, rows.length.toLong, Nil, () => {
          val ok = rows.length == days && rows.forall(_.getAs[String]("url") == url) &&
            rows.map(_.getAs[String]("day")).distinct.length == days
          if (ok) Nil else Seq(s"lookup $url: ${rows.length} rows, want $days distinct days")
        })
      case "rescore" =>
        val q = query(i)
        val r = t.span("TrendMachine.rescore")(TrendMachine.rescore(daily.filter(col("url") === url), q))
        val (scored, tr, head) = t.span("harness.collect")(
          (r.scored.collect(), r.transitions.collect(), r.headline.collect()))
        Done("rescore", scored.length.toLong, (scored.length + tr.length + head.length).toLong, Nil, () => {
          val bad = scored.count(s => !(s.resilience >= 0 && s.resilience <= 1 && s.fixity >= 0 && s.fixity <= 1))
          Seq(
            if (scored.length != days) Some(s"rescore $url: ${scored.length} rows, want $days") else None,
            if (head.length != 1) Some(s"rescore $url: ${head.length} headline rows") else None,
            if (bad > 0) Some(s"rescore $url: $bad scores outside [0, 1]") else None).flatten
        })
      case _ =>
        val r = t.span("TrendMachine.run")(TrendMachine.run(caps.filter(col("url") === url), TrendQuery()))
        val (scored, tr, head) = t.span("harness.collect")(
          (r.scored.collect(), r.transitions.collect(), r.headline.collect()))
        Done("cold", scored.length.toLong, (scored.length + tr.length + head.length).toLong, Nil, () => {
          val want = lookup(url).map(scoredKey).sortBy(_(1)).toSeq
          val got = scored.map(scoredKey).sortBy(_(1)).toSeq
          if (got == want && got.size == days) Nil
          else Seq(s"cold $url: ${got.size} rows differ from the serving table's ${want.size}")
        })
    }
  }

}

// ---------------------------------------------------------------- curate

/** The v4 curation funnel over a seeded corpus with planted near-dup
  * chains, contamination, boilerplate and mixed languages; no trend code.
  */
final class Curate(spark: SparkSession, t: Tracer, seed: Long) extends Workload {
  val Docs = 2000
  private val corpus = Gen.corpus(seed, Docs)
  private var dir = ""
  private var lm: (Map[(String, String), Long], Map[String, Long], Long) = _
  private val writes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private def docs = spark.read.parquet(s"$dir/docs")
  private def emb = spark.read.parquet(s"$dir/emb")

  def setup(d: String): Unit = {
    dir = d
    t.span("gen.docs")(Gen.docsFrame(spark, corpus).write.parquet(s"$dir/docs"))
    t.span("gen.emb")(Gen.vectors(spark, Gen.mix(seed, 4), Docs).write.parquet(s"$dir/emb"))
    val train = docs.join(
      t.span("TextStats.trainSplit")(TextStats.trainSplit(docs)).filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"))
    val (bi, uni, v) = t.span("TextStats.lmCounts")(TextStats.lmCounts(train))
    writes += timed(t.span("TextStats.saveLm")(
      TextStats.saveLm(spark, s"$dir/lm", bi, uni, v.collect().head.getLong(0))))._2
    lm = t.span("TextStats.loadLm")(TextStats.loadLm(spark, s"$dir/lm"))
  }
  override def setupWrites: Seq[Long] = writes.toSeq

  private def verdict(): DataFrame = {
    val (bi, uni, v) = lm
    Corpus.docPipelineFullV4(docs, emb, bi, uni, v)
  }

  val pattern: IndexedSeq[String] = Vector("funnel")

  /** The first op collects the verdict for the check; timed ops end in
    * the noop sink.
    */
  def op(i: Int, kind: String): Done = {
    val rows =
      try {
        val v = t.span("Corpus.docPipelineFullV4")(verdict())
        if (i == 0) t.span("harness.collect")(v.collect())
        else { t.span("harness.sink")(v.write.format("noop").mode("overwrite").save()); Array.empty[Row] }
      } finally CacheScope.releaseAll()
    Done("funnel", Docs, rows.length.toLong, Nil, () => if (i == 0) verdictErrors(rows) else Nil)
  }

  /** One verdict row per doc outside the held-out slice, each planted
    * chain one cluster whose members past the first are non-canonical,
    * each planted copy of a held-out doc flagged contaminated.
    */
  private def verdictErrors(rows: Array[Row]): Seq[String] = {
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val want = corpus.docs.count(_.id % Corpus.BenchmarkMod != 0)
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (rows.length != want || byId.size != want)
      errs += s"verdict rows ${rows.length} (${byId.size} distinct), want $want"
    corpus.chains.foreach { chain =>
      val members = chain.flatMap(byId.get)
      val root = chain.min
      if (members.size != chain.size || members.exists(_.getAs[Long]("cluster") != root) ||
          members.exists(r => r.getAs[Boolean]("is_canonical") != (r.getAs[Long]("doc_id") == root)))
        errs += s"near-dup chain ${chain.mkString(",")} not collapsed onto $root"
    }
    val missed = corpus.contaminated.filterNot(id => byId.get(id).exists(_.getAs[Boolean]("contaminated")))
    if (missed.nonEmpty) errs += s"${missed.size} planted contaminated docs not flagged (e.g. ${missed.head})"
    errs.toSeq
  }

}

// ------------------------------------------------------------- ann_serve

/** IVF-PQ serving on disk: searches beside upserts, deletes and periodic
  * compaction on the same index, in cycles of eight ops: 6 searches
  * (S), 1 upsert (U) and 1 delete (D). Every second write also
  * compacts, so each cycle holds three write calls: an upsert, a delete
  * and a compaction. The cycle opens with the upsert, so the run's
  * first op is the cold write; the other kinds each get a warm-up op.
  */
final class AnnServe(spark: SparkSession, t: Tracer, seed0: Long) extends Workload {
  val Vectors = 20000L
  val QueriesPerSearch = 8
  val UpsertSize = 200
  val DeleteSize = 50
  val CompactEvery = 2
  private val seed = Gen.mix(seed0, 5)
  private val centers = Gen.centers(seed)
  private var dir = ""
  private val writes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var pool: Array[(Long, Array[Float])] = Array.empty
  private val deleted = scala.collection.mutable.Set.empty[Long]
  private val live = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val liveSet = scala.collection.mutable.Set.empty[Long]
  private var nextNew = Vectors
  private var writesSinceCompact = 0
  private var segmentsSeen = List.empty[Int]
  private var returned = 0L
  private var returnedLive = 0L
  private def index = s"$dir/index"

  def setup(d: String): Unit = {
    dir = d
    t.span("gen.vectors")(Gen.vectors(spark, seed, Vectors).write.parquet(s"$dir/vectors"))
    writes += timed(t.span("Sinks.writeAnnIndex")(
      Sinks.writeAnnIndex(spark.read.parquet(s"$dir/vectors"), index)))._2
    val rng = new SplittableRandom(Gen.mix(seed, 21))
    val ids = Seq.fill(64)(rng.nextLong(Vectors)).distinct
    pool = t.span("harness.collect")(spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id").isin(ids: _*)).collect())
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    deleted.clear(); live.clear(); liveSet.clear()
    live ++= (0L until Vectors); liveSet ++= live
    nextNew = Vectors
  }
  override def setupWrites: Seq[Long] = writes.toSeq

  val pattern: IndexedSeq[String] =
    "U S S S D S S S".split(' ').toVector.map {
      case "S" => "search"
      case "U" => "upsert"
      case _ => "delete"
    }
  override def warmKinds: Seq[String] = Seq("search", "delete", "compact")
  override def latencyKind(kind: String): Boolean = kind == "search"

  private def vecFrame(rows: Seq[(Long, Array[Float])], idCol: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v.toSeq) }, 1),
      Gen.VecSchema).withColumnRenamed("vec_id", idCol)

  private def segments(): Int = {
    val p = new Path(s"$index/segments")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).length else 0
  }

  private def markLive(ids: Seq[Long]): Unit = {
    ids.filterNot(liveSet).foreach { id => live += id; liveSet += id }
    deleted --= ids
  }

  private def markDeleted(ids: Seq[Long]): Unit = {
    val gone = ids.toSet
    live.filterInPlace(id => !gone(id)); liveSet --= gone
    deleted ++= gone
  }

  def op(i: Int, kind: String): Done = {
    val rng = new SplittableRandom(Gen.mix(seed, 3000000L + i))
    kind match {
      case "search" =>
        segmentsSeen ::= segments()
        val qs = Seq.fill(QueriesPerSearch)(pool(rng.nextInt(pool.length))).distinctBy(_._1)
        val q = vecFrame(qs, "q_id")
        val rows = t.span("harness.collect")(
          t.span("Sinks.readAnnIndexTopK")(Sinks.readAnnIndexTopK(spark, index, q)).collect())
        val gone = deleted.toSet
        returned += rows.length
        returnedLive += rows.count(r => !gone.contains(r.getAs[Long]("vec_id")))
        Done("search", qs.size.toLong, rows.length.toLong, Nil, () => {
          val perQ = rows.groupBy(_.getAs[Long]("q_id")).map { case (k, v) => k -> v.length }
          val short = qs.map(_._1).filter(id => perQ.getOrElse(id, 0) != graft.operators.Ann.K)
          val dead = rows.map(_.getAs[Long]("vec_id")).filter(gone.contains)
          Seq(
            if (short.nonEmpty) Some(s"search: queries ${short.mkString(",")} did not get k rows") else None,
            if (dead.nonEmpty) Some(s"search returned deleted ids ${dead.distinct.mkString(",")}") else None).flatten
        })
      case "upsert" =>
        // half new ids, the rest re-embeddings of live ids plus a few
        // deleted ones coming back
        val fresh = (0 until UpsertSize / 2).map(_ => { nextNew += 1; nextNew - 1 })
        val again = Seq.fill(UpsertSize / 2 - 5)(live(rng.nextInt(live.size)))
        val ids = (fresh ++ again ++ deleted.toSeq.sorted.take(5)).distinct
        val batch = vecFrame(ids.map(id => id -> Gen.vector(seed, centers, id, salt = i.toLong + 1000L)), "vec_id")
        val (_, ns) = timed(t.span("Sinks.upsertAnnIndex")(Sinks.upsertAnnIndex(spark, index, batch)))
        markLive(ids)
        written(Done("upsert", ids.size.toLong, 0L, Seq(ns), () => Nil), i)
      case "delete" =>
        val ids = Seq.fill(DeleteSize)(live(rng.nextInt(live.size))).distinct
        val (_, ns) = timed(t.span("Sinks.deleteFromAnnIndex")(Sinks.deleteFromAnnIndex(spark, index, ids)))
        markDeleted(ids)
        written(Done("delete", ids.size.toLong, 0L, Seq(ns), () => Nil), i)
      case _ =>
        val (_, ns) = timed(t.span("Sinks.compactAnnIndex")(Sinks.compactAnnIndex(spark, index)))
        writesSinceCompact = 0
        Done("compact", 0L, 0L, Seq(ns), () => Nil)
    }
  }

  /** Every [[CompactEvery]]-th timed write also compacts, inside the same op. */
  private def written(d: Done, i: Int): Done =
    if (i <= 0) d
    else {
      writesSinceCompact += 1
      if (writesSinceCompact < CompactEvery) d
      else {
        writesSinceCompact = 0
        val (_, ns) = timed(t.span("Sinks.compactAnnIndex")(Sinks.compactAnnIndex(spark, index)))
        d.copy(kind = d.kind + "+compact", writeNs = d.writeNs :+ ns)
      }
    }

  def deltaSegmentsMean: Double =
    if (segmentsSeen.isEmpty) 0.0 else segmentsSeen.sum.toDouble / segmentsSeen.size
  def liveRatio: Double = if (returned == 0) 0.0 else returnedLive.toDouble / returned

}
