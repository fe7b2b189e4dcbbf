package graftbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed
  * (and a row's index), so a seed names one input set exactly, whatever
  * the partitioning.
  */
object Gen {

  /** Independent 64-bit stream id for (seed, salt) — splitmix64. */
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------ captures

  /** The scoring horizon the engine's default query uses. */
  val AsOf: LocalDate = LocalDate.parse(graft.model.TrendQuery().asOf)
  /** Series start: about ten years before [[AsOf]], as in the reference's archive. */
  val SeriesStart: LocalDate = LocalDate.parse("2014-01-01")

  final case class UrlSpec(url: String, firstDay: LocalDate, captures: Int)

  def urlName(i: Int): String = f"http://www.site$i%05d.example/index.html"

  /** Per-url plan: a Zipf-skewed capture count (exponent 0.8 over a
    * seeded rank order) and a first-capture day within the first half
    * year of the series. Counts sum to `total` exactly.
    */
  def urlPlan(seed: Long, urls: Int, total: Long): IndexedSeq[UrlSpec] = {
    val rng = new SplittableRandom(mix(seed, 1))
    val ranks = rng.ints(urls.toLong).toArray.zipWithIndex.sortBy(_._1).map(_._2)
    val floor = math.min(20L, total / urls)
    val weights = ranks.map(r => 1.0 / math.pow(r + 1.0, 0.8))
    val wsum = weights.sum
    val spare = total - floor * urls
    val counts = weights.map(w => floor + (spare * w / wsum).toLong)
    counts(0) += total - counts.sum
    (0 until urls).map { i =>
      val first = SeriesStart.plusDays(new SplittableRandom(mix(seed, 1000L + i)).nextInt(180).toLong)
      UrlSpec(urlName(i), first, counts(i).toInt)
    }
  }

  val CaptureSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("ts", StringType),
    StructField("status", StringType), StructField("digest", StringType),
    StructField("seq", LongType)))

  private val TsFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)
  private val Statuses = Array("200", "301", "302", "404", "503", "500")

  /** One url's captures, sorted by ts: the rate grows toward the present
    * (a power-law skew on the time axis) with a few dense bursts, status
    * regimes switch a handful of times (redirects, outages, removals),
    * revisit records ("-") repeat the current digest, and the content
    * digest churns every few dozen captures.
    */
  def urlCaptures(seed: Long, i: Int, spec: UrlSpec, seqBase: Long): Iterator[Row] = {
    val rng = new SplittableRandom(mix(seed, 100000L + i))
    val t0 = spec.firstDay.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val t1 = AsOf.minusDays(2).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val span = (t1 - t0).toDouble
    val n = spec.captures
    val bursts = Array.fill(3)(t0 + (rng.nextDouble() * (span - 3 * 86400)).toLong)
    val ts = Array.tabulate(n) { j =>
      if (j == 0) t0 + rng.nextInt(86400)
      else if (rng.nextDouble() < 0.2) bursts(rng.nextInt(3)) + rng.nextInt(3 * 86400)
      else t0 + (span * math.pow(rng.nextDouble(), 0.6)).toLong
    }
    // the first draw lies on the first day and every other draw after it,
    // so the sorted series still starts on spec.firstDay
    java.util.Arrays.sort(ts)
    val regimes = 1 + rng.nextInt(4)
    val cuts = Array.fill(regimes - 1)(rng.nextInt(math.max(1, n))).sorted
    val dominant = Array.tabulate(regimes)(r => if (r == 0 || rng.nextDouble() < 0.6) "200" else Statuses(1 + rng.nextInt(Statuses.length - 1)))
    var digest = java.lang.Long.toHexString(rng.nextLong())
    Iterator.tabulate(n) { j =>
      val regime = cuts.count(_ <= j)
      val u = rng.nextDouble()
      val status =
        if (u < 0.06 && j > 0) "-"
        else if (u < 0.10) Statuses(rng.nextInt(Statuses.length))
        else dominant(regime)
      if (status != "-" && rng.nextDouble() < 0.03) digest = java.lang.Long.toHexString(rng.nextLong())
      Row(spec.url, TsFmt.format(Instant.ofEpochSecond(ts(j))), status, digest, seqBase + j)
    }
  }

  /** All captures, stored in (url, ts) order the way a CDX index is. */
  def captures(spark: SparkSession, seed: Long, plan: IndexedSeq[UrlSpec]): DataFrame = {
    val bases = plan.scanLeft(0L)(_ + _.captures)
    val parts = math.min(plan.size, spark.sparkContext.defaultParallelism)
    val rows = spark.sparkContext
      .parallelize(plan.indices.map(i => (i, plan(i), bases(i))), parts)
      .flatMap { case (i, spec, base) => urlCaptures(seed, i, spec, base) }
    spark.createDataFrame(rows, CaptureSchema)
  }

  /** Scored (url, day) rows the engine must produce for a url: every day
    * from its first capture through the horizon, inclusive.
    */
  def scoredDays(spec: UrlSpec): Long =
    AsOf.toEpochDay - spec.firstDay.toEpochDay + 1

  // -------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Corpus(docs: IndexedSeq[Doc], chains: Seq[Seq[Long]], contaminated: Seq[Long])

  private val LangMarkers: Map[String, Seq[String]] =
    graft.operators.TextStats.Markers.toMap + ("und" -> Seq.empty)
  private val Langs = Seq("en" -> 0.6, "de" -> 0.15, "es" -> 0.1, "fr" -> 0.1, "und" -> 0.05)
  private val Boilerplate =
    "subscribe to our newsletter for updates privacy policy terms of use all rights reserved"

  private def pick[T](rng: SplittableRandom, weighted: Seq[(T, Double)]): T = {
    var u = rng.nextDouble()
    weighted.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse(weighted.last._1)
  }

  /** A content word from a 30k-word synthetic vocabulary. */
  private def word(rng: SplittableRandom): String = {
    val syll = Array("ka", "lo", "mi", "ter", "an", "vo", "sen", "ru", "pe", "dor", "il", "ne")
    val k = rng.nextInt(30000)
    syll(k % 12) + syll((k / 12) % 12) + syll((k / 144) % 12) + (k / 1728).toString
  }

  private def words(rng: SplittableRandom, lang: String, n: Int): Vector[String] = {
    val markers = LangMarkers(lang)
    Vector.fill(n)(if (markers.nonEmpty && rng.nextDouble() < 0.2) markers(rng.nextInt(markers.size)) else word(rng))
  }

  /** A corpus of `n` docs with planted structure: near-duplicate chains
    * of 2–6 docs (each member repeats its predecessor with the final word
    * replaced, so every pair in a chain is a near duplicate), docs that
    * copy a 25-word span of a held-out benchmark doc (contaminated),
    * a shared boilerplate footer on a tenth of docs, five languages and
    * eight sources, one of them low quality. Planted docs never take a
    * held-out id (`doc_id % BenchmarkMod == 0`), which the funnel carves
    * out of the verdict.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new SplittableRandom(mix(seed, 3))
    val benchMod = graft.operators.Corpus.BenchmarkMod
    val docs = IndexedSeq.newBuilder[Doc]
    val chains = Seq.newBuilder[Seq[Long]]
    val contaminated = Seq.newBuilder[Long]
    val benchTexts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    var id = 0L
    def plainDoc(): Unit = {
      val lang = pick(rng, Langs)
      val src = rng.nextInt(8)
      val body =
        if (src == 7) Vector.fill(3 + rng.nextInt(4))("!!" + word(rng) + "??")
        else words(rng, lang, 40 + rng.nextInt(60))
      val held = id % benchMod == 0
      // held-out docs carry no footer: its shingles would otherwise count
      // as benchmark overlap in every footer-carrying doc
      val footer = !held && rng.nextDouble() < 0.1
      val text = (if (footer) body ++ Boilerplate.split(" ") else body).mkString(" ")
      if (held && body.size >= 40) benchTexts += body
      docs += Doc(id, text, lang, s"source$src")
      id += 1
    }
    def free(k: Int): Boolean = (id until id + k).forall(_ % benchMod != 0)
    while (id < n) {
      val u = rng.nextDouble()
      val len = 2 + rng.nextInt(5)
      if (u < 0.06 && id + len <= n && free(len)) {
        val lang = pick(rng, Langs.take(4))
        var text = words(rng, lang, 60 + rng.nextInt(40))
        val members = (0 until len).map { _ =>
          docs += Doc(id, text.mkString(" "), lang, s"source${rng.nextInt(7)}")
          id += 1
          text = text.updated(text.size - 1, word(rng))
          id - 1
        }
        chains += members
      } else if (u < 0.09 && benchTexts.nonEmpty && free(1)) {
        val bench = benchTexts(rng.nextInt(benchTexts.size))
        val from = rng.nextInt(math.max(1, bench.size - 25))
        val text = words(rng, "en", 20) ++ bench.slice(from, from + 25) ++ words(rng, "en", 15)
        docs += Doc(id, text.mkString(" "), "en", s"source${rng.nextInt(7)}")
        contaminated += id
        id += 1
      } else plainDoc()
    }
    Corpus(docs.result(), chains.result(), contaminated.result())
  }

  def docsFrame(spark: SparkSession, c: Corpus): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = c.docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)
  }

  // ------------------------------------------------------------- vectors

  val Dim = 64
  val Clusters = 64
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Cluster centers for the vector generator. */
  def centers(seed: Long): Array[Array[Double]] =
    Array.tabulate(Clusters) { k =>
      val rng = new SplittableRandom(mix(seed, 500000L + k))
      Array.fill(Dim)(gauss(rng))
    }

  /** Every 50th id (offset 7) is a near-copy twin of the id before it. */
  def isTwin(id: Long): Boolean = id % 50 == 7

  /** Vector `id`: its cluster's center plus spread noise; a twin is its
    * predecessor plus a tiny perturbation. `salt` gives re-embeddings of
    * the same id a fresh draw.
    */
  def vector(seed: Long, cs: Array[Array[Double]], id: Long, salt: Long = 0L): Array[Float] = {
    if (salt == 0L && isTwin(id)) {
      val rng = new SplittableRandom(mix(seed, -id))
      vector(seed, cs, id - 1).map(x => (x + 0.01 * gauss(rng)).toFloat)
    } else {
      val rng = new SplittableRandom(mix(seed ^ salt, id))
      val c = cs(rng.nextInt(Clusters))
      Array.tabulate(Dim)(d => (c(d) + 0.35 * gauss(rng)).toFloat)
    }
  }

  def vectors(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val rows = spark.sparkContext
      .range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        val cs = centers(seed)
        ids.map(id => Row(id, vector(seed, cs, id)))
      }
    spark.createDataFrame(rows, VecSchema)
  }
}
