package perfbench

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.crawl.CrawlJob
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.{BenchWorkload, Synth}
import graft.urls.Urls

import Support._

/** `rates-polite`: the reference's own traffic. The currency × currency ×
  * date grid is planned against a stored rates table holding about a third
  * of the combos, the missing combos are expanded for Mastercard and Visa,
  * and the frontier is crawled over the two provider hosts under wildcard
  * robots rules that disallow one transaction currency and a per-host cap
  * that drains the frontier in `rounds` rounds.
  */
final class RatesPolite(currencies: Int, days: Int, rounds: Int, seed: Long) extends Workload {

  case class Inputs(
      currs: Seq[String], end: LocalDate, ratesPath: String, pagesPath: String,
      robotsPath: String, maxPerHost: Int, expected: CrawlExpected)

  private val Pool = Seq("USD", "EUR", "GBP", "JPY", "CHF", "CAD", "AUD", "NZD", "SEK", "NOK",
    "DKK", "PLN", "CZK", "HUF", "RON", "BGN", "TRY", "ZAR", "MXN", "BRL", "ARS", "CLP", "COP",
    "PEN", "INR", "IDR", "MYR", "PHP", "SGD", "THB", "KRW", "CNY", "HKD", "TWD", "ILS", "AED",
    "SAR", "EGP", "NGN", "KES")
  require(currencies >= 2 && currencies <= Pool.size, s"currencies must be in 2..${Pool.size}")

  val warmupJobs = 1
  private val Providers = Seq(1 -> "Mastercard", 2 -> "Visa")
  private val RoundSec = 1e6 // the per-host cap, not the delay budget, bounds each round

  def generate(spark: SparkSession, dir: String): Inputs = {
    import spark.implicits._
    val currs = seededShuffle(Pool, seed, 1).take(currencies)
    val end = LocalDate.of(2024, 1, 1).plusDays(mixMod(366, seed, 2))
    val banned = mixMod(currencies, seed, 3).toInt
    val dates = (0 until days).map(d => end.minusDays(d.toLong))
    val combos = for (c <- currs.indices; t <- currs.indices if c != t; d <- 0 until days) yield (c, t, d)
    def stored(p: Int, c: (Int, Int, Int)): Boolean = mixMod(3, seed, 4, p, c._1, c._2, c._3) == 0
    def rate(xs: Long*): Double = 1.0 + mixMod(9000000L, (seed +: xs): _*) / 1e6

    // stored rates: a third of the window's combos, plus one row per pair
    // dated before the window, which the planner must filter out
    val inWindow = for ((p, _) <- Providers; c <- combos if stored(p, c))
      yield (currs(c._1), currs(c._2), Date.valueOf(dates(c._3)), p, rate(5, p, c._1, c._2, c._3))
    val beforeWindow = for ((p, _) <- Providers; c <- currs.indices; t <- currs.indices if c != t)
      yield (currs(c), currs(t), Date.valueOf(end.minusDays(days + mixMod(30, seed, 6, p, c, t))),
        p, rate(7, p, c, t))
    val ratesPath = s"$dir/rates"
    (inWindow ++ beforeWindow).toDF("card_code", "trans_code", "date", "provider_id", "rate")
      .repartition(4).write.mode("overwrite").parquet(ratesPath)

    // the web: a Mastercard and a Visa page for every combo of the grid
    val pagesPath = s"$dir/pages"
    Synth.pages(combos.map(c => (currs(c._1), currs(c._2), Date.valueOf(dates(c._3))))
      .toDF("card_c", "trans_c", "date"))
      .repartition(8).write.mode("overwrite").parquet(pagesPath)

    // robots: plain allow prefixes, and a longer wildcard disallow of one
    // transaction currency per host
    val bc = currs(banned)
    val robotsPath = s"$dir/robots"
    Seq(
      ("www.mastercard.co.uk", "/settlement/", true),
      ("www.mastercard.co.uk", s"/*transCurr=$bc;", false),
      ("www.visa.co.uk", "/support/", true),
      ("www.visa.co.uk", s"/*toCurr=$bc&", false))
      .toDF("host", "pathPrefix", "allow").write.mode("overwrite").parquet(robotsPath)

    // expected output, from the generator's own choices
    val missing = for ((p, _) <- Providers; c <- combos if !stored(p, c)) yield (p, c)
    val (disallowed, allowed) = missing.partition(_._2._2 == banned)
    val perHost = allowed.groupBy(_._1).values.map(_.size).max
    val maxPerHost = (perHost + rounds - 1) / rounds
    def url(p: Int, c: (Int, Int, Int)): String =
      if (p == 1) Urls.mcUrl(currs(c._1), currs(c._2), dates(c._3))
      else Urls.visaUrl(currs(c._1), currs(c._2), dates(c._3))
    val fp = fingerprintOf(allowed.map { case (p, c) =>
      XXH64.hashUTF8String(UTF8String.fromString(Urls.canonicalize(url(p, c))), 42L)
    })
    // Mastercard error pages among the fetched combos: the generator's own
    // error predicate, evaluated over the combos the crawl must fetch
    val errors = allowed.collect { case (1, c) => (currs(c._1), currs(c._2), Date.valueOf(dates(c._3))) }
      .toDF("card_c", "trans_c", "date")
      .filter(Synth.mcIsErrorFor(col("card_c"), col("trans_c"), col("date"))).count()
    Inputs(currs, end, ratesPath, pagesPath, robotsPath, maxPerHost,
      CrawlExpected(seen = allowed.size, rates = allowed.size - errors,
        robotsDropped = disallowed.size, errorDropped = errors,
        rounds = (perHost + maxPerHost - 1) / maxPerHost, seenFp = fp))
  }

  private def cfg(in: Inputs) = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = in.maxPerHost)

  /** The planner and seed expansion: the frontier of missing combos. */
  private def plan(spark: SparkSession, in: Inputs): (DataFrame, DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val candidates = Frontier.candidates(Frontier.currencyDim(spark, in.currs), in.end, days)
    val providers = Providers.toDF("id", "name")
    val rates = spark.read.parquet(in.ratesPath)
    val missing = Providers.map { case (_, p) =>
      Frontier.missing(candidates, rates, providers, p, in.end, days, in.currs)
    }
    (candidates, providers, missing)
  }

  private def expand(missing: Seq[DataFrame]): DataFrame =
    missing.zip(Providers).map { case (m, (_, p)) => CrawlJob.expandSeeds(m, p) }
      .reduce(_ unionByName _)

  def rep(spark: SparkSession, in: Inputs, dir: String): RepResult = {
    val ckpt = s"$dir/ckpt"
    val ((rates, seen, metrics), wall) = timed {
      val frontier0 = expand(plan(spark, in)._3)
      CrawlJob.run(spark, frontier0, spark.read.parquet(in.pagesPath),
        spark.read.parquet(in.robotsPath), ckpt, cfg(in), RoundSec)
    }
    val o = CrawlChecks.observe(rates, seen, metrics)
    RepResult(o.seenFp.n, wall, bytesUnder(ckpt), CrawlChecks(in.expected, o))
  }

  def traced(spark: SparkSession, in: Inputs, dir: String, tr: Tracer): (Map[String, Double], Seq[Check]) = {
    val (candidates, _, missing) = plan(spark, in)
    val planned = tr.span("plan.missing") {
      missing.map { m => val c = m.cache(); c.count(); c }
    }
    val frontier0 = tr.span("urls.expand") { val f = expand(planned).cache(); f.count(); f }
    val layers = Map(
      "plan.missing_s" -> tr.last("plan.missing").seconds,
      "plan.candidate_rows" -> candidates.count().toDouble,
      "plan.missing_rows" -> planned.map(_.count()).sum.toDouble,
      "urls.expand_s" -> tr.last("urls.expand").seconds,
      "urls.rows" -> frontier0.count().toDouble)
    val (crawl, checks) = CrawlTrace.run(spark, tr, frontier0, spark.read.parquet(in.pagesPath),
      spark.read.parquet(in.robotsPath), dir, cfg(in), RoundSec)
    val ckpt = s"$dir/ckpt"
    val (rates, seen, metrics) = CrawlJob.run(spark, frontier0, spark.read.parquet(in.pagesPath),
      spark.read.parquet(in.robotsPath), ckpt, cfg(in), RoundSec) // resumes the drained crawl: no round runs
    val o = CrawlChecks.observe(rates, seen, metrics)
    (layers ++ crawl, checks ++ CrawlChecks(in.expected, o))
  }
}

/** `web-drain`: a synthetic web of `urls` URLs over 512 hosts, one hot host
  * holding 2.5% of them, ~2 KB page bodies, no robots rules, and a budget
  * that drains the frontier in one round. The frontier has the shape of
  * `synth.BenchWorkload.frontier` with the seed in every hash salt; the
  * bodies are `synth.BenchWorkload.pages`.
  */
final class WebDrain(urls: Long, seed: Long) extends Workload {

  case class Inputs(frontierPath: String, pagesPath: String, robotsPath: String,
      expected: CrawlExpected)

  val warmupJobs = 1
  private val Hosts = 512
  private val HotPermille = 25
  private val Cfg = PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue)
  private val RoundSec = 1e9

  def generate(spark: SparkSession, dir: String): Inputs = {
    import spark.implicits._
    val id = col("id")
    val host = when(pmod(xxhash64(id, lit(seed), lit("hot")), lit(1000L)) < HotPermille,
      lit("hot-0.example.com"))
      .otherwise(concat(lit("host-"), pmod(xxhash64(id, lit(seed), lit("host")), lit(Hosts.toLong)),
        lit(".example.com")))
    val frontierPath = s"$dir/frontier"
    spark.range(0, urls, 1, 8).toDF("id")
      .withColumn("url", concat(lit("https://"), host, lit(s"/rates/s$seed/page-"), id))
      .withColumn("canonUrl", graft.expr.Native.canonicalize(col("url")))
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("host", host)
      .withColumn("card_c", concat(lit("C"), id.cast("string")))
      .withColumn("trans_c", lit("USD"))
      .withColumn("date", date_add(lit(Date.valueOf("1995-01-01")),
        pmod(xxhash64(id, lit(seed), lit("date")), lit(365L)).cast("int")))
      .withColumn("provider", lit("Mastercard"))
      .withColumn("priority", lit(0))
      .withColumn("seq", id)
      .withColumn("retries", lit(0))
      .select("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date", "provider",
        "priority", "seq", "retries")
      .write.mode("overwrite").parquet(frontierPath)
    val frontier = spark.read.parquet(frontierPath)
    val pagesPath = s"$dir/pages"
    BenchWorkload.pages(frontier).write.mode("overwrite").parquet(pagesPath)
    val robotsPath = s"$dir/robots"
    Seq.empty[(String, String, Boolean)].toDF("host", "pathPrefix", "allow")
      .write.mode("overwrite").parquet(robotsPath)
    val errors = frontier.filter(Synth.mcIsErrorFor(col("card_c"), col("trans_c"), col("date"))).count()
    Inputs(frontierPath, pagesPath, robotsPath,
      CrawlExpected(seen = urls, rates = urls - errors, robotsDropped = 0, errorDropped = errors,
        rounds = 1, seenFp = fingerprint(frontier, "urlHash")))
  }

  private def inputs(spark: SparkSession, in: Inputs) = (spark.read.parquet(in.frontierPath),
    spark.read.parquet(in.pagesPath), spark.read.parquet(in.robotsPath))

  def rep(spark: SparkSession, in: Inputs, dir: String): RepResult = {
    val ckpt = s"$dir/ckpt"
    val ((rates, seen, metrics), wall) = timed {
      val (frontier, pages, robots) = inputs(spark, in)
      CrawlJob.run(spark, frontier, pages, robots, ckpt, Cfg, RoundSec)
    }
    val o = CrawlChecks.observe(rates, seen, metrics)
    RepResult(o.seenFp.n, wall, bytesUnder(ckpt), CrawlChecks(in.expected, o))
  }

  def traced(spark: SparkSession, in: Inputs, dir: String, tr: Tracer): (Map[String, Double], Seq[Check]) = {
    val (frontier, pages, robots) = inputs(spark, in)
    val (crawl, checks) = CrawlTrace.run(spark, tr, frontier, pages, robots, dir, Cfg, RoundSec)
    val (rates, seen, metrics) = CrawlJob.run(spark, frontier, pages, robots, s"$dir/ckpt", Cfg, RoundSec)
    (crawl, checks ++ CrawlChecks(in.expected, CrawlChecks.observe(rates, seen, metrics)))
  }
}
