package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.crawl.CrawlJob
import graft.dedup.{PartitionedBloomProbe, UrlSeen}
import graft.model.{HostState, PolitenessConfig}
import graft.politeness.{Robots, Scheduler}
import graft.provider.Providers

import Support._

/** What a crawl's output must hold, derived from the generator parameters. */
final case class CrawlExpected(
    seen: Long, rates: Long, robotsDropped: Long, errorDropped: Long, rounds: Long,
    seenFp: Fingerprint)

/** What a crawl's output does hold. */
final case class CrawlObserved(
    seenRows: Long, seenFp: Fingerprint, rates: Long, robotsDropped: Long, errorDropped: Long,
    rounds: Long)

object CrawlChecks {

  def observe(rates: DataFrame, seen: DataFrame, metrics: DataFrame): CrawlObserved = {
    val m = metrics.agg(
      coalesce(sum("robotsDropped"), lit(0L)), coalesce(sum("errorDropped"), lit(0L)),
      coalesce(max("round"), lit(0)).cast("long")).head()
    CrawlObserved(seen.count(), fingerprint(seen, "urlHash"), rates.count(),
      m.getLong(0), m.getLong(1), m.getLong(2))
  }

  def apply(e: CrawlExpected, o: CrawlObserved): Seq[Check] = Seq(
    Check("seen", e.seen, o.seenFp.n),
    Check("seen_rows", e.seen, o.seenRows),
    Check("seen_fingerprint", e.seenFp.toString, o.seenFp.toString),
    Check("rates", e.rates, o.rates),
    Check("robotsDropped", e.robotsDropped, o.robotsDropped),
    Check("errorDropped", e.errorDropped, o.errorDropped),
    Check("rounds", e.rounds, o.rounds))
}

/** The traced crawl: `CrawlJob.run` stepped one round per call through its
  * resume contract (`maxRounds = k` on the same checkpoint), each round
  * preceded by a replay that calls the layers the round calls, on that
  * round's committed input, each forced to completion inside its span.
  * The replay writes to its own scratch store and a copy of the Bloom
  * filters, never to the crawl's checkpoint.
  */
object CrawlTrace {

  // CrawlJob.run's defaults, which the workloads use
  val BloomParts = 32
  val BloomCapacityPerPart: Long = 1L << 18
  val MaxRetries = 2

  private val CarryCols = Seq("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date",
    "provider", "priority", "seq", "retries")
  private val RateKeys = Seq("card_code", "trans_code", "date", "provider_id")

  private def materialize(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** The fetch-join and one-pass extraction, as the crawl round builds them. */
  def fetchExtract(sched: DataFrame, pages: DataFrame): DataFrame = {
    val carry = CarryCols ++ (if (sched.columns.contains("headers")) Seq("headers") else Nil)
    val route = Providers.route(col("provider"), Providers.registry) _
    sched.hint("shuffle_hash")
      .join(pages.select(col("url"), col("text")), Seq("url"), "left")
      .select(carry.map(col) ++ Seq(
        Providers.idCol(col("provider")).as("provider_id"),
        col("text").isNotNull.as("hit"),
        (col("text").isNotNull && coalesce(route(_.isError(col("text"))), lit(false))).as("is_err"),
        route(_.extractRate(col("text"))).as("rate")): _*)
  }

  private def copyTree(from: String, to: String): Unit =
    walk(from).foreach { p =>
      val dst = Paths.get(to).resolve(Paths.get(from).relativize(p))
      Files.createDirectories(dst.getParent)
      Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  def run(
      spark: SparkSession,
      tr: Tracer,
      frontier0: DataFrame,
      pages: DataFrame,
      robots: DataFrame,
      dir: String,
      cfg: PolitenessConfig,
      roundSec: Double): (Map[String, Double], Seq[Check]) = {
    import spark.implicits._
    val ckpt = s"$dir/ckpt"
    val bloomDir = s"$ckpt/blooms"
    val store = new SnapshotStore(ckpt)
    val robotsEmpty = robots.isEmpty
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val checks = mutable.ArrayBuffer.empty[Check]
    val replayLayers = mutable.ArrayBuffer.empty[Double]
    var k = 0
    var frontierLeft = 1L
    while (frontierLeft > 0 && k < 1000) {
      k += 1
      val man = store.readCurrent().map(_._2)
      def paths(key: String): Seq[String] =
        man.flatMap(_.get(key)).map(_.split(";").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      def readOr(ps: Seq[String], ddl: String): DataFrame =
        if (ps.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        else spark.read.parquet(ps: _*)
      val seenDf = readOr(paths("seen"), "urlHash BIGINT, url STRING, round INT")
      val ratesDf = readOr(paths("rates"),
        "card_code STRING, trans_code STRING, date DATE, provider_id INT, rate DOUBLE")
      val hostStates: Dataset[HostState] = man.map(mm => spark.read.parquet(mm("hostStates")).as[HostState])
        .getOrElse(spark.emptyDataset[HostState])
      val scratch = s"$dir/replay"
      deleteTree(scratch)
      copyTree(bloomDir, s"$scratch/blooms")
      val firstRound = man.isEmpty

      // the URL-seen probe's wasted confirm work: first-try rows the Bloom
      // filters call maybe-seen (measured outside the spans)
      if (!firstRound) {
        val probe = new PartitionedBloomProbe(bloomDir)
        val mightContain = udf((pm: Long, h: Long) => probe(pm, h))
        val r = spark.read.parquet(man.get("frontier")).filter(col("retries") === 0)
          .agg(count(lit(1)), coalesce(sum(when(mightContain(
            pmod(col("urlHash"), lit(BloomParts.toLong)), col("urlHash")), 1L)), lit(0L))).head()
        m("urlseen.probe_rows") += r.getLong(0)
        m("__maybe_seen") += r.getLong(1)
      }

      var cached = List.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = { cached ::= df; df }
      val replayFp = tr.span("crawl.replay", "round" -> k) {
        val fresh = keep(
          if (firstRound) tr.span("urlseen.batch_dedup") { materialize(UrlSeen.dedupWithinBatch(frontier0)) }
          else {
            val frontier = spark.read.parquet(man.get("frontier"))
            tr.span("urlseen.probe") {
              materialize(UrlSeen.filterNewPartitionedBloom(
                frontier.filter(col("retries") === 0), seenDf, bloomDir, BloomParts,
                smallProbe = frontier.count() <= 2000000L)
                .unionByName(frontier.filter(col("retries") > 0)))
            }
          })
        val allowed =
          if (robotsEmpty) fresh
          else keep(tr.span("robots.gate") { materialize(Robots.allowed(fresh, robots)) })
        val sched = keep(tr.span("scheduler.schedule") {
          materialize(Scheduler.scheduleRound(allowed, hostStates.toDF(), cfg, roundSec))
        })
        val extracted = keep(tr.span("fetch.join") { materialize(fetchExtract(sched, pages)) })

        val carry = CarryCols ++ (if (sched.columns.contains("headers")) Seq("headers") else Nil)
        val scratchStore = new SnapshotStore(s"$scratch/store")
        val tables = tr.span("ckpt.write") {
          val newRates = extracted.filter(col("hit") && !col("is_err"))
            .select(col("card_c").as("card_code"), col("trans_c").as("trans_code"), col("date"),
              col("provider_id"), col("rate"))
            .dropDuplicates(RateKeys)
            .join(ratesDf.select(RateKeys.map(col): _*), RateKeys, "left_anti")
          val retryRows = extracted.filter(!col("hit") && col("retries") < MaxRetries)
            .select(carry.map {
              case "priority" => (col("priority") - 1).as("priority")
              case "retries" => (col("retries") + 1).as("retries")
              case c => col(c)
            }: _*)
          val frontier1 = allowed
            .join(sched.select("urlHash", "canonUrl"), Seq("urlHash", "canonUrl"), "left_anti")
            .unionByName(retryRows)
          val hostStates1 = Scheduler.updateHostStates(sched, hostStates, cfg, k, roundSec).toDF()
          val seenDelta = sched.select(col("urlHash"), col("canonUrl").as("url"), lit(k).as("round"))
          val writes = Seq("frontier" -> frontier1, "hostStates" -> hostStates1,
            "seen" -> seenDelta, "rates" -> newRates).map { case (name, df) =>
            Future {
              val p = scratchStore.dataPath(name, k)
              df.write.mode("overwrite").parquet(p)
              name -> p
            }
          }
          Await.result(Future.sequence(writes), Duration.Inf).toMap
        }
        tr.span("urlseen.merge") {
          val firstTry = sched.filter(col("retries") === 0).select(col("urlHash"))
          UrlSeen.mergeDeltaIntoPartitionedBlooms(firstTry,
            seenDf.select("urlHash").unionByName(firstTry), s"$scratch/blooms",
            BloomParts, BloomCapacityPerPart)
          UrlSeen.writeBloomRound(s"$scratch/blooms", k)
        }
        tr.span("ckpt.commit") { scratchStore.commit(k, tables) }

        val freshN = fresh.count()
        val allowedN = allowed.count()
        val schedN = sched.count()
        val ext = extracted.agg(count(lit(1)),
          coalesce(sum(when(col("hit") && !col("is_err"), 1L)), lit(0L))).head()
        if (!robotsEmpty) {
          m("robots.rows_in") += freshN
          m("robots.dropped") += freshN - allowedN
        }
        m("scheduler.rows_in") += allowedN
        m("scheduler.scheduled") += schedN
        m("extract.rows") += ext.getLong(0)
        m("__extract_ok") += ext.getLong(1)
        fingerprint(sched, "urlHash")
      }
      val replay = tr.last("crawl.replay")
      tr.span("crawl.round", "round" -> k) {
        CrawlJob.run(spark, frontier0, pages, robots, ckpt, cfg, roundSec, maxRounds = k)
      }
      replayLayers += tr.last("crawl.round").seconds - layerSeconds(tr, replay)

      val committed = store.readCurrent().get._2
      val seenDelta = spark.read.parquet(committed("seen").split(";").last)
      checks += Check(s"round_${k}_replay_schedule", replayFp.toString,
        fingerprint(seenDelta, "urlHash").toString)
      frontierLeft = spark.read.parquet(committed("frontier")).count()
      cached.foreach(_.unpersist())
      deleteTree(scratch)
    }

    tr.drain()
    def sumOf(name: String): Double = tr.all(name).map(_.seconds).sum
    m("urlseen.probe_s") = sumOf("urlseen.probe")
    m("urlseen.maybe_seen_ratio") = m("__maybe_seen") / math.max(m("urlseen.probe_rows"), 1.0)
    m("urlseen.merge_s") = sumOf("urlseen.merge")
    m("urlseen.bloom_bytes") = bytesUnder(bloomDir).toDouble
    m("robots.gate_s") = sumOf("robots.gate")
    m("scheduler.schedule_s") = sumOf("scheduler.schedule")
    m("scheduler.useful_ratio") = m("scheduler.scheduled") / math.max(m("scheduler.rows_in"), 1.0)
    m("scheduler.task_skew") = medianOf(tr.all("scheduler.schedule").map(tr.counters(_).taskSkew))
    m("fetch.join_s") = sumOf("fetch.join")
    m("fetch.shuffle_bytes") = tr.all("fetch.join").map(tr.counters(_).shuffleWriteBytes.toDouble).sum
    m("extract.ok_ratio") = m("__extract_ok") / math.max(m("extract.rows"), 1.0)
    m("ckpt.write_s") = sumOf("ckpt.write")
    m("ckpt.commit_s") = sumOf("ckpt.commit")
    m("ckpt.bytes_written") = bytesUnder(ckpt).toDouble
    m("ckpt.files") = walk(ckpt).size.toDouble
    val committed = store.readCurrent().get._2
    m("ckpt.frontier_rows_rewritten") = spark.read.parquet(committed("lineage").split(";").toSeq: _*)
      .filter(col("table") === "frontier").agg(coalesce(sum("rows"), lit(0L))).head().getLong(0).toDouble
    val rounds = tr.all("crawl.round")
    m("crawl.rounds") = rounds.size.toDouble
    m("crawl.round_s_p50") = medianOf(rounds.map(_.seconds))
    m("crawl.round_s_max") = rounds.map(_.seconds).max
    val rc = rounds.map(r => (r, tr.counters(r)))
    m("crawl.jobs_per_round") = rc.map(_._2.jobs).sum.toDouble / rounds.size
    m("crawl.driver_idle_frac") =
      rc.map { case (r, c) => c.idleFrac * r.seconds }.sum / math.max(rounds.map(_.seconds).sum, 1e-9)
    m("crawl.unattributed_s") = replayLayers.sum
    (m.toMap.filter(!_._1.startsWith("__")), checks.toSeq)
  }

  /** Seconds of the layer spans directly under a replay span. */
  def layerSeconds(tr: Tracer, replay: Span): Double =
    Layers.crawl.flatMap(tr.all).filter(_.parent == replay.id).map(_.seconds).sum
}

object Layers {
  /** Span names of the crawl round's layer calls, in round order. */
  val crawl: Seq[String] = Seq("urlseen.batch_dedup", "urlseen.probe", "robots.gate",
    "scheduler.schedule", "fetch.join", "ckpt.write", "urlseen.merge", "ckpt.commit")
}
