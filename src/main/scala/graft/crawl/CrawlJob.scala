package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.dedup.UrlSeen
import graft.model.{HostState, PolitenessConfig}
import graft.politeness.{Robots, Scheduler}

/** The crawl lifecycle (SURVEY.md §3.2 Spark equivalent): resumable
  * micro-batch rounds of
  *
  *   dedup (bloom + exact anti-join) → robots gate → per-host politeness
  *   schedule → fetch-join against the page table → extract → append
  *   rates/seen → atomic snapshot commit
  *
  * replacing Scrapy's reactor loop (dupefilter → robots → scheduler →
  * downloader → parse → pipeline). Every round commits one snapshot via
  * [[SnapshotStore]]; `run` resumes mid-crawl from the last committed round
  * and a resumed run is bit-equivalent to an uninterrupted one.
  */
object CrawlJob {

  /** xxhash64 over the canonical URL — the dedup key (north_rule). */
  private def canonicalCol = graft.expr.Native.canonicalize _

  /** Schemas of the crawl's append-only tables, for reading a table no
    * round has committed yet.
    */
  val RatesDdl = "card_code STRING, trans_code STRING, date DATE, provider_id INT, rate DOUBLE"
  val SeenDdl = "urlHash BIGINT, url STRING, round INT"
  private val MetricsDdl = "round INT, host STRING, scheduled BIGINT, dedupDropped BIGINT, offsiteDropped BIGINT, robotsDropped BIGINT, fetchMissed BIGINT, errorDropped BIGINT, extractedOk BIGINT"

  /** Expand seed combos (card_c, trans_c, date, seq) into frontier rows for
    * one provider, building the byte-exact provider URL (SURVEY.md §2#35-36)
    * as pure column expressions. Provider behavior is resolved from the
    * registry ([[graft.provider.Providers]]) — the spider-auto-discovery
    * dual (client.py:44-46); pass `providers` to extend it.
    */
  def expandSeeds(
      seeds: DataFrame,
      provider: String,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      dedupKey: graft.urls.DedupKey = graft.urls.DedupKey.XxHashCanonical): DataFrame = {
    val p = graft.provider.Providers.byName(provider, providers)
    seeds
      .withColumn("url", p.urlFor(col("card_c"), col("trans_c"), col("date")))
      .withColumn("canonUrl", canonicalCol(col("url"))) // computed ONCE, carried as data
      .withColumn("urlHash", graft.urls.UrlCols.urlHashCol(col("url"), col("canonUrl"), dedupKey))
      .withColumn("host", graft.urls.UrlCols.hostCol(col("url")))
      .withColumn("provider", lit(provider))
      .withColumn("priority", lit(0))
      .withColumn("retries", lit(0))
      // request headers ride the row — the typed-column dual of Scrapy's
      // Request(headers=...) (MCSpider.py:67-68); no out-of-band meta
      .withColumn("headers", p.headersFor(col("card_c"), col("trans_c"), col("date")))
      .select("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date", "provider", "priority", "seq", "retries", "headers")
  }

  /** Run (or resume) a crawl.
    *
    * @param frontier0  initial frontier (ignored when resuming)
    * @param pages      the page table (BASELINE.json input_hint shape)
    * @param robots     rules table (host, pathPrefix, allow)
    * @param checkpointDir SnapshotStore root
    * @param roundSec   simulated wall-clock seconds per round (drives the
    *                   token-bucket budget)
    * @param insertBatchRows reference-parity insert batching: when set,
    *                   every committed rates file holds at most this many
    *                   rows (the reference pipeline inserts in 100-row
    *                   batches, pipelines.py) — a compat knob, NOT the
    *                   scale default (round-delta commits)
    * @param allowedDomains offsite filter (Scrapy OffsiteMiddleware /
    *                   `allowed_domains`, reference MCSpider.py:21): when
    *                   non-empty, frontier rows whose host is neither a
    *                   listed domain nor a subdomain of one are dropped
    *                   (and counted as `offsiteDropped`). Empty = no filter,
    *                   like a spider with no allowed_domains.
    * @return (rates, seen, metrics) DataFrames of the final snapshot
    */
  def run(
      spark: SparkSession,
      frontier0: DataFrame,
      pages: DataFrame,
      robots: DataFrame,
      checkpointDir: String,
      cfg: PolitenessConfig = PolitenessConfig(),
      roundSec: Double = 10.0,
      maxRounds: Int = 1000,
      maxRetries: Int = 2,
      allowedDomains: Seq[String] = Nil,
      bloomParts: Int = 32,
      compactEvery: Int = 64,
      insertBatchRows: Option[Int] = None,
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val store = new SnapshotStore(checkpointDir)
    val bloomDir = s"$checkpointDir/blooms"

    // ---- load or init state ------------------------------------------------
    // frontier + hostStates are full snapshots (they shrink / stay tiny);
    // seen / rates / metrics are APPEND-ONLY and stored as per-round delta
    // files — the manifest carries the delta path list, so each round
    // writes O(round delta), not O(total state). At 10^10 URLs a full
    // seen-set rewrite per round would dominate everything.
    val resume = store.readCurrent()
    var round = resume.map(_._1).getOrElse(0)
    var (frontier, hostStates) = resume match {
      case Some((_, man)) =>
        (spark.read.parquet(man("frontier")), spark.read.parquet(man("hostStates")).as[HostState])
      case None =>
        (UrlSeen.dedupWithinBatch(frontier0), spark.emptyDataset[HostState])
    }
    val committed = resume.map(_._2).getOrElse(Map.empty[String, String])
    var seenPaths: Seq[String] = SnapshotStore.list(committed, "seen")
    var ratesPaths: Seq[String] = SnapshotStore.list(committed, "rates")
    var metricsPaths: Seq[String] = SnapshotStore.list(committed, "metrics")
    var lineagePaths: Seq[String] = SnapshotStore.list(committed, "lineage")
    def seenDf: DataFrame = SnapshotStore.read(spark, seenPaths, SeenDdl)
    def ratesDf: DataFrame = SnapshotStore.read(spark, ratesPaths, RatesDdl)
    def metricsDf: DataFrame = SnapshotStore.read(spark, metricsPaths, MetricsDdl)

    // a fresh run's frontier is a COMPUTED plan (the within-batch dedup
    // window): cache it so the loop-guard count and round 1's consumption
    // evaluate it once. Resume frontiers are parquet-backed — nothing to
    // save. Released at the end of round 1 with the other round caches.
    if (resume.isEmpty) frontier = frontier.cache()
    var frontierCount = frontier.count()
    // the run never adds URLs — the frontier only shrinks, and retries are
    // keys already merged — so this frontier bounds the keys the rounds
    // below merge into the filters: size fresh filters from it
    val bloomCapacity = UrlSeen.capacityFor(frontierCount, bloomParts)

    // reconcile the partitioned-Bloom sidecar state with the committed
    // snapshot: the filters are merged BEFORE each manifest commit, so
    // marker ≥ committed round ⇒ filters ⊇ seen (extra keys are harmless —
    // the exact anti-join confirms). A marker BEHIND the committed round
    // (legacy checkpoint layout, manual surgery) breaks that superset
    // invariant, so rebuild once from the committed seen set.
    if (round > 0 && UrlSeen.readBloomRound(bloomDir).forall(_ < round)) {
      if (seenPaths.nonEmpty) {
        // rebuild from DISTINCT keys: retry rows re-append the same urlHash
        // each round, so raw row counts would inflate the saturation sidecars
        // and trigger premature doubled-capacity rebuilds (the merge path
        // already dedups via distinct() — keep both paths consistent).
        // Sized for the seen keys plus the frontier still to merge.
        val distinctKeys = seenDf.select("urlHash").distinct()
        val seenCount = distinctKeys.count()
        UrlSeen.buildPartitionedBlooms(
          distinctKeys, bloomDir, bloomParts,
          UrlSeen.capacityFor(seenCount + frontierCount, bloomParts))
      }
      UrlSeen.writeBloomRound(bloomDir, round)
    }

    // ---- rounds ------------------------------------------------------------
    // no robots rules at all (common in tests/bench) ⇒ skip the gate's
    // broadcast-join subtree every round; checked once, not per round
    val robotsEmpty = robots.isEmpty
    while (frontierCount > 0 && round < maxRounds) {
      round += 1
      val frontierPrev = frontier

      val tRound = System.nanoTime()
      // 1. dedup against the seen set — INCREMENTAL partitioned-Bloom prune
      //    + exact anti-join confirm. The per-partition filters were merged
      //    with each prior round's seen DELTA (never a full seen rescan; no
      //    driver-sized filter), so per-round dedup cost is flat as the
      //    crawl grows — the 10^10-URL shape. Nothing seen yet
      //    (first round) ⇒ skip the whole dedup subtree.
      //    Retry rows (retries > 0) BYPASS the dupefilter — Scrapy re-enqueues
      //    retries with dont_filter semantics, and they are in `seen` already.
      // nothing seen yet ⇒ `fresh` IS the frontier frame, which the
      // fresh-run path above already cached — re-caching the same plan is a
      // no-op that logs a CacheManager warning; only the computed dedup
      // output is a new frame needing its own cache
      val fresh =
        if (seenPaths.isEmpty) frontier
        else {
          val firstTry = frontier.filter(col("retries") === 0)
          val retries = frontier.filter(col("retries") > 0)
          // smallProbe: the bloom-pruned probe set is at most frontier-sized
          // (frontierCount is the conservative upper bound for it), so below
          // the broadcast-safety bound (~2M rows ≈ low hundreds of MB of
          // (hash, url)) the seen table is scanned once and never shuffled
          // (see filterNewPartitionedBloom)
          UrlSeen.filterNewPartitionedBloom(firstTry, seenDf, bloomDir, bloomParts,
            smallProbe = frontierCount <= 2000000L)
            .unionByName(retries)
            .cache()
        }
      // 2. offsite filter (allowed_domains) then robots gate; cached — the
      //    surviving frontier feeds both the scheduler and the next-round
      //    frontier anti-join. Offsite runs first, as in Scrapy: the spider
      //    middleware drops off-domain requests before they reach the
      //    scheduler/downloader at all.
      // cache only NEW frames: a skipped gate passes the previous frame
      // through, and re-caching it is a no-op that logs a CacheManager
      // warning every round (unpersist below is idempotent either way)
      val onsiteF =
        if (allowedDomains.isEmpty) fresh else Robots.onSite(fresh, allowedDomains).cache()
      val allowedF = if (robotsEmpty) onsiteF else Robots.allowed(onsiteF, robots).cache()
      // 3-7. schedule → fetch → extract → rates/seen/frontier/host deltas
      val r = step(allowedF, hostStates, ratesDf, round, pages, cfg, roundSec, maxRetries, providers)
      val (sched, extracted) = (r.sched, r.extracted)

      // 8. per-round fetch/dedup metrics (north_rule). All aggregations run
      //    over slim cached frames.
      // ALL per-host stage counts in ONE aggregation: tag each (cached,
      // slim) stage frame with its name, union, and count each stage of the
      // fixed list with a conditional count — one shuffle of (host, stage)
      // rows instead of 8 groupBys + 7 full_outer joins (whose per-job
      // fixed costs dominated small rounds and whose 8 exchanges were pure
      // waste at scale). `pivot` would plan two aggregates and two
      // exchanges for the same counts.
      // Two scan collapses (r07):
      //  - a pass-through gate (first round's dedup, no allowed_domains,
      //    empty robots) returns its INPUT FRAME unchanged; consecutive
      //    stages sharing one frame (reference identity) emit all their
      //    labels from ONE scan instead of re-scanning the same cached
      //    blocks per label;
      //  - the three fetch outcomes are mutually exclusive and exhaustive
      //    (!hit / hit∧is_err / hit∧¬is_err), so one labeled scan of
      //    `extracted` replaces three filtered ones.
      val stageCounts = Seq("entered", "postDedup", "postOffsite", "postRobots",
        "scheduled", "fetchMissed", "errorDropped", "extractedOk")
        .map(s => count(when(col("__stage") === s, 1)).as(s))
      def tag(df: DataFrame, stage: String): DataFrame =
        df.select(col("host"), lit(stage).as("__stage"))
      val gateTagged = {
        val chain = Seq("entered" -> frontier, "postDedup" -> fresh,
          "postOffsite" -> onsiteF, "postRobots" -> allowedF)
        val groups = scala.collection.mutable.ArrayBuffer
          .empty[(DataFrame, scala.collection.mutable.ArrayBuffer[String])]
        chain.foreach { case (nm, df) =>
          if (groups.nonEmpty && (groups.last._1 eq df)) groups.last._2 += nm
          else groups += ((df, scala.collection.mutable.ArrayBuffer(nm)))
        }
        groups.map { case (df, names) =>
          if (names.length == 1) tag(df, names.head)
          else df.select(col("host"),
            explode(array(names.toSeq.map(lit): _*)).as("__stage"))
        }.reduce(_ unionAll _)
      }
      val extractedTagged = extracted.select(col("host"),
        when(!col("hit"), lit("fetchMissed"))
          .when(col("is_err"), lit("errorDropped"))
          .otherwise(lit("extractedOk")).as("__stage"))
      val metricsDelta = gateTagged
        .unionAll(tag(sched, "scheduled"))
        .unionAll(extractedTagged)
        .groupBy("host").agg(stageCounts.head, stageCounts.tail: _*)
        .select(
          lit(round).as("round"), col("host"), col("scheduled"),
          (col("entered") - col("postDedup")).as("dedupDropped"),
          (col("postDedup") - col("postOffsite")).as("offsiteDropped"),
          (col("postOffsite") - col("postRobots")).as("robotsDropped"),
          col("fetchMissed"), col("errorDropped"), col("extractedOk"))

      // 9. atomic snapshot commit — write data files, then swap manifest.
      //    Append-only tables write only this round's delta; the manifest
      //    names the full delta chain (Iceberg manifest-list analogue).
      //    The five writes are independent — submit them concurrently so
      //    the round pays one write latency, not five (Spark's scheduler
      //    interleaves the jobs across the executor pool).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      def persist(name: String, df: DataFrame): Future[String] = Future {
        // job description is thread-local — label each concurrent write so
        // the UI/job listeners can attribute the write phase (guide §1.5)
        spark.sparkContext.setJobDescription(s"crawl r$round: write $name")
        val p = store.dataPath(name, round)
        // reference-parity insert batching (§2#23, pipelines.py's 100-row
        // executemany chunks): when enabled, each committed RATES file
        // holds at most `insertBatchRows` rows — the storage-layer twin of
        // the reference's batched inserts. Off by default: at 10^10 URLs
        // the round delta is the right commit unit, and a literal 100-row
        // chunking would explode the file count; the knob exists for
        // byte-level compat, not as the scale path.
        val w = insertBatchRows match {
          case Some(n) if name == "rates" =>
            df.write.option("maxRecordsPerFile", n.toLong)
          case _ => df.write
        }
        w.mode("overwrite").parquet(p)
        p
      }
      // incremental Bloom maintenance rides the same concurrent write phase
      // (it reads only the cached slim schedule) and, like the data writes,
      // completes BEFORE the manifest commit — the superset invariant (see
      // the reconcile note above). Merge only this round's FIRST-TRY
      // scheduled keys; retry rows are skipped
      // (their hash entered the filter in the round that first scheduled
      // them, and re-adding would inflate the saturation counters). The
      // rebuild source (old seen ∪ this delta) is touched only if a
      // partition saturates and must be rebuilt at doubled capacity.
      val firstTryKeys = sched.filter(col("retries") === 0).select(col("urlHash"))
      val bloomMerge = Future {
        spark.sparkContext.setJobDescription(s"crawl r$round: bloom merge")
        UrlSeen.mergeDeltaIntoPartitionedBlooms(
          firstTryKeys,
          seenDf.select("urlHash").unionByName(firstTryKeys),
          bloomDir, bloomParts, bloomCapacity)
        UrlSeen.writeBloomRound(bloomDir, round)
        "blooms"
      }
      val writes = Future.sequence(Seq(
        persist("frontier", r.frontier),
        persist("hostStates", r.hostStates.toDF()),
        persist("seen", r.seenDelta),
        persist("rates", r.newRates),
        persist("metrics", metricsDelta),
        bloomMerge))
      val Seq(frontierPath, hostStatesPath, seenPath, ratesPath, metricsPath, _) =
        Await.result(writes, Duration.Inf)
      seenPaths = seenPaths :+ seenPath
      ratesPaths = ratesPaths :+ ratesPath
      metricsPaths = metricsPaths :+ metricsPath

      // per-partition lineage (north_rule): file-granular row counts of
      // every data file this round committed, written alongside the data —
      // the manifest-entry content of an Iceberg snapshot. Row counts come
      // from the PARQUET FOOTERS of the just-written files (driver-side
      // metadata reads — the Iceberg manifest construction), NOT from
      // re-scanning the tables: the previous shape ran one
      // groupBy(input_file_name) job per table per round — three extra
      // Spark jobs + shuffles whose answer the writer's own file metadata
      // already held. File count per round delta is bounded by the write
      // parallelism, so this is O(files) footer opens, never O(rows).
      // The (file-granular ⇒ tiny by construction) result serves double
      // duty: it IS the lineage delta, and its frontier rows sum to the
      // next round's frontier count — saving a full frontier re-scan per
      // round just to decide loop termination.
      val lineageSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "round INT, table STRING, file STRING, rows BIGINT")
      // newHadoopConf copies the whole Configuration: once per round
      val hadoopConf = spark.sessionState.newHadoopConf()
      val lineageRows: Array[org.apache.spark.sql.Row] = Seq(
        ("frontier", frontierPath), ("seen", seenPath), ("rates", ratesPath))
        .flatMap { case (name, p) =>
          val dir = new org.apache.hadoop.fs.Path(p)
          val fs = dir.getFileSystem(hadoopConf)
          fs.listStatus(dir).toIndexedSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .map { st =>
              val n = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                  st, hadoopConf)) match {
                case r => try r.getRecordCount finally r.close()
              }
              (st.getPath.toString, n)
            }
            .filter(_._2 > 0) // 0-row part files never appeared under input_file_name either
            .map { case (f, n) =>
              org.apache.spark.sql.Row(round, name, f, n)
            }
        }.toArray
      val lineagePath = store.dataPath("lineage", round)
      spark.createDataFrame(
        java.util.Arrays.asList(lineageRows: _*), lineageSchema)
        .write.mode("overwrite").parquet(lineagePath)
      lineagePaths = lineagePaths :+ lineagePath

      // periodic delta-chain compaction (Iceberg rewrite-data-files
      // analogue): every `compactEvery` rounds each append-only chain is
      // rewritten as ONE fileset and the manifest shortened — otherwise a
      // long crawl re-lists/reopens thousands of delta paths per round.
      // Amortized O(total/compactEvery) per round; old files stay on disk
      // (prior snapshots remain readable), and a crash before the commit
      // just leaves the previous manifest pointing at the uncompacted chain.
      // Per-round provenance is preserved because every append-only row
      // carries its `round` as data.
      if (compactEvery > 0 && round % compactEvery == 0) {
        def compact(name: String, paths: Seq[String]): Seq[String] =
          if (paths.size <= 1) paths
          else {
            val p = store.dataPath(s"$name-compacted", round)
            spark.read.parquet(paths: _*).write.mode("overwrite").parquet(p)
            Seq(p)
          }
        seenPaths = compact("seen", seenPaths)
        ratesPaths = compact("rates", ratesPaths)
        metricsPaths = compact("metrics", metricsPaths)
        lineagePaths = compact("lineage", lineagePaths)
      }

      store.update(round, Map(
        "frontier" -> Seq(frontierPath),
        "hostStates" -> Seq(hostStatesPath),
        "seen" -> seenPaths,
        "rates" -> ratesPaths,
        "metrics" -> metricsPaths,
        "lineage" -> lineagePaths))

      // reload from the committed snapshot: truncates lineage so plans don't
      // grow unboundedly across rounds (the iterative-algorithm idiom). The
      // schema of the frame just written is known: passing it spares a
      // schema-inference job per table per round
      frontier = spark.read.schema(r.frontier.schema).parquet(frontierPath)
      hostStates = spark.read.schema(r.hostStates.schema).parquet(hostStatesPath).as[HostState]
      r.unpersist()
      allowedF.unpersist()
      onsiteF.unpersist()
      fresh.unpersist()
      frontierPrev.unpersist() // no-op except for the cached fresh-run frontier
      frontierCount = lineageRows
        .filter(_.getString(1) == "frontier").map(_.getLong(3)).sum
      if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
        println(f"[crawl] round $round done in ${(System.nanoTime() - tRound) / 1e9}%.1f s; frontier left: $frontierCount")
    }
    (ratesDf, seenDf, metricsDf)
  }

  /** One round's tables, built by [[step]]. `sched` and `extracted` are
    * cached and already filled; the caller releases them with
    * [[unpersist]] once everything it derives from them is written.
    *
    * @param frontier the next frontier: politeness-deferred rows ∪ fetch-miss
    *                 retries
    */
  final case class Round(
      sched: DataFrame,
      extracted: DataFrame,
      newRates: DataFrame,
      seenDelta: DataFrame,
      frontier: DataFrame,
      hostStates: Dataset[HostState]) {
    def unpersist(): Unit = { sched.unpersist(); extracted.unpersist() }
  }

  /** The crawl round step — per-host politeness schedule → fetch-join →
    * extract → rates upsert → seen delta → next frontier → host states —
    * shared by the batch loop ([[run]]) and the streaming seed path
    * (`Streams.processSeedBatch`). Callers own everything around it: dedup,
    * the offsite/robots gates producing `allowed`, metrics, the commit.
    *
    * @param allowed the gated frontier; callers cache it when it is a
    *                computed plan, since both the schedule and the next
    *                frontier read it
    * @param rates   rates committed before this round (the upsert's
    *                unique-key history)
    * @param round   the round number stamped on seen rows and host states
    */
  private[graft] def step(
      allowed: DataFrame,
      hostStates: Dataset[HostState],
      rates: DataFrame,
      round: Int,
      pages: DataFrame,
      cfg: PolitenessConfig,
      roundSec: Double,
      maxRetries: Int,
      providers: Seq[graft.provider.Provider]): Round = {
    val sched = Scheduler.scheduleRound(allowed, hostStates.toDF(), cfg, roundSec).cache()
    // sched (and every cached frame upstream of it) is materialized by the
    // single `extracted.count()` action below, BEFORE the caller's writes —
    // cache blocks fill as the extraction pass scans them, so the
    // concurrent downstream actions (which would each recompute the whole
    // dedup→robots→schedule chain on a cold cache — AQE compiles a fresh
    // physical plan per action; only materialized cache blocks are shared)
    // all hit warm caches. One action per round for the whole chain, not
    // two (a separate sched.count() paid an extra pass over the schedule
    // plan every round).

    // "fetch": equi-join against the page table on url — the offline,
    // deterministic stand-in for the downloader (SURVEY.md §2#19).
    // Deliberately NOT cached: page bodies are KBs per row; we stream them
    // once through extraction and cache only the slim result. SHUFFLE_HASH
    // hint with the slim schedule as build side: a sort-merge join would
    // SORT the KB-per-row page partitions — thread dumps showed that
    // copyMemory-heavy sort dominating the round. Hash-probing streams the
    // fat side untouched.
    val fetched = sched.hint("shuffle_hash")
      .join(pages.select(col("url"), col("text")), Seq("url"), "left")

    // extract per provider in ONE pass over the page text; MC error pages
    // are dropped (not stored), Visa parse misses store a null rate
    // (reference parity). The text column is gone after this. `headers` is
    // OPTIONAL on frontier rows (expandSeeds emits it; direct frontier
    // builders like the bench workload need not) — when present it must
    // survive extraction so retry rows re-enter the frontier with their
    // request headers intact. All provider-specific behavior routes through
    // the registry (1-based id in client.py:86-88 seeding order), so a new
    // provider never touches the round (the reference's one extension point).
    val carryCols =
      Seq("url", "canonUrl", "urlHash", "host", "card_c", "trans_c", "date",
        "provider", "priority", "seq", "retries") ++
        (if (allowed.columns.contains("headers")) Seq("headers") else Nil)
    val route = graft.provider.Providers.route(col("provider"), providers) _
    val extracted = fetched.select(
      carryCols.map(col) ++ Seq(
        graft.provider.Providers.idCol(col("provider"), providers).as("provider_id"),
        col("text").isNotNull.as("hit"),
        (col("text").isNotNull && coalesce(route(_.isError(col("text"))), lit(false))).as("is_err"),
        route(_.extractRate(col("text"))).as("rate")): _*)
      .cache()
    try extracted.count() // one streaming pass fills the (slim) cache
    catch { case e: Throwable => extracted.unpersist(); sched.unpersist(); throw e }

    // rates upsert honoring the unique constraint (orm.py:33-34):
    // set-difference (duplicate keys within the round AND vs prior rounds
    // both excluded)
    val rateKeys = Seq("card_code", "trans_code", "date", "provider_id")
    val newRates = extracted
      .filter(col("hit") && !col("is_err"))
      .select(col("card_c").as("card_code"), col("trans_c").as("trans_code"),
        col("date"), col("provider_id"), col("rate"))
      .dropDuplicates(rateKeys)
      .join(rates.select(rateKeys.map(col): _*), rateKeys, "left_anti")

    // seen delta = scheduled canonical urls; the round number travels as
    // DATA in the seen rows (not as a path position), so per-round
    // provenance survives delta compaction. The next frontier is `allowed`
    // minus the scheduled rows (rows the gates dropped leave with them);
    // fetch misses re-enter at priority-1 with retries+1, capped at
    // maxRetries (Scrapy's retry middleware defaults, SURVEY.md §2#30).
    val seenDelta = sched.select(col("urlHash"), col("canonUrl").as("url"), lit(round).as("round"))
    val retryRows = extracted
      .filter(!col("hit") && col("retries") < maxRetries)
      .select(carryCols.map {
        case "priority" => (col("priority") - 1).as("priority")
        case "retries" => (col("retries") + 1).as("retries")
        case c => col(c)
      }: _*)
    val frontier = allowed
      .join(sched.select("urlHash", "canonUrl"), Seq("urlHash", "canonUrl"), "left_anti")
      .unionByName(retryRows)
    Round(sched, extracted, newRates, seenDelta, frontier,
      Scheduler.updateHostStates(sched, hostStates, cfg, round, roundSec))
  }
}
