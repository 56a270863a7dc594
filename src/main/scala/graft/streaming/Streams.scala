package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §1.4 streaming note).
  *
  * The crawl loop itself runs as resumable micro-batch rounds over
  * snapshot tables (CrawlJob) — that is what the north rule's
  * "Structured-Streaming-style checkpointing" asks for. This module covers
  * the genuinely streaming shapes a production deployment adds around it:
  *
  *  - frontier ingest: `readStream` over arriving seed-CSV shards →
  *    canonicalize/key → append (the streaming edge of the planner)
  *  - fetch-event analytics: watermarked tumbling-window aggregates
  *  - per-host politeness sessions: `flatMapGroupsWithState` keeping the
  *    token-bucket state keyed by host — the streaming dual of
  *    Scheduler.updateHostStates
  *
  * Everything here is transformation-only (unbound to a sink) so tests can
  * drive it with MemoryStream and production can bind kafka/files.
  */
object Streams {

  /** Streaming frontier ingest: seed rows arriving as headerless CSV text
    * (card_c,trans_c,date dd/MM/yyyy — the reference crawl-input dialect)
    * → typed, keyed frontier rows. Input may be `spark.readStream.csv(dir)`.
    *
    * Malformed rows (unparsable date, missing fields — e.g. a stray header
    * line) are DROPPED here, not passed through: under ANSI mode a bare
    * to_date THROWS on bad input (and pre-ANSI, the null date became a null
    * URL), either way poisoning the micro-batch — and a failed batch is
    * replayed from the source log forever, so one bad seed row would wedge
    * the whole stream. try_to_date + the null filter quarantines them.
    */
  def ingestSeeds(raw: DataFrame): DataFrame = {
    raw.select(
      col("card_c"), col("trans_c"),
      try_to_date(col("date"), "dd/MM/yyyy").as("date"))
      .filter(col("card_c").isNotNull && col("trans_c").isNotNull && col("date").isNotNull)
  }

  /** Streaming URL-seen dedup — the streaming dual of the batch dupefilter
    * (SURVEY.md §2#24): keyed `dropDuplicatesWithinWatermark` over the
    * canonical-URL hash, so state stays bounded by the watermark horizon.
    * Division of labor at 10^10 URLs: this stage exactly dedups the
    * IN-FLIGHT window of an arriving frontier stream; the batch loop's
    * incremental partitioned blooms remain the unbounded-horizon store the
    * stream's survivors are checked against on entry.
    *
    * Input must carry (ts TIMESTAMP, urlHash BIGINT, canonUrl STRING, …);
    * keying includes the canonical URL so a 64-bit hash collision can never
    * drop a genuinely-new URL — same exactness contract as the batch path.
    */
  def dedupUrls(frontier: DataFrame, watermark: String = "1 hour"): DataFrame =
    frontier
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("urlHash", "canonUrl")

  /** Streaming corpus cleanup — the streaming dual of
    * [[graft.pipeline.Corpus.clean]] for a document INGEST stream
    * (ts TIMESTAMP, doc_id, text, …): the same row-local verdict kernels
    * (token bounds, language ID, quality bands, the opt-in Gopher
    * repetition rung — literally shared code,
    * `Corpus.rowVerdicts`, so batch and stream can never disagree on a
    * verdict), then exact dedup of the in-flight window via
    * `dropDuplicatesWithinWatermark` on the md5/128-bit content identity.
    *
    * Contract differences vs the batch form, stated honestly: the stream
    * emits SURVIVORS (docs passing every filter, first copy only) rather
    * than tagging every doc with a reason — a streaming drop is a drop;
    * and the surviving duplicate is the first to ARRIVE inside the
    * watermark horizon (arrival order — the batch passing-first/min-id
    * rule needs the whole partition). Near-dup cluster removal stays a
    * batch job by nature: connected components are a global fixed point,
    * not a per-row verdict. Division of labor at scale mirrors
    * [[dedupUrls]]: this stage exactly dedups the in-flight window with
    * watermark-bounded state; the accumulated corpus store remains the
    * unbounded-horizon dedup the survivors are checked against on append.
    *
    * @return the cleaned stream: every input column plus
    *         (n_tokens, pred_lang, quality)
    */
  def cleanDocs(
      docs: DataFrame,
      watermark: String = "1 hour",
      textCol: String = "text",
      keepLang: String = "en",
      minTokens: Int = 5,
      maxTokens: Int = 50000,
      minQuality: Double = 0.75,
      repetition: Option[graft.pipeline.Corpus.RepetitionBounds] = None): DataFrame =
    graft.pipeline.Corpus.rowVerdicts(
      docs, textCol, keepLang, minTokens, maxTokens, minQuality, repetition)
      .filter(col("__r0").isNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__r0", "__h")

  /** Exactly-once streaming CORPUS INGEST — [[cleanDocs]] composed with the
    * snapshot store: JSON-lines documents (ts, doc_id, text) arriving in a
    * directory → the shared verdict chain + watermark-window dedup → one
    * atomic `corpus` delta append per micro-batch, deduplicated against the
    * ACCUMULATED store by content identity (the unbounded-horizon half the
    * watermark cannot give — same division of labor as the URL-seen path).
    * Batch-id-idempotent commits exactly as the crawl slice: a replayed
    * batch after a crash between store commit and stream checkpoint is
    * detected and skipped, so kill-and-resume is bit-equivalent to an
    * uninterrupted run (StreamsSpec proves it).
    */
  def corpusIngest(
      spark: org.apache.spark.sql.SparkSession,
      docDir: String,
      streamCheckpointDir: String,
      storeDir: String,
      watermark: String = "1 hour",
      keepLang: String = "en",
      minTokens: Int = 5,
      maxTokens: Int = 50000,
      minQuality: Double = 0.75,
      compactEvery: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema("ts TIMESTAMP, doc_id LONG, text STRING")
      .json(docDir)
      .filter(col("ts").isNotNull && col("doc_id").isNotNull && col("text").isNotNull)
    cleanDocs(raw, watermark, "text", keepLang, minTokens, maxTokens, minQuality)
      .writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processDocBatch(batch.toDF(), batchId, storeDir, compactEvery)
      }
      .start()
  }

  /** One corpus micro-batch: anti-join against the accumulated store's
    * content identities, append the delta, ONE atomic commit carrying the
    * batch id. Idempotent per batch id.
    *
    * The md5 content identity is PERSISTED as a `__h` column in every
    * corpus delta, and the history anti-join reads only that column —
    * parquet column pruning never touches the text pages, so the per-batch
    * history cost is O(accumulated 16-byte hashes), not O(accumulated
    * text). (Re-hashing every prior file's text each micro-batch would grow
    * per-batch work with the stream's whole lifetime — the 10^10-doc
    * killer.) Deltas written before the column existed pay a one-time
    * re-hash per batch until compacted; the per-file dispatch below keeps
    * the fast path for every post-migration delta.
    */
  private[graft] def processDocBatch(
      batch: DataFrame, batchId: Long, storeDir: String,
      compactEvery: Int = 64): Unit = {
    import graft.checkpoint.SnapshotStore
    val spark = batch.sparkSession
    val store = new SnapshotStore(storeDir)
    val resume = store.readCurrent()
    val man = resume.map(_._2).getOrElse(Map.empty[String, String])
    val doneBatches = SnapshotStore.list(man, "batches").map(_.toLong).toSet
    if (doneBatches.contains(batchId)) return // replayed after crash
    val corpusPaths = SnapshotStore.list(man, "corpus")
    // dedup vs HISTORY on the md5 content identity — slim (hash-only) build
    // side; the in-flight window was already deduped by cleanDocs
    val hashed = batch.withColumn("__h", md5(col("text").cast("binary")))
    val fresh =
      if (corpusPaths.isEmpty) hashed
      else hashed.join(
        corpusPaths.map { p =>
          val delta = spark.read.parquet(p)
          if (delta.columns.contains("__h")) delta.select("__h") // pruned scan
          else delta.select(md5(col("text").cast("binary")).as("__h")) // legacy delta
        }.reduce(_ unionAll _).distinct(),
        Seq("__h"), "left_anti")
    val version = resume.map(_._1).getOrElse(0) + 1
    val path = store.dataPath("corpus", version)
    fresh.write.mode("overwrite").parquet(path)
    var allPaths = corpusPaths :+ path
    // periodic delta-chain compaction — the CrawlJob pattern (Iceberg
    // rewrite-data-files analogue): once the manifest carries compactEvery
    // delta paths, rewrite the chain as ONE fileset — a long-lived stream
    // would otherwise re-list/reopen thousands of delta files per batch
    // (and union as many per-file scans into the anti-join plan).
    // Amortized O(total/compactEvery) per batch; old files stay on disk
    // (prior snapshots remain readable); a crash before the commit leaves
    // the previous manifest pointing at the uncompacted chain. Doubles as
    // the LEGACY MIGRATION point: pre-sidecar deltas gain the __h column
    // here, after which every history read takes the pruned fast path.
    if (compactEvery > 0 && allPaths.size >= compactEvery) {
      val p = store.dataPath("corpus-compacted", version)
      allPaths.map { q =>
        val d = spark.read.parquet(q)
        if (d.columns.contains("__h")) d
        else d.withColumn("__h", md5(col("text").cast("binary")))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(p)
      allPaths = Seq(p)
    }
    store.update(version, Map(
      "corpus" -> allPaths,
      "batches" -> (doneBatches + batchId).toSeq.sorted.map(_.toString)))
  }

  /** Watermarked tumbling-window fetch metrics: events(ts, host, fetched,
    * bytes) → per-window per-host counts. Late data beyond the watermark is
    * dropped — at 10^10 URLs the state store must stay bounded.
    */
  def fetchMetricsByWindow(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("host"))
      .agg(count(lit(1)).as("fetches"), sum("bytes").as("bytes"))
      .select(col("window.start").as("window_start"), col("host"), col("fetches"), col("bytes"))

  // ------------------------------------------------- streaming crawl slice

  /** End-to-end streaming slice (VERDICT r02 #6; politeness/robots/retry
    * added round 4): seed CSV shards arriving in a directory →
    * [[ingestSeeds]] → per-micro-batch crawl round committed to a
    * [[graft.checkpoint.SnapshotStore]] via `foreachBatch`.
    *
    * Exactly-once composition: Structured Streaming's checkpoint makes
    * batch ids stable across restarts, and every manifest commit records
    * the batch ids it contains — a replayed batch (crash after the store
    * commit but before the stream checkpoint advanced) is detected and
    * skipped, so a kill-and-resume run is bit-equivalent to an
    * uninterrupted one (StreamsSpec proves seen/rates ≡ the batch crawl of
    * the same seeds).
    *
    * The full batch-loop round runs inside each micro-batch: robots gate,
    * salted per-host politeness schedule (AIMD host delays carried in the
    * store across batches), retry on fetch miss. Rows a batch cannot
    * schedule under its politeness budget — and retry rows — persist to a
    * `backlog` snapshot table and re-enter on the NEXT micro-batch, the
    * streaming analogue of the frontier surviving a batch round. Defaults
    * (no robots rules, unbounded budget) drain every batch fully.
    *
    * DRAIN CONTRACT: backlog rows re-enter only when a later micro-batch
    * fires, and the file source fires one only for NEW seed files — if the
    * seed directory goes idle while the backlog is non-empty, the deferred
    * and retry rows sit in the `backlog` table until the next file arrives
    * (they are never lost: the snapshot commit is their durability). A
    * deployment that can stop feeding seeds should drain by dropping empty
    * marker files (each drives one batch — the technique StreamsSpec uses),
    * or simply accept that the next real seed file resumes the backlog
    * first, ahead of its own rows.
    */
  def crawlStream(
      spark: org.apache.spark.sql.SparkSession,
      seedDir: String,
      pages: DataFrame,
      streamCheckpointDir: String,
      storeDir: String,
      provider: String = "Mastercard",
      providers: Seq[graft.provider.Provider] = graft.provider.Providers.registry,
      robots: Option[DataFrame] = None,
      cfg: graft.model.PolitenessConfig = graft.model.PolitenessConfig(
        maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec: Double = 1e9,
      maxRetries: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema("card_c STRING, trans_c STRING, date STRING")
      .csv(seedDir)
    // rules emptiness is checked ONCE here, not per micro-batch (the
    // batch CrawlJob makes the same once-before-the-loop check)
    val activeRobots = robots.filter(!_.isEmpty)
    ingestSeeds(raw).writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processSeedBatch(batch.toDF(), batchId, pages, storeDir, provider, providers,
          activeRobots, cfg, roundSec, maxRetries)
      }
      .start()
  }

  /** One micro-batch = one crawl round: (backlog ∪ expanded seeds) → dedup
    * (within batch + vs the store's seen set; retries bypass, as in the
    * batch loop) → robots gate → the batch loop's round step
    * ([[graft.crawl.CrawlJob.step]]: schedule → fetch-join → extract →
    * rates upsert) → ONE atomic manifest commit carrying the batch id, the
    * new backlog (deferred + retry rows) and the AIMD host states.
    * Idempotent per batch id (the exactly-once half the stream checkpoint
    * can't give).
    */
  private[graft] def processSeedBatch(
      batch: DataFrame,
      batchId: Long,
      pages: DataFrame,
      storeDir: String,
      provider: String,
      providers: Seq[graft.provider.Provider],
      robots: Option[DataFrame] = None,
      cfg: graft.model.PolitenessConfig = graft.model.PolitenessConfig(
        maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec: Double = 1e9,
      maxRetries: Int = 2): Unit = {
    import graft.checkpoint.SnapshotStore
    import graft.crawl.CrawlJob
    import graft.dedup.UrlSeen
    val spark = batch.sparkSession
    val store = new SnapshotStore(storeDir)
    val resume = store.readCurrent()
    val man = resume.map(_._2).getOrElse(Map.empty[String, String])
    val doneBatches = SnapshotStore.list(man, "batches").map(_.toLong).toSet
    if (doneBatches.contains(batchId)) return // replayed after crash — already committed
    val seenPaths = SnapshotStore.list(man, "seen")
    val ratesPaths = SnapshotStore.list(man, "rates")

    // seq is a scheduling-order key; a stream batch has no file order, so
    // key deterministically on the seed itself (set semantics are what the
    // store guarantees — ordering inside one micro-batch is not meaningful)
    val withSeq = batch.withColumn(
      "seq", xxhash64(col("card_c"), col("trans_c"), col("date")))
    val newFrontier = UrlSeen.dedupWithinBatch(CrawlJob.expandSeeds(withSeq, provider, providers))
    // deferred/retry rows from prior batches re-enter ahead of new seeds;
    // a re-arriving seed whose URL is already in the backlog must not
    // shadow the backlog row (which may carry retry state). Prior batches
    // wrote it with this batch's frontier schema; reading with that schema
    // (and host states with theirs) spares a schema-inference job each
    val backlog = man.get("backlog").filter(_.nonEmpty)
      .map(spark.read.schema(newFrontier.schema).parquet(_)).getOrElse(newFrontier.limit(0))
    val incoming = backlog.unionByName(
      newFrontier.join(backlog.select("canonUrl"), Seq("canonUrl"), "left_anti"))
    // retries bypass the dupefilter (they ARE in seen), as in the batch loop
    val firstTry = incoming.filter(col("retries") === 0)
    val retries = incoming.filter(col("retries") > 0)
    val fresh = UrlSeen.filterNewExact(firstTry, SnapshotStore.read(spark, seenPaths, CrawlJob.SeenDdl))
      .unionByName(retries)
    // robots gate, inside the micro-batch. `allowed` is cached because the
    // round reads it twice (the schedule AND the backlog's deferred
    // anti-join) — uncached, each read would re-run the whole expand →
    // dedup-window → seen-anti-join → robots chain. `None` means no rules
    // (callers decide emptiness once, not per batch).
    val allowed = robots.map(graft.politeness.Robots.allowed(fresh, _)).getOrElse(fresh).cache()
    import spark.implicits._
    val hostStates = man.get("hostStates").filter(_.nonEmpty)
      .map(spark.read.schema(Encoders.product[graft.model.HostState].schema).parquet(_)
        .as[graft.model.HostState])
      .getOrElse(spark.emptyDataset[graft.model.HostState])
    try {
      val r = CrawlJob.step(allowed, hostStates,
        SnapshotStore.read(spark, ratesPaths, CrawlJob.RatesDdl), batchId.toInt + 1,
        pages, cfg, roundSec, maxRetries, providers)
      try {
        val version = resume.map(_._1).getOrElse(0) + 1
        def write(name: String, df: DataFrame): String = {
          val p = store.dataPath(name, version)
          df.write.mode("overwrite").parquet(p)
          p
        }
        val seenPath = write("seen", r.seenDelta)
        val ratesPath = write("rates", r.newRates)
        // next backlog = the round's next frontier: politeness-deferred
        // rows + fetch-miss retries
        val backlogPath = write("backlog", r.frontier)
        val hostStatesPath = write("hostStates", r.hostStates.toDF())
        store.update(version, Map(
          "seen" -> (seenPaths :+ seenPath),
          "rates" -> (ratesPaths :+ ratesPath),
          "backlog" -> Seq(backlogPath),
          "hostStates" -> Seq(hostStatesPath),
          "batches" -> (doneBatches + batchId).toSeq.sorted.map(_.toString)))
      } finally r.unpersist()
    } finally allowed.unpersist()
  }

  // ------------------------------------------------ stateful host sessions

  final case class FetchEvent(host: String, ts: Timestamp, latencyMs: Long)
  final case class HostSession(
      host: String,
      fetches: Long,
      delaySec: Double,
      lastTs: Timestamp,
      closed: Boolean)

  /** Per-host politeness state as a streaming stateful operator: AutoThrottle
    * AIMD delay update per event; with `idleMs > 0` the session closes after
    * that long without traffic (processing-time timeout — note this keeps
    * the micro-batch engine ticking to evaluate timeouts). The streaming
    * dual of the batch Scheduler.updateHostStates — same formula, same
    * semantics (reference settings.py:96-98).
    */
  def hostSessions(
      events: Dataset[FetchEvent],
      targetConcurrency: Double = 16.0,
      startDelaySec: Double = 2.0,
      idleMs: Long = 0L,
      maxDelaySec: Double = 60.0): Dataset[HostSession] = {
    import events.sparkSession.implicits._
    val timeoutKind =
      if (idleMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, timeoutKind)(
        (host: String, batch: Iterator[FetchEvent], state: GroupState[HostSession]) => {
          if (state.hasTimedOut) {
            val closed = state.get.copy(closed = true)
            state.remove()
            Iterator(closed)
          } else {
            val prior = state.getOption.getOrElse(
              HostSession(host, 0L, startDelaySec, new Timestamp(0L), closed = false))
            // fold in EVENT-TIME order, not micro-batch arrival order: the
            // AIMD average is order-dependent, and shuffle arrival order
            // varies run to run — identical inputs must yield identical
            // sessions (group size = one host's events in one micro-batch,
            // politeness-bounded, so the sort is cheap). The cap mirrors
            // the batch dual's maxDelaySec clamp.
            val ordered = batch.toSeq.sortBy(e => (e.ts.getTime, e.latencyMs))
            val updated = ordered.foldLeft(prior) { (s, e) =>
              val targetDelay = (e.latencyMs / 1000.0) / targetConcurrency
              s.copy(
                fetches = s.fetches + 1,
                delaySec = math.min((s.delaySec + targetDelay) / 2.0, maxDelaySec),
                lastTs = if (e.ts.after(s.lastTs)) e.ts else s.lastTs)
            }
            state.update(updated)
            if (idleMs > 0) state.setTimeoutDuration(idleMs)
            Iterator(updated)
          }
        })
  }
}
