package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.checkpoint.SnapshotStore
import graft.crawl.CrawlJob
import graft.model.PolitenessConfig
import graft.plan.Frontier
import graft.synth.Synth

/** Checkpoint/resume semantics (SURVEY.md §7.5 risk 4 + north_rule "exact
  * resume"): atomic manifest commits; a crawl interrupted mid-way and
  * resumed produces bit-identical final state to an uninterrupted run.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  test("SnapshotStore: commit/readCurrent round-trip, version lineage") {
    val dir = Files.createTempDirectory("snap").toString
    val store = new SnapshotStore(dir)
    assert(store.currentVersion() === None)
    store.commit(1, Map("rates" -> "/data/r1", "seen" -> "/data/s1"))
    store.commit(2, Map("rates" -> "/data/r2", "seen" -> "/data/s1;/data/s2"))
    assert(store.currentVersion() === Some(2))
    assert(store.readManifest(2)("seen") === "/data/s1;/data/s2")
    assert(store.readManifest(1)("rates") === "/data/r1")
    assert(store.versions() === Seq(1, 2))
  }

  test("SnapshotStore: manifest round-trips keys/values containing quotes and backslashes") {
    // esc() writes them escaped; a reader that can't match escape pairs
    // silently DROPS those tables from the map and resume loses state
    val dir = java.nio.file.Files.createTempDirectory("snapesc").toString
    val store = new graft.checkpoint.SnapshotStore(dir)
    val tables = Map(
      "rates" -> """C:\data\crawl\v1""",
      "odd\"name" -> """/tmp/has"quote/v1""",
      "seen" -> "/plain/path/v1")
    store.commit(1, tables)
    assert(store.readManifest(1) === tables)
  }

  test("SnapshotStore.dropAll: store returns to the empty state (drop_all_tables dual)") {
    val dir = Files.createTempDirectory("snapdrop").toString
    val store = new SnapshotStore(dir)
    val dataDir = store.dataPath("rates", 1)
    Files.createDirectories(java.nio.file.Paths.get(dataDir))
    Files.writeString(java.nio.file.Paths.get(dataDir, "part-0.parquet"), "x")
    store.commit(1, Map("rates" -> dataDir))
    assert(store.currentVersion() === Some(1))
    store.dropAll()
    assert(store.currentVersion() === None)
    assert(store.versions() === Seq())
    assert(!Files.exists(java.nio.file.Paths.get(dataDir)))
    // a fresh lineage starts cleanly after the drop
    store.commit(1, Map("rates" -> "/data/new"))
    assert(store.readCurrent() === Some((1, Map("rates" -> "/data/new"))))
  }

  private def smallCrawlInputs() = {
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR", "JPY"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 4)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    (frontier, pages, robots)
  }

  // budget 10/round on one host → 48 seeds need 5 rounds
  private val cfg = PolitenessConfig(maxPerHost = 10)

  test("kill-and-resume ≡ uninterrupted run (rates + seen + metrics rounds)") {
    val (frontier, pages, robots) = smallCrawlInputs()

    val dirA = Files.createTempDirectory("crawlA").toString
    val (ratesA, seenA, _) = CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25)

    // interrupted: stop after 2 rounds, then resume to completion
    val dirB = Files.createTempDirectory("crawlB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, maxRounds = 2)
    assert(new SnapshotStore(dirB).currentVersion() === Some(2))
    val (ratesB, seenB, _) = CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25)

    val a = ratesA.orderBy("card_code", "trans_code", "date")
      .collect().map(_.toString).toSeq
    val b = ratesB.orderBy("card_code", "trans_code", "date")
      .collect().map(_.toString).toSeq
    assert(a === b)
    assert(seenA.select("url").as[String].collect().toSet ===
      seenB.select("url").as[String].collect().toSet)
    // both completed all 5 rounds' worth of work
    assert(a.nonEmpty)
  }

  test("foreign snapshot tables (a persisted IVF model) survive later crawl commits") {
    // production order: crawl rounds → Ann.saveCentroids into the SAME
    // store → more crawl rounds. Every committer carries the prior
    // snapshot's foreign tables forward; rebuilding the manifest from
    // scratch would silently drop the model from the current snapshot and
    // the next loadCentroids would fail
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlForeign").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 2)
    val store = new SnapshotStore(dir)
    val model = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    graft.ann.Ann.saveCentroids(model, store, spark)
    // resume past the model's snapshot — the crawl commits more rounds
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25)
    assert(store.readCurrent().get._2.contains("ivf_centroids"),
      "crawl commit dropped the persisted model from the snapshot")
    val loaded = graft.ann.Ann.loadCentroids(store, spark)
    assert(loaded.map(_.toSeq).toSeq === model.map(_.toSeq).toSeq)
    // the streaming committer carries foreign tables too
    val seeds1 = Seq(("GBP", "USD", java.sql.Date.valueOf("1995-09-10")))
      .toDF("card_c", "trans_c", "date")
    graft.streaming.Streams.processSeedBatch(
      seeds1, 99L, pages, dir, "Mastercard", graft.provider.Providers.registry)
    assert(store.readCurrent().get._2.contains("ivf_centroids"))
    assert(graft.ann.Ann.loadCentroids(store, spark).length === 2)
  }

  test("resume rebuilds missing bloom state (legacy checkpoint) and stays exact") {
    val (frontier, pages, robots) = smallCrawlInputs()
    val dirA = Files.createTempDirectory("crawlBloomA").toString
    val (ratesA, seenA, _) = CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25)

    val dirB = Files.createTempDirectory("crawlBloomB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, maxRounds = 2)
    // simulate a legacy/damaged checkpoint: wipe the filter directory
    val bloomDir = new java.io.File(s"$dirB/blooms")
    bloomDir.listFiles().foreach(_.delete())
    bloomDir.delete()
    val (ratesB, seenB, _) = CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25)

    assert(seenA.select("url").as[String].collect().toSet ===
      seenB.select("url").as[String].collect().toSet)
    assert(ratesA.count() === ratesB.count())
    // seen stays exact: no URL fetched twice despite the rebuilt filters
    assert(seenB.count() === seenB.select("urlHash").distinct().count())
  }

  test("a fresh crawl's bloom filters are sized to its frontier, not to a fixed capacity") {
    // 30 (card, trans) pairs × 10 days = 300 URLs; every round rewrites each
    // touched filter whole, so filter bytes are per-round checkpoint I/O
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR", "JPY", "CHF", "AUD"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.of(1995, 9, 10), 10)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val robots = smallCrawlInputs()._3
    val dir = Files.createTempDirectory("crawlSized").toString
    // 150 per round: two rounds, so the second merges into loaded filters
    val (_, seen, _) = CrawlJob.run(spark, frontier, Synth.mcPages(seeds), robots, dir,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = 150), roundSec = 1e9)
    val n = frontier.count()
    assert(n === 300L && seen.count() === n)
    val bloomBytes = new java.io.File(s"$dir/blooms").listFiles().map(_.length).sum
    // a 1%-fpp filter needs ~1.2 B per key of capacity: a few bytes per
    // frontier URL plus a per-partition floor (a crawl-independent 2^18-key
    // capacity would be 32 × ~314 KB)
    assert(bloomBytes <= 16L * n + (64L << 10), s"blooms/ holds $bloomBytes B for $n URLs")
  }

  test("SnapshotStore.read over committed paths submits no Spark job and reads what inference reads") {
    // committed by a crawl (two rounds of seen and rates deltas) and by the
    // per-file rates CSV ingest
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlRead").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 2)
    val man = new SnapshotStore(dir).readCurrent().get._2
    val csvDir = Files.createTempDirectory("readCsv").toString
    Files.writeString(java.nio.file.Paths.get(csvDir, "a.csv"),
      "card_code,trans_code,date,rate\nGBP,USD,09/07/1995,1.5\nUSD,GBP,09/08/1995,\n")
    val csvStore = new SnapshotStore(Files.createTempDirectory("readCsvCkpt").toString)
    Frontier.ratesFromCsvPerFile(spark, csvDir, 1, csvStore)
    val tables = Seq(
      SnapshotStore.list(man, "seen") -> CrawlJob.SeenDdl,
      SnapshotStore.list(man, "rates") -> CrawlJob.RatesDdl,
      SnapshotStore.list(csvStore.readCurrent().get._2, "rates") -> CrawlJob.RatesDdl)
    assert(tables.map(_._1.size) === Seq(2, 2, 1))

    // job starts by job group; the listener bus delivers in order, so once
    // the sentinel group's job is seen every earlier job has been counted
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val read = try {
      sc.setJobGroup("snapshot-read", "SnapshotStore.read")
      val dfs = tables.map { case (ps, ddl) => SnapshotStore.read(spark, ps, ddl) }
      sc.setJobGroup("snapshot-read-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("snapshot-read-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("snapshot-read-sentinel"))
      dfs
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(groups.toArray.count(_ == "snapshot-read") === 0,
      "SnapshotStore.read submitted a schema-inference job")

    tables.zip(read).foreach { case ((ps, _), df) =>
      val inferred = spark.read.parquet(ps: _*)
      assert(df.schema === inferred.schema)
      assert(df.collect().map(_.toString).sorted.toSeq ===
        inferred.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("delta compaction: state identical, manifest bounded, resume across boundary") {
    val (frontier, pages, robots) = smallCrawlInputs()
    // A: never compacts; B: compacts every 2 rounds AND is interrupted right
    // after a compaction boundary, then resumed — 48 seeds / 10 per round
    val dirA = Files.createTempDirectory("compA").toString
    val (ratesA, seenA, metricsA) =
      CrawlJob.run(spark, frontier, pages, robots, dirA, cfg, roundSec = 1.25, compactEvery = 0)
    val dirB = Files.createTempDirectory("compB").toString
    CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25,
      maxRounds = 2, compactEvery = 2)
    val (ratesB, seenB, metricsB) =
      CrawlJob.run(spark, frontier, pages, robots, dirB, cfg, roundSec = 1.25, compactEvery = 2)

    assert(ratesA.orderBy("card_code", "trans_code", "date").collect().map(_.toString).toSeq ===
      ratesB.orderBy("card_code", "trans_code", "date").collect().map(_.toString).toSeq)
    // per-round provenance survives compaction (round travels as data)
    assert(seenA.select("url", "round").collect().map(_.toString).sorted.toSeq ===
      seenB.select("url", "round").collect().map(_.toString).sorted.toSeq)
    assert(metricsA.count() === metricsB.count())
    // the manifest's seen chain is bounded: ≤ compactEvery paths, not 5
    val store = new SnapshotStore(dirB)
    val man = store.readManifest(store.currentVersion().get)
    assert(man("seen").split(";").length <= 2,
      s"seen chain not compacted: ${man("seen")}")
  }

  test("rounds advance the snapshot version; resume continues numbering") {
    val (frontier, pages, robots) = smallCrawlInputs()
    val dir = Files.createTempDirectory("crawlV").toString
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25, maxRounds = 3)
    val store = new SnapshotStore(dir)
    assert(store.currentVersion() === Some(3))
    CrawlJob.run(spark, frontier, pages, robots, dir, cfg, roundSec = 1.25)
    assert(store.currentVersion().get > 3)
    // lineage: every round's manifest is retained
    assert(store.versions() === (1 to store.currentVersion().get))
  }

  test("insertBatchRows: every committed rates file holds at most N rows (reference 100-row insert parity)") {
    import graft.crawl.CrawlJob
    import graft.model.PolitenessConfig
    import graft.synth.Synth
    import graft.plan.Frontier
    val currs = Frontier.currencyDim(spark, Seq("GBP", "USD", "EUR"))
    val seeds = Frontier.candidates(currs, java.time.LocalDate.parse("1995-09-10"), 3)
    val frontier = CrawlJob.expandSeeds(seeds, "Mastercard")
    val pages = Synth.mcPages(seeds)
    val robots = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("host STRING, pathPrefix STRING, allow BOOLEAN"))
    val dir = java.nio.file.Files.createTempDirectory("batch-rows").toString
    val (rates, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, dir,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec = 1e9, insertBatchRows = Some(3))
    assert(rates.count() === 18L)
    // read back the committed rates deltas and count rows per FILE
    val store = new graft.checkpoint.SnapshotStore(dir)
    val paths = store.readCurrent().get._2("rates").split(";").filter(_.nonEmpty).toIndexedSeq
    val perFile = spark.read.parquet(paths: _*)
      .groupBy(input_file_name()).count()
      .select("count").as[Long].collect()
    assert(perFile.nonEmpty && perFile.forall(_ <= 3L),
      s"every rates file must hold <= 3 rows: ${perFile.toSeq}")
    // default path unconstrained: a fresh run without the knob writes
    // round-delta files that CAN exceed the batch size
    val dir2 = java.nio.file.Files.createTempDirectory("batch-rows-off").toString
    val (rates2, _, _) = CrawlJob.run(
      spark, frontier, pages, robots, dir2,
      PolitenessConfig(maxGlobal = Int.MaxValue, maxPerHost = Int.MaxValue),
      roundSec = 1e9)
    assert(rates2.count() === 18L)
  }
}
