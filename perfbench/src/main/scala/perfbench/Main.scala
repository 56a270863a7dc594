package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import Support._

/** The benchmark's JVM entry point; `perfbench/run.py` builds the program
  * and launches it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--size full|tiny]
  *
  * One JVM at `local[<available processors>]` runs one workload as a
  * closed loop: one job at a time, the next submitted when the previous
  * one and its output checks are done. Set-up (session start, input
  * generation, a warm-up job) is timed on its own. The last line of
  * standard output is the result JSON; the exit code is nonzero when any
  * job threw or failed a check.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, size: String)

  val Workloads = Seq("rates-polite", "web-drain", "corpus-warc")

  /** Workload sizes. `full` is what the benchmark measures; `tiny` runs
    * the same code and checks in seconds, for the benchmark's own tests.
    */
  def workload(name: String, size: String, seed: Long): Workload = (name, size) match {
    case ("rates-polite", "full") => new RatesPolite(currencies = 16, days = 40, rounds = 2, seed)
    case ("rates-polite", "tiny") => new RatesPolite(currencies = 5, days = 6, rounds = 2, seed)
    case ("web-drain", "full") => new WebDrain(urls = 50000, seed)
    case ("web-drain", "tiny") => new WebDrain(urls = 2000, seed)
    case ("corpus-warc", "full") => new CorpusWarc(docs = 6000, files = 8, seed)
    case ("corpus-warc", "tiny") => new CorpusWarc(docs = 400, files = 3, seed)
    case _ => throw new IllegalArgumentException(s"unknown workload/size: $name/$size")
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      need("work"), kv.getOrElse("size", "full"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
    }
    val (json, ok) = run(a)
    println(json)
    if (!ok) sys.exit(1)
  }

  /** Runs one workload; returns the result JSON and whether every job
    * succeeded with correct output.
    */
  def run(a: Args): (String, Boolean) = {
    val work = Paths.get(a.work).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val tSetup = System.nanoTime()
    val spark = session(work)
    try {
      val w = workload(a.workload, a.size, a.seed)
      val sessionS = (System.nanoTime() - tSetup) / 1e9
      var attempted, failed = 0
      def job[T](what: String)(body: => (T, Seq[Check])): Option[T] = {
        attempted += 1
        try {
          val (r, checks) = body
          val bad = checks.filterNot(_.ok)
          bad.foreach(c => System.err.println(s"[perfbench] $what: CHECK FAILED $c"))
          if (bad.nonEmpty) failed += 1
          System.err.println(s"[perfbench] $what: ${checks.size} checks, ${bad.size} failed")
          Some(r)
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $what: FAILED")
            e.printStackTrace()
            None
        }
      }
      def freshDir(name: String): String = {
        val d = s"$work/$name"
        deleteTree(d)
        d
      }
      def runJob(what: String, in: w.Inputs): Option[RepResult] = {
        val r = job(what) { val r = w.rep(spark, in, freshDir("job")); (r, r.checks) }
        deleteTree(s"$work/job")
        r
      }

      // set-up: the inputs generated and written three times (the median
      // generation time is reported; the last copy is measured), then
      // untimed warm-up jobs on them, so the timed jobs find the JIT and
      // Spark's generated code warm
      val gens = (1 to 3).map { _ => timed(w.generate(spark, freshDir("inputs"))) }
      val in = gens.last._1
      val (_, warmS) = timed {
        (1 to w.warmupJobs).foreach(i => runJob(s"warm-up $i", in))
      }
      val setupS = sessionS + medianOf(gens.map(_._2)) + warmS
      System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, inputs ${gens.map(_._2).map(s => f"$s%.2f").mkString("/")} s, warm-up $warmS%.2f s")

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          // closed loop: jobs back to back while the window lasts (the job
          // in flight when it closes finishes); a full collection before
          // each job, outside its timing, so every job starts from the
          // same heap
          val reps = scala.collection.mutable.ArrayBuffer.empty[(RepResult, Double)]
          val storage = new StorageWatch(spark)
          val t0 = System.nanoTime()
          while (reps.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
            System.gc()
            storage.reset()
            runJob(s"job ${reps.size + 1}", in).foreach { r =>
              reps += r -> storage.peakMb
              System.err.println(f"[perfbench] job ${reps.size}: ${r.items} items in ${r.wallS}%.3f s, ${r.diskBytes} bytes on disk, ${storage.peakMb}%.1f MB peak cached")
            }
            if (reps.isEmpty && attempted > 3) throw new IllegalStateException("no job succeeded")
          }
          storage.stop()
          Seq(
            ("items_per_s", medianOf(reps.map { case (r, _) => r.items / r.wallS }.toSeq), "1/s"),
            ("disk_bytes_per_item", medianOf(reps.map { case (r, _) => r.diskBytes.toDouble / r.items }.toSeq), "B"),
            ("peak_cached_mb", medianOf(reps.map(_._2).toSeq), "MB"),
            ("ok_ops_ratio", (attempted - failed).toDouble / attempted, "ratio"),
            ("setup_s", setupS, "s"))
        } else {
          // one untraced job for the overhead baseline, then the traced job
          System.gc()
          val untraced = runJob("untraced job", in)
          System.gc()
          val tr = new Tracer(spark, s"${a.workload}-${a.seed}")
          val layers = job("traced job") {
            tr.span("job") { w.traced(spark, in, freshDir("job"), tr) }
          }
          tr.stop()
          deleteTree(s"$work/job")
          val tracedS = tr.last("job").seconds
          val untracedS = untraced.map(_.wallS).getOrElse(0.0)
          val spansFile = Paths.get(work).getParent.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl")
          Files.createDirectories(spansFile.getParent)
          Files.writeString(spansFile, (tr.jsonLines :+
            s"""{"run":${Json.str(tr.runId)},"untraced_s":${Json.num(untracedS)},"traced_s":${Json.num(tracedS)}}""")
            .mkString("", "\n", "\n"))
          System.err.println(s"[perfbench] spans written to $spansFile")
          val m = layers.getOrElse(Map.empty[String, Double]) ++ Map(
            "trace.overhead_s" -> (tracedS - untracedS), "trace.traced_s" -> tracedS)
          PerLayer.all.map { case (name, unit) => (name, m.getOrElse(name, 0.0), unit) }
        }

      val ok = failed == 0
      val body = metrics.map { case (n, v, u) => s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
      (s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$body}""", ok)
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }
}

/** Every per-layer metric the traced run reports, with its unit; a layer
  * the workload does not call reads 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "plan.missing_s" -> "s", "plan.candidate_rows" -> "count", "plan.missing_rows" -> "count",
    "urls.expand_s" -> "s", "urls.rows" -> "count",
    "urlseen.probe_s" -> "s", "urlseen.probe_rows" -> "count", "urlseen.maybe_seen_ratio" -> "ratio",
    "urlseen.merge_s" -> "s", "urlseen.bloom_bytes" -> "B",
    "robots.gate_s" -> "s", "robots.rows_in" -> "count", "robots.dropped" -> "count",
    "scheduler.schedule_s" -> "s", "scheduler.rows_in" -> "count", "scheduler.scheduled" -> "count",
    "scheduler.useful_ratio" -> "ratio", "scheduler.task_skew" -> "ratio",
    "fetch.join_s" -> "s", "fetch.shuffle_bytes" -> "B", "extract.rows" -> "count",
    "extract.ok_ratio" -> "ratio",
    "ckpt.write_s" -> "s", "ckpt.commit_s" -> "s", "ckpt.bytes_written" -> "B",
    "ckpt.frontier_rows_rewritten" -> "count", "ckpt.files" -> "count",
    "crawl.rounds" -> "count", "crawl.round_s_p50" -> "s", "crawl.round_s_max" -> "s",
    "crawl.jobs_per_round" -> "count", "crawl.driver_idle_frac" -> "ratio",
    "crawl.unattributed_s" -> "s",
    "warc.parse_s" -> "s", "warc.records" -> "count", "warc.bytes" -> "B", "warc.dropped" -> "count",
    "html.extract_s" -> "s",
    "clean.verdict_s" -> "s", "clean.near_dup_s" -> "s", "clean.dropped_duplicate" -> "count",
    "clean.dropped_near_duplicate" -> "count", "clean.dropped_filtered" -> "count",
    "minhash.sig_s" -> "s", "minhash.candidate_pairs" -> "count", "minhash.verified_pairs" -> "count",
    "minhash.verify_ratio" -> "ratio", "minhash.bucket_drops" -> "count",
    "clusters.resolve_s" -> "s", "clusters.iterations" -> "count", "clusters.edges" -> "count",
    "pack.s" -> "s", "spread.exchanges_added" -> "count",
    "trace.traced_s" -> "s", "trace.overhead_s" -> "s")
}
