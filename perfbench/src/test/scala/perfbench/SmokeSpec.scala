package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark harness at tiny size: every workload end to end with its
  * output checks, the traced run's per-layer metrics and replay checks, and
  * proof that the checks are live (a wrong expected count fails them).
  *
  *   cd perfbench && sbt perfbench/test
  */
class SmokeSpec extends AnyFunSuite {

  private val work = "target/smoke-work"

  private def result(workload: String, trace: Boolean): String = {
    val (json, ok) = Main.run(Main.Args(workload, seed = 5, seconds = 1, trace = trace,
      work = s"$work/$workload", size = "tiny"))
    assert(ok, json)
    json
  }

  private val endToEnd = Seq("items_per_s", "disk_bytes_per_item", "peak_cached_mb", "ok_ops_ratio", "setup_s")

  for (w <- Main.Workloads) test(s"$w: tiny run passes its output checks and reports every end-to-end metric") {
    val json = result(w, trace = false)
    assert(json.startsWith("""{"correct":true,"""), json)
    assert(json.contains(""""failed":0,"""), json)
    endToEnd.foreach(m => assert(json.contains(s""""$m":{"value":"""), s"$m missing: $json"))
  }

  test("rates-polite: traced run replays every round exactly and reports every per-layer metric") {
    val json = result("rates-polite", trace = true)
    PerLayer.all.foreach { case (m, _) => assert(json.contains(s""""$m":{"value":"""), s"$m missing") }
    assert(json.contains(""""crawl.rounds":{"value":2,"""), json)
    assert(!json.contains(""""scheduler.schedule_s":{"value":0,"""), json)
  }

  test("corpus-warc: traced run measures the corpus layers") {
    val json = result("corpus-warc", trace = true)
    Seq("warc.parse_s", "minhash.sig_s", "clusters.resolve_s", "pack.s").foreach { m =>
      assert(!json.contains(s""""$m":{"value":0,"""), s"$m not measured: $json")
    }
  }

  test("a wrong expected count fails the checks") {
    val spark = Main.session(s"$work/live")
    try {
      val rates = new RatesPolite(5, 6, 2, seed = 9)
      val rin = rates.generate(spark, s"$work/live/rates")
      val wrongRates = rates.rep(spark,
        rin.copy(expected = rin.expected.copy(rates = rin.expected.rates + 1)), s"$work/live/job1")
      assert(wrongRates.checks.filterNot(_.ok).map(_.name) === Seq("rates"))

      val corpus = new CorpusWarc(200, 2, seed = 9)
      val cin = corpus.generate(spark, s"$work/live/corpus")
      val wrongNear = corpus.rep(spark,
        cin.copy(expected = cin.expected.copy(nearDuplicate = cin.expected.nearDuplicate + 1)),
        s"$work/live/job2")
      assert(wrongNear.checks.filterNot(_.ok).map(_.name) === Seq("near_duplicate"))
    } finally {
      spark.stop()
      Support.deleteTree(work)
    }
  }
}
