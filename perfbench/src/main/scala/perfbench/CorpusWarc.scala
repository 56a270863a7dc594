package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, DocDedup}
import graft.functions.TextFns
import graft.pipeline.Corpus
import graft.sources.Warc
import graft.util.Par

import Support._

/** What the corpus pipeline's output must hold, from the generator. */
final case class CorpusExpected(
    records: Long, malformed: Long, kept: Long, duplicate: Long, nearDuplicate: Long,
    tooShort: Long, keptTokens: Long)

/** What it does hold. */
final case class CorpusObserved(
    records: Long, malformed: Long, kept: Long, duplicate: Long, nearDuplicate: Long,
    tooShort: Long, otherReasons: Long, packRows: Long, packTokens: Long, packEnd: Long)

object CorpusChecks {
  def apply(e: CorpusExpected, o: CorpusObserved): Seq[Check] = Seq(
    Check("records", e.records, o.records),
    Check("malformed_dropped", e.malformed, o.malformed),
    Check("kept", e.kept, o.kept),
    Check("duplicate", e.duplicate, o.duplicate),
    Check("near_duplicate", e.nearDuplicate, o.nearDuplicate),
    Check("too_short", e.tooShort, o.tooShort),
    Check("other_reasons", 0L, o.otherReasons),
    Check("pack_rows", e.kept, o.packRows),
    Check("pack_tokens", e.keptTokens, o.packTokens),
    Check("pack_end_tok", e.keptTokens, o.packEnd))
}

/** `corpus-warc`: generated WARC files of HTML-wrapped English prose, with
  * planted exact-duplicate families (one body behind different page
  * chrome), near-duplicate families (one content word changed), stub pages
  * too short to keep, structural request records, and a known number of
  * malformed and truncated records, run through
  * `Warc.recordsDf` → `TextFns.htmlToText` → `DocDedup.minhashPairs` →
  * `Corpus.cleanWithNearDup` → `Corpus.packOffsets` on the kept docs.
  */
final class CorpusWarc(docs: Int, files: Int, seed: Long) extends Workload {

  case class Inputs(warcDir: String, expected: CorpusExpected)

  val warmupJobs = 2
  val Budget = 2048
  private val Stop = Array("the", "of", "and", "to", "that", "it", "for", "was", "with", "as",
    "at", "a", "is", "on")
  // 997 (prime) distinct six-letter words: no stopword of any language
  // profile is that long, so only `Stop` decides the language
  private val V = 997
  private val Vocab: Array[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    Array.tabulate(V)(i => syl(i % 70) + syl(i / 70 % 70) + syl((i * 7 + 3) % 70))
  }

  /** Prose for one content id: `n` tokens alternating English stopwords
    * with content words that are all distinct within the doc (a stride
    * through the prime-sized vocabulary), so every row-local quality and
    * language check passes by construction. Variant `v > 0` swaps one
    * content word for a word the base never uses.
    */
  def tokens(content: Long, v: Int): Array[String] = {
    val n = 80 + mixMod(60, seed, 21, content).toInt
    val start = mixMod(V, seed, 22, content)
    val step = 1 + mixMod(V - 1, seed, 23, content)
    def word(k: Long) = Vocab(((start + k * step) % V).toInt)
    val toks = Array.tabulate(n)(j => if (j % 2 == 0) Stop(mixMod(Stop.length, seed, 24, content, j).toInt) else word(j / 2))
    if (v > 0) toks(2 * (1 + mixMod(n / 2 - 2, seed, 25, content, v).toInt) + 1) = word(n + v)
    toks
  }

  private def html(text: String, chrome: Int): String =
    s"""<html><head><style>.c$chrome { color: #${"%06x".format(chrome * 40503 % 0xffffff)} }</style></head>""" +
      s"""<body><!-- layout $chrome --><p>$text</p><script>var build = $chrome;</script></body></html>"""

  private sealed trait Doc
  private case class Prose(content: Long, variant: Int, chrome: Int) extends Doc
  private case class Stub(n: Int) extends Doc

  def generate(spark: SparkSession, dir: String): Inputs = {
    // blocks of 10 docs: an exact family of 3, a near family of 3, a stub,
    // or nothing planted; the rest of each block is unique prose
    var kept, dup, near, short, keptTokens = 0L
    val specs = (0 until (docs + 9) / 10).flatMap { b =>
      val base = b * 10L
      def prose(j: Int) = { kept += 1; keptTokens += tokens(base + j, 0).length; Prose(base + j, 0, j) }
      val planted: Seq[Doc] = mixMod(10, seed, 20, b) match {
        case 0 | 1 => prose(0); dup += 2; Seq(Prose(base, 0, 0), Prose(base, 0, 1), Prose(base, 0, 2))
        case 2 | 3 => prose(0); near += 2; Seq(Prose(base, 0, 0), Prose(base, 1, 1), Prose(base, 2, 2))
        case 4 => short += 1; Seq(Stub(b))
        case _ => Nil
      }
      planted ++ (planted.size until 10).map(prose)
    }
    require(specs.size == (docs + 9) / 10 * 10)
    val warcDir = s"$dir/warc"
    Files.createDirectories(Paths.get(warcDir))
    var malformed = 0L
    seededShuffle(specs, seed, 26).grouped((specs.size + files - 1) / files).zipWithIndex.foreach { case (fileDocs, f) =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(Warc.buildRecord("warcinfo", "", "2024-05-01T00:00:00Z", "software: perfbench".getBytes(UTF_8)))
      fileDocs.zipWithIndex.foreach { case (d, i) =>
        val url = s"https://site-${mixMod(97, seed, 27, f, i)}.example.org/f$f/doc-$i"
        val body = d match {
          case Prose(c, v, chrome) => html(tokens(c, v).grouped(12).map(_.mkString(" ") + ".").mkString(" "), chrome)
          case Stub(n) => s"<html><body><p>stub $n</p></body></html>"
        }
        if (i % 3 == 0) out.write(Warc.buildRecord("request", url, "2024-05-01T00:00:00Z", s"GET $url".getBytes(UTF_8)))
        out.write(Warc.buildRecord("response", url, "2024-05-01T00:00:01Z", body.getBytes(UTF_8)))
        if (i % 50 == 49) { // a response record whose Content-Length does not parse
          malformed += 1
          out.write(s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url#bad\r\nWARC-Date: 2024-05-01T00:00:02Z\r\nContent-Length: 12x\r\n\r\n$body\r\n\r\n".getBytes(UTF_8))
        }
      }
      if (f % 2 == 1) { // a file cut off inside its last record
        malformed += 1
        val rec = Warc.buildRecord("response", s"https://cut.example.org/f$f", "2024-05-01T00:00:03Z",
          html("the cut record", 0).getBytes(UTF_8))
        out.write(rec, 0, rec.length - 40)
      }
      Files.write(Paths.get(warcDir, f"part-$f%05d.warc"), out.toByteArray)
    }
    Inputs(warcDir, CorpusExpected(specs.size, malformed, kept, dup, near, short, keptTokens))
  }

  private def warcFiles(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.format("binaryFile").load(in.warcDir)
      .select(regexp_extract(col("path"), "(\\d+)\\.warc$", 1).cast("long").as("warc_id"),
        col("content").as("data"))

  private def extract(records: DataFrame): DataFrame =
    records.select((col("warc_id") * 1000000L + col("rec_pos")).as("doc_id"),
      TextFns.htmlToText(col("text")).as("text"))

  private def kept(spark: SparkSession, verdictsPath: String, docs: DataFrame): DataFrame =
    spark.read.parquet(verdictsPath).filter(col("keep")).select(col("id").as("doc_id"))
      .join(docs, "doc_id")

  private def responseRecordsIn(in: Inputs): Long = walk(in.warcDir).map { p =>
    "WARC-Type: response".r.findAllMatchIn(new String(Files.readAllBytes(p), UTF_8)).size.toLong
  }.sum

  private def observe(spark: SparkSession, in: Inputs, records: Long, out: String): CorpusObserved = {
    val reasons = spark.read.parquet(s"$out/verdicts").groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val p = spark.read.parquet(s"$out/pack")
      .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L)),
        coalesce(max(col("start_tok") + col("n_tokens")), lit(0L))).head()
    val named = Seq("kept", "duplicate", "near_duplicate", "too_short")
    CorpusObserved(records, responseRecordsIn(in) - records, reasons("kept"), reasons("duplicate"),
      reasons("near_duplicate"), reasons("too_short"),
      reasons.filter { case (k, _) => !named.contains(k) }.values.sum,
      p.getLong(0), p.getLong(1), p.getLong(2))
  }

  def rep(spark: SparkSession, in: Inputs, dir: String): RepResult = {
    val out = s"$dir/out"
    val (docs, wall) = timed {
      val docs = extract(Warc.recordsDf(warcFiles(spark, in))).cache()
      Corpus.cleanWithNearDup(docs, Seq(DocDedup.minhashPairs(docs)))
        .write.mode("overwrite").parquet(s"$out/verdicts")
      Corpus.packOffsets(kept(spark, s"$out/verdicts", docs), Budget)
        .write.mode("overwrite").parquet(s"$out/pack")
      docs
    }
    val records = docs.count()
    docs.unpersist()
    RepResult(records, wall, bytesUnder(out), CorpusChecks(in.expected, observe(spark, in, records, out)))
  }

  def traced(spark: SparkSession, in: Inputs, dir: String, tr: Tracer): (Map[String, Double], Seq[Check]) = {
    def materialize(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val out = s"$dir/out"
    val records = tr.span("warc.parse") { materialize(Warc.recordsDf(warcFiles(spark, in))) }
    val docs = tr.span("html.extract") { materialize(extract(records)) }
    val pairs = tr.span("minhash.sig") { materialize(DocDedup.minhashPairs(docs)) }
    // every capped bucket pair, before the estimated-Jaccard cut
    val candidates = DocDedup.minhashPairs(docs, threshold = 0.0).count()
    val clusters = tr.span("clusters.resolve") { materialize(Clusters.resolveClusters(pairs)) }
    val verdicts = tr.span("clean.verdict") { materialize(Corpus.clean(docs)) }
    tr.span("clean.near_dup") {
      Corpus.cleanWithNearDup(docs, Seq(pairs)).write.mode("overwrite").parquet(s"$out/verdicts")
    }
    val keptDocs = kept(spark, s"$out/verdicts", docs)
    tr.span("pack") {
      Corpus.packOffsets(keptDocs, Budget).write.mode("overwrite").parquet(s"$out/pack")
    }
    tr.drain()
    // the three frames the pipeline hands to Par.spread (clean, minhash, pack)
    val spreadInputs = Seq(docs.select(col("doc_id").cast("long").as("id"), col("text").as("__text")),
      docs, keptDocs)
    val byReason = verdicts.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap.withDefaultValue(0.0)
    val nRecords = records.count()
    val verified = pairs.count().toDouble
    val obs = tr.observations
    def maxObserved(prefix: String): Double =
      obs.filter(_._1.startsWith(prefix)).map(_._2.toDouble).maxOption.getOrElse(0.0)
    val iterations = obs.map(_._1).filter(_.startsWith("graft.cc.sig."))
      .map(_.stripPrefix("graft.cc.sig.").takeWhile(_ != '.').toInt).maxOption.getOrElse(0)
    val layers = Map(
      "warc.parse_s" -> tr.last("warc.parse").seconds,
      "warc.records" -> nRecords.toDouble,
      "warc.bytes" -> records.agg(coalesce(sum("n_bytes"), lit(0L))).head().getLong(0).toDouble,
      "warc.dropped" -> (responseRecordsIn(in) - nRecords).toDouble,
      "html.extract_s" -> tr.last("html.extract").seconds,
      "clean.verdict_s" -> tr.last("clean.verdict").seconds,
      "clean.near_dup_s" -> tr.last("clean.near_dup").seconds,
      "clean.dropped_duplicate" -> byReason("duplicate"),
      "clean.dropped_filtered" -> (byReason.values.sum - byReason("kept") - byReason("duplicate")),
      "minhash.sig_s" -> tr.last("minhash.sig").seconds,
      "minhash.candidate_pairs" -> candidates.toDouble,
      "minhash.verified_pairs" -> verified,
      "minhash.verify_ratio" -> verified / math.max(candidates.toDouble, 1.0),
      "minhash.bucket_drops" -> maxObserved("graft.dropped.minhashPairs"),
      "clusters.resolve_s" -> tr.last("clusters.resolve").seconds,
      "clusters.iterations" -> iterations.toDouble,
      "clusters.edges" -> verified,
      "pack.s" -> tr.last("pack").seconds,
      "spread.exchanges_added" -> spreadInputs.count(df => !(Par.spread(df) eq df)).toDouble)
    val o = observe(spark, in, nRecords, out)
    Seq(records, docs, pairs, clusters, verdicts).foreach(_.unpersist())
    (layers + ("clean.dropped_near_duplicate" -> o.nearDuplicate.toDouble),
      CorpusChecks(in.expected, o))
  }
}
