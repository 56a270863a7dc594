package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen dedup (SURVEY.md §2 #24) — the Spark re-expression of Scrapy
  * 1.8's RFPDupeFilter (active in the reference: no dont_filter anywhere,
  * settings.py:74).
  *
  * Keys are xxhash64 over the canonical URL. A Bloom filter *prunes* the
  * probe side cheaply; an exact `left_anti` join against the seen-set table
  * *confirms* — the final URL-seen set must be exact to match the reference
  * (no false drops, ever: Bloom false positives only cost a join probe).
  *
  * Scale notes (10^10 URLs): at 10^10 keys a single driver Bloom at 1%
  * fpp is ~12 GB — too big — so the filter is split into one Bloom per
  * hash partition `pmod(urlHash, P)` ([[filterNewPartitionedBloom]]).
  */
object UrlSeen {

  /** First-occurrence within-batch dedup: among rows sharing a canonical
    * URL keep the lowest `seq` (Scrapy drops later duplicates; order is
    * data, SURVEY.md §2#29). Window by canonical URL — parallel per key,
    * no global sort. Dedup identity is ALWAYS the canonical form: raw
    * variants (fragment, case, query-param order) are the same request.
    */
  def dedupWithinBatch(batch: DataFrame, urlCol: String = "canonUrl", seqCol: String = "seq"): DataFrame = {
    val w = Window.partitionBy(col(urlCol)).orderBy(col(seqCol))
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact cross-round dedup: candidates not present in the seen set.
    * Joins on the 64-bit hash first (narrow shuffle), confirms on the
    * CANONICAL URL so a hash collision can never drop a genuinely-new URL —
    * and a raw-form variant of a seen URL can never sneak back in (the seen
    * table stores canonical URLs).
    */
  def filterNewExact(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(
      seen.select(col("urlHash").as("__sh"), col("url").as("__su")),
      candidates("urlHash") === col("__sh") && candidates("canonUrl") === col("__su"),
      "left_anti")

  // ------------------------------------------------- partitioned Bloom

  /** The 10^10-scale path (north_rule "partitioned Bloom"): one Bloom per
    * hash partition `pmod(urlHash, parts)`, stored as files under `dir` —
    * a single filter over 10^10 keys at 1% fpp is ~12 GB (undriverable,
    * unbroadcastable); P per-partition filters are each executor-loadable.
    *
    * INVARIANT the probe relies on: the filters are always a SUPERSET of the
    * committed seen set. "Absent from the filter" is then proof of "never
    * seen" (no exact confirm needed on that branch); extra keys — e.g. from
    * a crash between a filter merge and the snapshot commit — only cost a
    * false-positive probe, which the exact anti-join absorbs. All writers
    * here preserve that invariant (tmp-file + ATOMIC_MOVE; merge before the
    * manifest commit).
    *
    * Each `bloom-NNNNN.bin` carries a `bloom-NNNNN.cnt` sidecar
    * `"capacity count generation"` so incremental merges can detect
    * saturation (and the probe cache can detect replacement) and
    * rebuild that one partition's filter with doubled capacity (fpp would
    * otherwise degrade silently once count ≫ capacity).
    *
    * Build/merge: `groupByKey(pm).mapGroups` (typed Dataset API) — each task
    * builds and writes its partition's filter to shared storage (local FS
    * here; HDFS/object store on a cluster).
    */
  def buildPartitionedBlooms(
      seen: DataFrame,
      dir: String,
      parts: Int,
      expectedItemsPerPart: Long = 1000000L,
      fpp: Double = 0.01): Unit =
    writeFilters(
      seen.select(col("urlHash"), pmod(col("urlHash"), lit(parts.toLong)).as("pm")),
      dir, _ => expectedItemsPerPart, fpp, loadExisting = false): Unit

  /** Per-partition capacity for at most `keys` keys over `parts`
    * partitions: twice the even share (headroom for hash skew), never
    * below 1024 keys (~1.2 KB: negligible next to a round's parquet files,
    * and a tinier filter is easily saturated by skew). A filter sized to
    * the set it guards keeps its bytes — read, deserialized and rewritten
    * whole by every merge — proportional to the crawl; a partition that
    * outgrows it is rebuilt at doubled capacity by
    * [[mergeDeltaIntoPartitionedBlooms]].
    */
  def capacityFor(keys: Long, parts: Int): Long =
    math.max(1024L, 2L * keys / parts)

  /** One round's INCREMENTAL maintenance: merge only `delta`'s keys into the
    * per-partition filters (never a full-seen rescan), in a SINGLE
    * distributed pass: each task merges its partition's keys and reports
    * (capacity, count). Each touched partition's filter is read and
    * rewritten whole, so a round costs O(delta) hashing plus O(filter
    * bytes) of I/O per touched partition — which is why callers size
    * filters with [[capacityFor]] rather than a crawl-independent constant.
    * Writing a transiently over-capacity filter is safe (still a superset —
    * only fpp degrades until the repair), so saturated partitions are
    * detected from the returned counts and rebuilt afterwards from
    * `seenWithDelta` (the full seen set *including* this delta, deduped by
    * key) at doubled capacity — O(seen/parts) for those partitions only,
    * amortized by the doubling.
    *
    * @param capacityPerPart capacity of a partition's filter when it has
    *                        none yet; an existing filter keeps its own
    */
  def mergeDeltaIntoPartitionedBlooms(
      delta: DataFrame,
      seenWithDelta: => DataFrame,
      dir: String,
      parts: Int,
      capacityPerPart: Long,
      fpp: Double = 0.01): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val withPm = delta.select(col("urlHash"), pmod(col("urlHash"), lit(parts.toLong)).as("pm"))
    val results = writeFilters(withPm, dir, _ => capacityPerPart, fpp, loadExisting = true)
    val saturated = results.filter { case (_, cap, n) => n > cap }
    if (saturated.nonEmpty) {
      val capOf: Map[Long, Long] =
        saturated.map { case (pm, cap, n) => pm -> math.max(2 * cap, 2 * n) }.toMap
      val full = seenWithDelta
        .select(col("urlHash")).distinct() // retries re-append; count distinct keys
        .select(col("urlHash"), pmod(col("urlHash"), lit(parts.toLong)).as("pm"))
        .filter(col("pm").isin(capOf.keys.toSeq: _*))
      writeFilters(full, dir, capOf, fpp, loadExisting = false): Unit
    }
  }

  /** Distributed filter write: one task per `pm` group builds (or extends,
    * when `loadExisting`) that partition's filter and atomically swaps the
    * `.bin` + `.cnt` pair into place. Returns (pm, capacity, count) per
    * touched partition so callers can detect saturation without a separate
    * counting job.
    */
  private def writeFilters(
      keyed: DataFrame, // (urlHash, pm)
      dir: String,
      capacityOf: Long => Long,
      fpp: Double,
      loadExisting: Boolean): Array[(Long, Long, Long)] = {
    import keyed.sparkSession.implicits._
    keyed.as[(Long, Long)]
      .groupByKey(_._2)
      .mapGroups { (pm, rows) =>
        val prior = if (loadExisting) loadFilter(dir, pm) else None
        val (bf, cap, n0) = prior match {
          case Some(f) =>
            val (c, n, _) = readSidecar(dir, pm)
            (f, c, n)
          case None =>
            val c = math.max(capacityOf(pm), 2L)
            (BloomFilter.create(c, fpp), c, 0L)
        }
        var n = n0
        rows.foreach { r => bf.putLong(r._1); n += 1 }
        // .bin first, then .cnt: a reader that sees the new generation token
        // in .cnt is guaranteed the .bin beside it is at least as new (a
        // LATER .bin is a superset — safe by the bloom invariant)
        atomicWrite(dir, f"bloom-$pm%05d.bin") { out => bf.writeTo(out) }
        atomicWrite(dir, f"bloom-$pm%05d.cnt") { out =>
          out.write(s"$cap $n ${java.util.concurrent.ThreadLocalRandom.current().nextLong()}"
            .getBytes("UTF-8")) }
        (pm, cap, n)
      }
      .collect()
  }

  private def atomicWrite(dir: String, name: String)(body: java.io.OutputStream => Unit): Unit = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d) // idempotent; tasks may race
    val tmp = java.nio.file.Files.createTempFile(d, name, ".tmp")
    // buffered: BloomFilter.writeTo issues one 8-byte writeLong per word,
    // which unbuffered is one write syscall per word. close() flushes
    // before the move publishes the file.
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(tmp), 1 << 16)
    try body(out) finally out.close()
    java.nio.file.Files.move(tmp, d.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** One parser for the `"capacity count generation"` sidecar format
    * (generation is 0 for legacy 2-field sidecars; all-zero when missing).
    */
  private[graft] def readSidecar(dir: String, pm: Long): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(dir, f"bloom-$pm%05d.cnt")
    if (!java.nio.file.Files.exists(p)) (0L, 0L, 0L)
    else {
      val parts = java.nio.file.Files.readString(p).trim.split(" ")
      (parts(0).toLong, parts(1).toLong, if (parts.length >= 3) parts(2).toLong else 0L)
    }
  }

  private[dedup] def loadFilter(dir: String, pm: Long): Option[BloomFilter] = {
    val f = new java.io.File(f"$dir/bloom-$pm%05d.bin")
    if (!f.exists()) None
    else {
      val in = new java.io.FileInputStream(f)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }

  /** Durable "filters reflect rounds ≤ r" marker (written AFTER a merge, so
    * marker ≥ committed-round ⇒ filters ⊇ seen). A resume that finds the
    * marker behind the committed round (legacy checkpoint, manual surgery)
    * must rebuild via [[buildPartitionedBlooms]].
    */
  def writeBloomRound(dir: String, round: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    atomicWrite(dir, "ROUND")(out => out.write(round.toString.getBytes("UTF-8")))
  }

  def readBloomRound(dir: String): Option[Int] = {
    val p = java.nio.file.Paths.get(dir, "ROUND")
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p).trim.toInt) else None
  }

  /** Bloom-prune candidates against the partitioned filters, then confirm
    * exactly. Each task lazily loads only the filters for the `pm` values
    * it actually holds (a handful per task).
    *
    * Exact confirm, two shapes:
    *  - `smallProbe = true` (the crawl-loop case — the bloom-pruned probe
    *    set is genuinely-seen rows + ~fpp of the new ones, i.e. frontier-
    *    sized or smaller): the seen table is SCANNED once and never
    *    shuffled — a left-semi join against a broadcast of the probe set
    *    yields the (small) confirmed-seen keys, which are then broadcast-
    *    anti-joined back. Per-round cost: one columnar seen scan + two
    *    broadcasts of probe-set size. The default shuffle anti-join would
    *    instead EXCHANGE the whole seen set every round — the quadratic
    *    term this path exists to avoid.
    *  - `smallProbe = false` (probe set too big to broadcast): classic
    *    shuffled anti-join via [[filterNewExact]].
    */
  def filterNewPartitionedBloom(
      candidates: DataFrame,
      seen: DataFrame,
      dir: String,
      parts: Int,
      smallProbe: Boolean = true): DataFrame = {
    val probe = new PartitionedBloomProbe(dir)
    val mightContain = udf((pm: Long, h: Long) => probe(pm, h))
    val maybeSeen = candidates.filter(
      mightContain(pmod(col("urlHash"), lit(parts.toLong)), col("urlHash")))
    val definitelyNew = candidates.filter(
      !mightContain(pmod(col("urlHash"), lit(parts.toLong)), col("urlHash")))
    val newFromMaybe =
      if (!smallProbe) filterNewExact(maybeSeen, seen)
      else {
        val confirmedSeen = seen
          .join(
            broadcast(maybeSeen.select(col("urlHash").as("__ph"), col("canonUrl").as("__pu"))),
            col("urlHash") === col("__ph") && col("url") === col("__pu"), "left_semi")
          .select(col("urlHash").as("__sh"), col("url").as("__su"))
        maybeSeen.join(
          broadcast(confirmedSeen),
          maybeSeen("urlHash") === col("__sh") && maybeSeen("canonUrl") === col("__su"),
          "left_anti")
      }
    definitelyNew.unionAll(newFromMaybe)
  }
}

/** Serializable probe with two cache levels. A missing filter file means
  * the partition holds no seen keys yet → nothing can be contained.
  *
  *  - per-TASK (the @transient lazy map): row-path lookups never stat the
  *    filesystem — each task resolves each pm once.
  *  - per-JVM (companion): tasks are deserialized copies, so without this a
  *    32-task probe stage would read every filter file up to 32× per round;
  *    the JVM cache loads each filter once and revalidates by the sidecar's
  *    per-write GENERATION token (plus size/mtime as a belt for legacy
  *    sidecars without one).
  *
  * Freshness is CORRECTNESS here, not just performance: the filters are
  * atomically replaced by each round's merge, and probing a stale filter
  * would pass already-seen URLs as "definitely new" (a seen-set exactness
  * violation). mtime alone cannot carry that burden — a merged filter has a
  * CONSTANT serialized size, and on coarse-timestamp filesystems (NFS, 1 s
  * object-store mounts) two sub-second consecutive merges can collide on
  * (size, mtime) — so every write stamps a fresh random token into the
  * `.cnt` sidecar and the cache reloads on ANY token change. Read order
  * (.cnt then .bin, the reverse of the write order) means a new token is
  * only ever paired with an equal-or-newer .bin — a superset, safe by the
  * bloom invariant. The cache is BYTE-bounded (cleared wholesale past
  * [[PartitionedBloomProbe.MaxCachedBytes]]) so filters for long-dead
  * checkpoint dirs cannot accumulate heap for the executor's lifetime.
  */
class PartitionedBloomProbe(dir: String) extends ((Long, Long) => Boolean) with Serializable {
  @transient private lazy val taskCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Option[BloomFilter]]()
  def apply(pm: Long, urlHash: Long): Boolean =
    taskCache.computeIfAbsent(pm, p => PartitionedBloomProbe.load(dir, p))
      .exists(_.mightContainLong(urlHash))
}

object PartitionedBloomProbe {
  /** Cache bound in BYTES (serialized filter size), not entry count: a
    * handful of rebuilt multi-MB filters for dead checkpoint dirs is the
    * realistic leak, and an entry-count bound would OOM long before
    * firing. Wholesale clear on breach — live filters reload on next
    * probe at one file read each; crude, self-healing, bounded.
    */
  private[dedup] val MaxCachedBytes = 1L << 30
  private final case class Stamp(gen: Long, size: Long, sec: Long, nano: Int)
  private final case class Entry(stamp: Stamp, bf: Option[BloomFilter])
  private val jvmCache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong()

  // .cnt (generation) read BEFORE the .bin stat/read — see the class doc
  private def stampOf(dir: String, pm: Long, p: java.nio.file.Path): Stamp =
    if (!java.nio.file.Files.exists(p)) Stamp(0L, -1L, -1L, -1)
    else {
      val (_, _, gen) = UrlSeen.readSidecar(dir, pm)
      val t = java.nio.file.Files.getLastModifiedTime(p).toInstant
      Stamp(gen, java.nio.file.Files.size(p), t.getEpochSecond, t.getNano)
    }

  private def load(dir: String, pm: Long): Option[BloomFilter] = {
    val path = java.nio.file.Paths.get(dir, f"bloom-$pm%05d.bin")
    val stamp = stampOf(dir, pm, path)
    if (cachedBytes.get() > MaxCachedBytes) { // dead-dir backstop
      jvmCache.clear()
      cachedBytes.set(0L)
    }
    jvmCache.compute(s"$dir#$pm", (_, old) => {
      if (old != null && old.stamp == stamp) old
      else {
        if (old != null) cachedBytes.addAndGet(-math.max(old.stamp.size, 0L))
        if (stamp.size < 0) Entry(stamp, None)
        else {
          val in = java.nio.file.Files.newInputStream(path)
          try {
            cachedBytes.addAndGet(stamp.size)
            Entry(stamp, Some(BloomFilter.readFrom(in)))
          } finally in.close()
        }
      }
    }).bf
  }
}
