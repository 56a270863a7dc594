package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One output check: the value the generator parameters predict against
  * the value the program produced.
  */
final case class Check(name: String, expected: String, actual: String) {
  def ok: Boolean = expected == actual
  override def toString: String =
    s"$name: expected $expected, got $actual${if (ok) "" else "  <-- MISMATCH"}"
}

object Check {
  def apply(name: String, expected: Long, actual: Long): Check =
    Check(name, expected.toString, actual.toString)
}

/** Result of one closed-loop job: the work items it completed, the wall
  * time from its first call into the program until its output was
  * materialized, the bytes it left on disk, and its output checks.
  */
final case class RepResult(items: Long, wallS: Double, diskBytes: Long, checks: Seq[Check])

/** A benchmark workload. `generate` runs in set-up and writes every input
  * to disk under `dir`; `rep` is one timed job over those inputs, with its
  * checks; `traced` repeats the job one layer call at a time under spans
  * and returns the per-layer metrics.
  */
trait Workload {
  type Inputs
  /** Untimed full-size jobs before the timed ones: enough that the first
    * timed job runs at the speed of the later ones.
    */
  def warmupJobs: Int
  def generate(spark: SparkSession, dir: String): Inputs
  def rep(spark: SparkSession, in: Inputs, dir: String): RepResult
  def traced(spark: SparkSession, in: Inputs, dir: String, tr: Tracer): (Map[String, Double], Seq[Check])
}

object Support {

  /** SplitMix64 finalizer: the benchmark's own hash for generator choices
    * made on the driver, salted with the workload seed.
    */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mixMod(n: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), n)

  /** Seeded Fisher-Yates shuffle. */
  def seededShuffle[T](xs: Seq[T], salt: Long*): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = mixMod(i + 1L, (salt :+ i.toLong): _*).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator.asScala.filter(Files.isRegularFile(_)).toVector)
  }

  def bytesUnder(dir: String): Long = walk(dir).map(Files.size).sum

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.deleteIfExists)
      }
  }

  /** Order-independent fingerprint of a set of 64-bit keys: count, xor, and
    * sum modulo a prime. Computed the same way on the driver for expected
    * key sets and in Spark over the program's output.
    */
  final case class Fingerprint(n: Long, xor: Long, sumMod: Long) {
    override def toString: String = f"$n/$xor%016x/$sumMod"
    def +(h: Long): Fingerprint =
      Fingerprint(n + 1, xor ^ h, (sumMod + java.lang.Math.floorMod(h, Prime)) % Prime)
  }
  val Prime = 1000000007L
  val EmptyFp = Fingerprint(0, 0, 0)

  def fingerprintOf(keys: Iterable[Long]): Fingerprint = keys.foldLeft(EmptyFp)(_ + _)

  /** Fingerprint of the DISTINCT values of a long column. */
  def fingerprint(df: DataFrame, c: String): Fingerprint = {
    val r = df.select(col(c)).distinct()
      .agg(count(lit(1)), coalesce(bit_xor(col(c)), lit(0L)),
        coalesce(sum(pmod(col(c), lit(Prime))), lit(0L)))
      .head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2) % Prime)
  }

  /** Peak memory held by cached and checkpointed frames (Spark's stored
    * RDD blocks), sampled every 10 ms between `reset` and `peakMb`.
    * Heap occupancy and resident memory follow the collector's decisions,
    * and stored broadcast pieces linger until a collection frees them;
    * all three varied by up to a third between identical jobs. Cached
    * frames follow only what the program keeps.
    */
  final class StorageWatch(spark: SparkSession) {
    @volatile private var peak = 0L
    @volatile private var running = true
    private val sampler = new Thread(() => {
      while (running) {
        val used = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        synchronized { peak = math.max(peak, used) }
        Thread.sleep(10)
      }
    }, "perfbench-storage-watch")
    sampler.setDaemon(true)
    sampler.start()

    def reset(): Unit = synchronized { peak = 0L }
    def peakMb: Double = synchronized(peak / 1048576.0)
    def stop(): Unit = { running = false; sampler.join() }
  }
}
