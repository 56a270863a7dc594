package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of benchmark time around a call into a layer.
  * Times are nanoseconds relative to the tracer's start; `wallStartMs` /
  * `wallEndMs` are epoch milliseconds, the clock Spark stamps its job and
  * task events with, so events can be attributed to the span they fell in.
  */
final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val startNs: Long,
    val wallStartMs: Long) {
  var endNs: Long = -1L
  var wallEndMs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's side of each layer call, plus the
  * Spark job, stage and task counters that fell inside them. Spans stay in
  * memory and are written out once, at the end of the traced run.
  *
  * Attribution is by time: a job belongs to the innermost span open when
  * it was submitted, whichever thread submitted it (the crawl submits its
  * checkpoint writes from a thread pool). Spans are opened and closed only
  * from the driver's main thread, so they nest strictly.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val t0Ns = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private case class Job(id: Int, submittedMs: Long, stages: Seq[Int])
  private case class Task(stage: Int, launchMs: Long, finishMs: Long,
      shuffleWrite: Long, spill: Long, peakMem: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val observed = mutable.ArrayBuffer.empty[(String, Long)]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var openJobs = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      jobs += Job(e.jobId, e.time, e.stageIds); openJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock { openJobs -= 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory)
    }
  }
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lock {
      qe.observedMetrics.foreach { case (name, row) =>
        observed += name -> (if (row.size > 0 && !row.isNullAt(0)) row.getLong(0) else 0L)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  private def lock[T](body: => T): T = synchronized { lastEventNs = System.nanoTime(); body }

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String, attrs: (String, Double)*)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime() - t0Ns, System.currentTimeMillis())
    attrs.foreach(s.attrs += _)
    spans += s
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime() - t0Ns
      s.wallEndMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def last(name: String): Span = spans.findLast(_.name == name).get
  def all(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wait until the listener bus has delivered every event of the jobs
    * started so far: all jobs ended and no event for 300 ms.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while ((openJobs > 0 || System.nanoTime() - lastEventNs < 300000000L) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Observation values (the program's own `observe` counters) by name. */
  def observations: Seq[(String, Long)] = synchronized(observed.toSeq)

  /** The innermost span containing epoch-ms instant `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.wallStartMs <= ms && ms <= s.wallEndMs)
      .maxByOption(s => (s.wallStartMs, s.id))

  /** Spark counters per span: jobs, tasks, shuffle write and spill bytes,
    * peak task memory, the heaviest stage's max ÷ median task time, and
    * the share of the span's wall time in which no task was running.
    */
  case class Counters(jobs: Int, tasks: Int, shuffleWriteBytes: Long, spillBytes: Long,
      peakTaskMemMb: Double, taskSkew: Double, idleFrac: Double)

  def counters(s: Span): Counters = synchronized {
    val own = jobs.filter(j => spanAt(j.submittedMs).exists(_.id == s.id))
    // a job's stages, and so its tasks, belong to the span of the job
    val stageIds = own.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage))
    val heaviest = ts.groupBy(_.stage).values
      .maxByOption(_.map(t => t.finishMs - t.launchMs).sum)
    val skew = heaviest.map { g =>
      val d = g.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      d.last / math.max(d(d.size / 2), 1.0)
    }.getOrElse(0.0)
    // union of the task intervals of every task that ran inside the span
    val inSpan = tasks.filter(t => t.launchMs < s.wallEndMs && t.finishMs > s.wallStartMs)
      .map(t => (math.max(t.launchMs, s.wallStartMs), math.min(t.finishMs, s.wallEndMs)))
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    inSpan.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
    }
    busy += curE - curS
    val wall = math.max(s.wallEndMs - s.wallStartMs, 1L)
    Counters(own.size, ts.size, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0, skew,
      math.max(0.0, 1.0 - busy.toDouble / wall))
  }

  /** Every span as one JSON object per line, with its counters. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = counters(s)
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_s":${Json.num(s.startNs / 1e9)},"end_s":${Json.num(s.endNs / 1e9)},"attrs":$attrs,""" +
      s""""jobs":${c.jobs},"tasks":${c.tasks},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
      s""""spill_bytes":${c.spillBytes},"peak_task_mem_mb":${Json.num(c.peakTaskMemMb)},""" +
      s""""task_skew":${Json.num(c.taskSkew)},"idle_frac":${Json.num(c.idleFrac)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; JSON has no NaN or infinity, so those become 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
