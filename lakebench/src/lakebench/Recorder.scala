package lakebench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One interval of the traced run: an op, a call into a layer, or a
  * Spark job. Times are epoch milliseconds, the clock the listener's
  * job events carry.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, var end: Double)

/** A Spark job seen by the listener, tagged with the op and the span
  * that were open on the driver when it was submitted.
  */
final class JobRec(val id: Int, val op: Int, val span: Int, val start: Long) {
  @volatile var end: Long = -1L
}

/** Task metrics summed over the tasks of one op. */
final class TaskTotals {
  var stages, tasks, failedTasks: Long = 0L
  var cpuNs, runMs, inputBytes, outputBytes, shuffleRead, shuffleWrite: Long = 0L
}

/** Aggregates task metrics per op. Ops are told apart by a local
  * property the harness sets on the driver thread, which Spark copies
  * into every job submitted from it.
  */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val perOp = new ConcurrentHashMap[Int, TaskTotals]()

  def totals(op: Int): TaskTotals = perOp.computeIfAbsent(op, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Int = Option(e.properties)
      .flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(-1)
    val op = prop(Recorder.OpProp)
    jobs.put(e.jobId, new JobRec(e.jobId, op, prop(Recorder.SpanProp), e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageOp.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageOp.getOrDefault(e.stageId, -1))
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** The span recorder of the traced run. Spans stay in memory and are
  * written out when the run ends; with tracing off every call is a
  * plain pass-through and no listener is registered.
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  val listener = new ExecListener
  if (tracing) sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer[Span]()
  private var open = -1
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, op: Int)(f: => T): T =
    if (!tracing) f
    else {
      val s = Span(spans.size, open, op, name, nowMs, -1)
      spans += s
      val saved = open
      open = s.id
      sc.setLocalProperty(Recorder.SpanProp, s.id.toString)
      try f
      finally {
        s.end = nowMs
        open = saved
        sc.setLocalProperty(Recorder.SpanProp, saved.toString)
      }
    }

  /** Attributes the jobs submitted from here on to `op` (-1: none). */
  def setOp(op: Int): Unit =
    if (tracing) sc.setLocalProperty(Recorder.OpProp, op.toString)

  /** Delivers every pending listener event; call before reading jobs. */
  def drain(): Unit = if (tracing) org.apache.spark.lakebench.ListenerBusDrain(sc)

  def finishedJobs: Seq[JobRec] =
    listener.jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)

  /** Driver spans plus one child span per finished Spark job. */
  def allSpans: Seq[Span] = spans.toSeq ++ finishedJobs.zipWithIndex.map { case (j, k) =>
    Span(spans.size + k, j.span, j.op, s"job ${j.id}", j.start.toDouble, j.end.toDouble)
  }
}

object Recorder {
  val OpProp = "lakebench.op"
  val SpanProp = "lakebench.span"

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double =
    intervals.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((acc, hi), (s, e)) =>
      val s2 = math.max(s, hi)
      (acc + math.max(0.0, e - s2), math.max(hi, e))
    }._1

  /** Self time of every span: its duration minus the part of it that
    * its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> math.max(0.0, (s.end - s.start) - covered(kids))
    }.toMap
  }
}

/** What one op may do besides its timed work. `plan` and `exec` mark
  * the planning and execution of a read; `traceOnly` runs only in the
  * traced run, outside the op's latency and with its Spark jobs
  * attributed to no op.
  */
final class Ctx(rec: Recorder, val opId: Int) {
  private[lakebench] var untimedNs = 0L
  val layer = mutable.LinkedHashMap[String, Double]()

  def tracing: Boolean = rec.tracing
  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

  /** Builds a read and forces its physical plan: graft's read path
    * (snapshot, pruning, file listing) plus Catalyst.
    */
  def plan(build: => DataFrame): DataFrame = rec.span("plan", opId) {
    val t0 = System.nanoTime()
    val df = build
    df.queryExecution.executedPlan
    if (tracing) {
      add("plan.ms", (System.nanoTime() - t0) / 1e6)
      add("plan.count", 1)
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        add(s"plan.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
    df
  }

  def exec[T](f: => T): T = rec.span("exec", opId)(f)

  def traceOnly[T](name: String)(f: => T): Option[T] =
    if (!tracing) None
    else {
      val t0 = System.nanoTime()
      rec.setOp(-1)
      try Some(rec.span(name, opId)(f))
      finally {
        rec.setOp(opId)
        untimedNs += System.nanoTime() - t0
      }
    }

  /** Times `f`, a call into one layer beside the op, into the metric
    * `key` (traced run only).
    */
  def probe[T](key: String)(f: => T): Option[T] = traceOnly(key.stripSuffix("_ms")) {
    val t0 = System.nanoTime()
    val r = f
    add(key, (System.nanoTime() - t0) / 1e6)
    r
  }
}

/** Files and bytes that appeared or vanished under the watched table
  * directories since the previous look.
  */
final case class StorageDelta(dataFilesCreated: Int, dataBytesWritten: Long,
    filesDeleted: Int, bytesCreated: Long, commitJsonCreated: Int,
    checkpointsWritten: Int, logBytesWritten: Long)

final class StorageWatch(roots: Seq[Path]) {
  private var last: Map[String, Long] = scan()

  def bytesOnDisk: Long = last.values.sum

  private def scan(): Map[String, Long] = roots.filter(Files.isDirectory(_)).flatMap { r =>
    val w = Files.walk(r)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => s"${r.getFileName}/${r.relativize(p)}" -> Files.size(p)).toSeq
    finally w.close()
  }.toMap

  def diff(): StorageDelta = {
    val now = scan()
    val created = now.filter { case (k, _) => !last.contains(k) }
    val deleted = last.keySet.count(k => !now.contains(k))
    last = now
    def segs(k: String): Array[String] = k.split('/').drop(1)
    val (logFiles, other) = created.partition { case (k, _) => segs(k).headOption.contains("_graft_log") }
    val data = other.filter { case (k, _) =>
      val s = segs(k)
      s.last.endsWith(".parquet") && !s.exists(x => x.startsWith("_") || x.startsWith("."))
    }
    val commits = logFiles.keys.count(k => segs(k).length == 2 && segs(k)(1).matches("\\d+\\.json"))
    val ckpts = logFiles.keys.flatMap(k => segs(k).find(_.startsWith("ckpt-"))).toSet.size
    StorageDelta(data.size, data.values.sum, deleted, created.values.sum,
      commits, ckpts, logFiles.values.sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The geometric mean, over op kinds, of each kind's median latency:
    * every kind weighs the same, as queries do in TPC-H's power metric,
    * so a change to any one kind moves it, and one slow stretch of the
    * host moves it less than it moves the median of a mixed set of ops.
    */
  def geomeanOfMedians(ops: Seq[OpRecord]): Double = {
    val medians = ops.groupBy(_.kind).values.map(rs => median(rs.map(_.ms))).toSeq
    math.exp(medians.map(math.log).sum / medians.size)
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank), as (percentile, value); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Some(p -> xs.sorted.apply(rank - 1))
    }
  }
}
