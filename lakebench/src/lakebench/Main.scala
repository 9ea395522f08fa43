package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.lake.{GraftTable, TxnLog}
import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop. `klass` groups ops for
  * the end-to-end metrics (append, dml, read, scan, timetravel, maint,
  * search, operator); `layer` names the layer whose time the op is
  * (dml.api, optimize, dedup, …). `run` does the timed work and
  * returns the output check, which runs untimed afterwards.
  */
final case class Op(kind: String, klass: String, layer: String,
    run: Ctx => Op.Check, version: Option[Long] = None)

object Op {
  type Check = () => Boolean
}

final case class OpRecord(id: Int, kind: String, klass: String, layer: String,
    ms: Double, ok: Boolean, error: String, metrics: Map[String, Double])

final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** A workload: seeded inputs, fixtures and a deterministic op schedule.
  * The loop runs whole rounds of `round` ops, which hold every op kind
  * in fixed shares.
  */
trait Workload {
  def round: Int
  /** Generates the inputs and builds the fixtures under the fresh `dir`. */
  def setup(dir: Path): Unit
  /** Runs every op kind once on the last set-up's fixtures, checked. */
  def warmUp(): Unit
  /** Directories whose files the storage differ watches. */
  def watched: Seq[Path]
  /** The table whose log and snapshot the traced run probes beside each op. */
  def probedTable: Option[String]
  /** Op `i` of the loop, or None once the generated inputs are used up. */
  def op(i: Int): Option[Op]
  def finalChecks(): Seq[(String, Boolean)]
  /** User rows the loop's ops committed or processed, and the workload's name for their rate. */
  def rows(ops: Seq[OpRecord]): Long
  def rowsName: String
  /** The workload's own metrics, printed beside the result. */
  def named(ops: Seq[OpRecord], storage: StorageTotals): Seq[Metric]
}

final class StorageTotals {
  var bytesCreated = 0L
  var bytesOnDisk = 0L
}

object Main {
  val Cores = 2
  val Workloads = Seq("lake_mixed", "corpus_pipeline")

  def main(args: Array[String]): Unit = {
    val code = try run(args) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def run(args: Array[String]): Int = {
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val tracing = arg(args, "trace") == "1"
    val out = Paths.get(arg(args, "out"))
    val nproc = Runtime.getRuntime.availableProcessors()
    // two task threads leave the driver, the JIT and the GC cores of their
    // own on a 4-core host, which makes the runs steadier; the ops are
    // small, so more threads barely shorten them
    val cores = math.min(Cores, nproc)
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    sweepIvfSidecars()

    val work = Paths.get("work").toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // from the launch of the JVM, whose heap pre-touch precedes main
    val sessionS = (System.currentTimeMillis() - sys.props("lakebench.launchMs").toLong) / 1e3
    val probeStartMs = hostProbeMs()

    def workload(name: String): Workload = name match {
      case "lake_mixed" => new LakeMixed(spark, seed, seconds)
      case "corpus_pipeline" => new CorpusPipeline(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workloadName == "train") {
      // the build's class-data-sharing archive records the classes this
      // loads: a set-up and a warm-up of every workload
      Workloads.foreach { w =>
        val wl = workload(w)
        wl.setup(work.resolve(s"train-$w"))
        wl.warmUp()
      }
      spark.stop()
      return 0
    }
    val wl = workload(workloadName)
    // set-up time = session start + one set-up (generating the inputs and
    // building the fixtures in a fresh directory) + the JIT/codegen
    // warm-up on those fixtures, which the loop then measures. A set-up
    // repeated in the same JVM runs warm, twice as fast as the first, so
    // repeating it would measure a set-up no user pays.
    def timed(f: => Unit): Double = {
      val s = System.nanoTime()
      f
      (System.nanoTime() - s) / 1e9
    }
    val setupOnceS = timed(wl.setup(work.resolve("setup")))
    val warmS = timed(wl.warmUp())

    val rec = new Recorder(spark, tracing)
    val storage = new StorageTotals
    val (records, loopS) = loop(spark, wl, rec, seconds, storage)
    val probeEndMs = hostProbeMs()
    val checks = wl.finalChecks()

    val ok = records.filter(_.ok)
    val failedOps = records.count(!_.ok) + checks.count(!_._2)
    val attempted = records.size + checks.size
    require(ok.nonEmpty, "no op succeeded")

    val e2e = Seq(
      Metric("setup_s", sessionS + setupOnceS + warmS, "s",
        f"session $sessionS%.3f s + set-up $setupOnceS%.3f s + warm-up $warmS%.3f s"),
      Metric("op_geomean_ms", Stats.geomeanOfMedians(ok), "ms",
        s"${ok.map(_.kind).distinct.size} op kinds, n=${ok.size}"),
      Metric("ops_per_s", ok.size / loopS, "1/s", f"${ok.size} ops in a loop of $loopS%.3f s"))
    // with a few dozen ops a run, the tail is a low percentile: reported,
    // not bounded
    val named = Named.latency("op", ok.map(_.ms)) ++
      Seq(Metric(wl.rowsName, wl.rows(records) / loopS, "rows/s", f"${wl.rows(records)} rows in $loopS%.3f s")) ++
      wl.named(records, storage) :+
      Metric("failed_op_ratio", failedOps.toDouble / attempted, "ratio", s"$failedOps/$attempted")

    println(f"# lakebench workload=$workloadName seed=$seed seconds=$seconds trace=${if (tracing) 1 else 0} " +
      f"nproc=$nproc spark_master=local[$cores] load1_at_start=$load1%.2f " +
      f"host_probe_ms_start=$probeStartMs%.1f host_probe_ms_end=$probeEndMs%.1f")
    println("# op medians (ms): " + ok.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, rs) => f"$k=${Stats.median(rs.map(_.ms))}%.1f" }.mkString(" "))
    checks.filterNot(_._2).foreach { case (c, _) => println(s"# FAILED check: $c") }
    records.filterNot(_.ok).take(5).foreach(r => println(s"# FAILED op ${r.id} ${r.kind}: ${r.error}"))
    (e2e ++ named).foreach(m => println(s"# metric ${m.name} = ${if (m.value.isNaN) "n/a" else m.value} ${m.unit}" +
      (if (m.note.nonEmpty) s"  (${m.note})" else "")))

    val metrics: Seq[Metric] =
      if (!tracing) e2e
      else {
        val (perLayer, extra, traced) = Layers.summarize(rec, records, storage)
        val all = perLayer ++ Seq(
          Metric("trace.op_geomean_ms", Stats.geomeanOfMedians(ok), "ms"),
          Metric("trace.untimed_ms_per_op", records.map(_.metrics.getOrElse("trace.untimed_ms", 0.0)).sum /
            records.size, "ms"))
        extra.foreach(m => println(s"# layer ${m.name} = ${m.value} ${m.unit}"))
        Layers.writeTrace(out.resolve(s"trace-$workloadName.json"), workloadName, seed, rec, traced,
          all ++ extra)
        all
      }
    metrics.foreach(m => require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}"))
    spark.stop()

    val body = metrics.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": ${failedOps == 0}, "attempted": $attempted, "failed": $failedOps, "metrics": {$body}}""")
    0
  }

  /** The closed loop: one client runs op after op until `seconds`
    * have passed and the round is complete.
    */
  private def loop(spark: SparkSession, wl: Workload, rec: Recorder, seconds: Int,
      storage: StorageTotals): (Seq[OpRecord], Double) = {
    val watch = new StorageWatch(wl.watched)
    val records = mutable.ArrayBuffer[OpRecord]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    var more = true
    while (more && (System.nanoTime() < deadline || i % wl.round != 0)) {
      wl.op(i) match {
        case None => more = false
        case Some(op) =>
          val r = runOp(spark, wl, rec, op, i)
          val d = watch.diff()
          storage.bytesCreated += d.bytesCreated
          records += (if (!rec.tracing) r else r.copy(metrics = r.metrics ++ Seq(
            "storage.data_files_created" -> d.dataFilesCreated.toDouble,
            "storage.data_bytes_written" -> d.dataBytesWritten.toDouble,
            "storage.files_deleted" -> d.filesDeleted.toDouble,
            "txnlog.commit_json_created" -> d.commitJsonCreated.toDouble,
            "txnlog.checkpoints_written" -> d.checkpointsWritten.toDouble,
            "txnlog.log_bytes_written" -> d.logBytesWritten.toDouble)))
      }
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    storage.bytesOnDisk = watch.bytesOnDisk
    (records.toSeq, loopS)
  }

  private def runOp(spark: SparkSession, wl: Workload, rec: Recorder, op: Op, i: Int): OpRecord = {
    val ctx = new Ctx(rec, i)
    rec.setOp(i)
    try {
      var before = -1L
      val (check, ms) = rec.span(op.kind, i) {
        wl.probedTable.foreach(path => ctx.probe("txnlog.latest_version_ms")(new TxnLog(path).latestVersion())
          .foreach(v => before = v.getOrElse(-1L)))
        val s = System.nanoTime()
        val c = op.run(ctx)
        (c, (System.nanoTime() - s - ctx.untimedNs) / 1e6)
      }
      // the snapshot probe runs after the op, so a VERSION AS OF op pays
      // its own snapshot-cache miss, as in the timed run; the probe then
      // times a cache hit for it
      wl.probedTable.foreach { path =>
        ctx.probe("snapshot.resolve_ms") {
          val t = GraftTable.forPath(spark, path)
          op.version.map(t.snapshotAt).getOrElse(t.snapshot)
        }.foreach(s => ctx.add("snapshot.num_files", s.numFiles))
        ctx.traceOnly("txnlog.after") {
          ctx.add("txnlog.commits", new TxnLog(path).latestVersion().getOrElse(-1L) - before)
        }
      }
      rec.setOp(-1)
      val ok = try check() catch { case NonFatal(e) =>
        System.err.println(s"[lakebench] check of op $i ${op.kind} threw: $e")
        false
      }
      if (!ok) System.err.println(s"[lakebench] op $i ${op.kind}: wrong output")
      System.err.println(f"[lakebench] op $i ${op.kind} $ms%.1f ms")
      OpRecord(i, op.kind, op.klass, op.layer, ms, ok, if (ok) "" else "wrong output",
        ctx.layer.toMap + ("trace.untimed_ms" -> ctx.untimedNs / 1e6))
    } catch {
      case NonFatal(e) =>
        rec.setOp(-1)
        System.err.println(s"[lakebench] op $i ${op.kind} failed: $e")
        OpRecord(i, op.kind, op.klass, op.layer, 0.0, ok = false, e.toString.take(300), ctx.layer.toMap)
    }
  }

  /** Milliseconds a fixed single-threaded integer loop takes (median of
    * three): how fast the host runs at the start and the end of the run,
    * so a run on a slowed host can be told apart. Untimed.
    */
  private def hostProbeMs(): Double = Stats.median((1 to 3).map { _ =>
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t) / 1e6
    if (x == 0) System.err.println("[lakebench] host probe reached 0")
    ms
  })

  /** Stale IVF centroid sidecars from an earlier JVM would let the
    * similarity operators skip training this run never did.
    */
  private def sweepIvfSidecars(): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (Files.isDirectory(tmp)) {
      val stream = Files.newDirectoryStream(tmp, "graft-ivf-*")
      try stream.forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }
  }
}
