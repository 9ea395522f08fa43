package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Turns the traced run's spans, listener totals and per-op probes into
  * the per-layer metrics. Every metric is a mean per op over the ops
  * that reach the layer (named by its `.count` key), so the figures do
  * not grow with the number of ops a run completes.
  */
object Layers {

  /** (metric, unit, ops it is averaged over: a count key, or "" for all ops) */
  private val PerLayer: Seq[(String, String, String)] = Seq(
    ("txnlog.commits", "count", ""),
    ("txnlog.commit_json_created", "count", ""),
    ("txnlog.checkpoints_written", "count", ""),
    ("txnlog.log_bytes_written", "bytes", ""),
    ("txnlog.latest_version_ms", "ms", ""),
    ("snapshot.resolve_ms", "ms", ""),
    ("snapshot.num_files", "count", ""),
    ("pruning.files_total", "count", "pruning.count"),
    ("pruning.files_kept", "count", "pruning.count"),
    ("plan.ms", "ms", "plan.count"),
    ("plan.analysis_ms", "ms", "plan.count"),
    ("plan.optimization_ms", "ms", "plan.count"),
    ("plan.planning_ms", "ms", "plan.count"),
    ("plan.listing_jobs", "count", "plan.count"),
    ("exec.jobs", "count", ""),
    ("exec.stages", "count", ""),
    ("exec.tasks", "count", ""),
    ("exec.cpu_ms", "ms", ""),
    ("exec.run_ms", "ms", ""),
    ("exec.input_bytes", "bytes", ""),
    ("exec.output_bytes", "bytes", ""),
    ("exec.shuffle_read_bytes", "bytes", ""),
    ("exec.shuffle_write_bytes", "bytes", ""),
    ("exec.failed_tasks", "count", ""),
    ("exec.job_covered_ms", "ms", ""),
    ("exec.driver_gap_ms", "ms", ""),
    ("storage.data_files_created", "count", ""),
    ("storage.data_bytes_written", "bytes", ""),
    ("storage.files_deleted", "count", ""),
    ("optimize.files_removed", "count", "optimize.count"),
    ("optimize.files_added", "count", "optimize.count"),
    ("optimize.bytes_rewritten", "bytes", "optimize.count"),
    ("vacuum.files_deleted", "count", "vacuum.count"),
    ("mv_refresh.bytes_written", "bytes", "mv_refresh.count"),
    ("dml.files_rewritten", "count", "dml.count"),
    ("dml.bytes_rewritten", "bytes", "dml.count"),
    ("dedup.planted_recall", "ratio", "dedup.recall_count"),
    ("similarity.recall_at_k", "ratio", "similarity.recall_count"))

  /** Layers only some workloads reach: their time is the mean latency
    * of the ops calling them. Reported beside the result line and in
    * the trace file, not in it, because a layer a workload bypasses
    * would read 0 ms on every run.
    */
  private val LayerTimes = Seq("optimize.ms" -> "optimize", "vacuum.ms" -> "vacuum",
    "mv_refresh.ms" -> "mv_refresh", "dml.api_ms" -> "dml.api", "dml.sql_ms" -> "dml.sql",
    "dedup.ms" -> "dedup", "text.ms" -> "text", "similarity.ms" -> "similarity")

  /** Adds the listener's exec.* and plan.listing_jobs to every op. */
  private def withExec(rec: Recorder, records: Seq[OpRecord]): Seq[OpRecord] = {
    rec.drain()
    val jobs = rec.finishedJobs
    val spanName = rec.spans.map(s => s.id -> s.name).toMap
    records.map { r =>
      val mine = jobs.filter(_.op == r.id)
      val t = rec.listener.totals(r.id)
      val covered = Recorder.covered(mine.map(j => (j.start.toDouble, j.end.toDouble)))
      r.copy(metrics = r.metrics ++ Seq(
        "exec.jobs" -> mine.size.toDouble,
        "exec.stages" -> t.stages.toDouble,
        "exec.tasks" -> t.tasks.toDouble,
        "exec.cpu_ms" -> t.cpuNs / 1e6,
        "exec.run_ms" -> t.runMs.toDouble,
        "exec.input_bytes" -> t.inputBytes.toDouble,
        "exec.output_bytes" -> t.outputBytes.toDouble,
        "exec.shuffle_read_bytes" -> t.shuffleRead.toDouble,
        "exec.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        "exec.failed_tasks" -> t.failedTasks.toDouble,
        "exec.job_covered_ms" -> covered,
        "exec.driver_gap_ms" -> math.max(0.0, r.ms - covered),
        "plan.listing_jobs" -> mine.count(j => spanName.get(j.span).contains("plan")).toDouble))
    }
  }

  /** (per-layer metrics, layer times, the ops with their exec metrics) */
  def summarize(rec: Recorder, records: Seq[OpRecord], storage: StorageTotals)
      : (Seq[Metric], Seq[Metric], Seq[OpRecord]) = {
    val traced = withExec(rec, records)
    def sum(k: String): Double = traced.map(_.metrics.getOrElse(k, 0.0)).sum
    val perLayer = PerLayer.map { case (name, unit, per) =>
      val n = if (per.isEmpty) traced.size.toDouble else sum(per)
      Metric(name, if (n == 0) 0.0 else sum(name) / n, unit)
    }
    val kept = sum("pruning.files_kept")
    val total = sum("pruning.files_total")
    val extraPerLayer = Seq(
      Metric("pruning.kept_ratio", if (total == 0) 0.0 else kept / total, "ratio"),
      Metric("storage.bytes_on_disk", storage.bytesOnDisk.toDouble, "bytes"))
    def mean(name: String, ms: Seq[Double]): Metric =
      Metric(name, if (ms.isEmpty) 0.0 else ms.sum / ms.size, "ms", s"n=${ms.size}")
    val layerTimes = mean("pruning.ms", traced.flatMap(_.metrics.get("pruning.ms"))) +:
      LayerTimes.map { case (name, layer) => mean(name, traced.filter(r => r.ok && r.layer == layer).map(_.ms)) }
    (perLayer ++ extraPerLayer, layerTimes, traced)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  /** Writes every op with its layer metrics, every span with its self
    * time, and the summary metrics.
    */
  def writeTrace(path: Path, workload: String, seed: Long, rec: Recorder,
      traced: Seq[OpRecord], summary: Seq[Metric]): Unit = {
    val spans = rec.allSpans
    val self = Recorder.selfTimes(spans)
    val ops = traced.map(r => obj(Seq("id" -> r.id.toString, "kind" -> q(r.kind),
      "klass" -> q(r.klass), "ms" -> r.ms.toString, "ok" -> r.ok.toString) ++
      r.metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
    val spanJson = spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> q(s.name), "start_ms" -> f"${s.start}%.3f",
      "end_ms" -> f"${s.end}%.3f", "self_ms" -> f"${self(s.id)}%.3f")))
    val selfByName = spans.groupBy(s => if (s.name.startsWith("job ")) "job" else s.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }.toSeq.sortBy(-_._2)
    val body = obj(Seq(
      "workload" -> q(workload), "seed" -> seed.toString,
      "summary" -> obj(summary.map(m => m.name -> obj(Seq("value" -> m.value.toString, "unit" -> q(m.unit))))),
      "self_ms_by_span" -> obj(selfByName.map { case (n, v) => n -> f"$v%.3f" }),
      "ops" -> ops.mkString("[\n", ",\n", "]"),
      "spans" -> spanJson.mkString("[\n", ",\n", "]")))
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}
