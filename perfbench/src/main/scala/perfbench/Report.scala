package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every metric is a mean per timed op
  * (serve spans: per timed serve), except the end-of-run gauges that the
  * workloads add. Warm-up ops and set-up work are excluded. */
final class Report(t: Tracer, cores: Int, firstTimed: Int,
    fsDeltas: Seq[Map[String, Long]]) {
  private val SlackNs = 2000000L // listener event times have ms resolution
  private val all = t.spans.toIndexedSeq
  private val byId = all.map(s => s.id -> s).toMap
  private val roots = all.drop(firstTimed).filter(s => s.parent == 0L && s.opId >= 0L)
  private val rootIds = roots.map(_.id).toSet
  private val ops = roots.filter(_.name == "op")
  private val nOps = math.max(ops.size, 1).toDouble
  private val nServes = math.max(roots.count(_.name == "serve"), 1).toDouble
  private def dur(s: Span) = (s.end - s.start).toDouble
  private val children = all.groupBy(_.parent)
  private def self(s: Span) =
    dur(s) - children.getOrElse(s.id, Nil).map(dur).sum
  private def rootOf(s: Span): Span =
    if (s.parent == 0L) s else rootOf(byId(s.parent))
  private def timed(s: Span) = rootIds.contains(rootOf(s).id)

  /** Innermost span open at epoch-ns `at` (client-thread spans nest). */
  private def innermostAt(at: Long): Option[Span] = {
    val open = all.filter(s => s.start <= at + SlackNs && at <= s.end + SlackNs)
    if (open.isEmpty) None else Some(open.maxBy(_.start))
  }

  private val jobs = t.jobs.asScala.toIndexedSeq.sortBy(_.id)
  /** job id -> (owning span, attributed by property?) */
  private val owner: Map[Int, (Option[Span], Boolean)] = jobs.map { j =>
    val viaProp = j.prop.flatMap(byId.get).filter(s =>
      s.start <= j.start + SlackNs && (s.end < 0 || j.start <= s.end + SlackNs))
    j.id -> (viaProp.orElse(innermostAt(j.start)), viaProp.isDefined)
  }.toMap
  private val unattributed = jobs.filter { j =>
    val (s, prop) = owner(j.id); s.exists(timed) && !prop
  }
  private val stageJob = mutable.Map.empty[Int, Int]
  jobs.foreach(j => j.stages.foreach(st => stageJob.getOrElseUpdate(st, j.id)))
  private def spanOfStage(st: Int): Option[Span] =
    stageJob.get(st).flatMap(owner(_)._1)
  private def inOps(s: Option[Span]) = s.exists(x => timed(x) && rootOf(x).name == "op")

  private val opJobs = jobs.filter(j => inOps(owner(j.id)._1))
  private val opTasks = t.tasks.asScala.toSeq.filter(k => inOps(spanOfStage(k.stage)))
  private val opStages = t.stagesRun.asScala.toSeq.filter(st => inOps(spanOfStage(st)))
  private val opPlanNs = t.phases.asScala.toSeq
    .filter(p => inOps(innermostAt(p.start))).map(_.durNs.toDouble).sum

  /** Op wall time during which no job was running. */
  private def driverOnly(op: Span): Double = {
    val iv = jobs.filter(j => j.end >= op.start && j.start <= op.end)
      .map(j => (math.max(j.start, op.start), math.min(j.end, op.end))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    dur(op) - covered
  }

  private def perSpan: Map[String, Double] = {
    val timedSpans = all.filter(s => s.parent != 0L && timed(s))
    val jobsBySpan = jobs.groupBy(j => owner(j.id)._1.map(_.id)).map {
      case (k, v) => k -> v.size }
    timedSpans.groupBy(_.name).flatMap { case (name, ss) =>
      val n = if (rootOf(ss.head).name == "serve") nServes else nOps
      Seq(s"$name.self_s" -> ss.map(self).sum / 1e9 / n,
        s"$name.jobs" -> ss.map(s => jobsBySpan.getOrElse(Some(s.id), 0)).sum / n)
    }
  }

  def metrics(tracedP50: Double, failedFrac: Double): Seq[(String, Double, String)] = {
    val mb = 1048576.0
    val wall = ops.map(dur).sum
    def fs(k: String) = fsDeltas.map(_(k)).sum / nOps
    val m = perSpan ++ Map(
      "spark.jobs_per_op" -> opJobs.size / nOps,
      "spark.stages_per_op" -> opStages.size / nOps,
      "spark.tasks_per_op" -> opTasks.size / nOps,
      "spark.exec_cpu_s" -> opTasks.map(_.cpuNs).sum / 1e9 / nOps,
      "spark.exec_run_s" -> opTasks.map(_.runMs).sum / 1e3 / nOps,
      "spark.core_util" -> opTasks.map(_.runMs).sum * 1e6 / (wall * cores),
      "spark.shuffle_write_mb" -> opTasks.map(_.shuffleWrite).sum / mb / nOps,
      "spark.input_mb" -> opTasks.map(_.input).sum / mb / nOps,
      "spark.sched_delay_s" -> opTasks.map(_.schedMs).sum / 1e3 / nOps,
      "spark.plan_s" -> opPlanNs / 1e9 / nOps,
      "spark.driver_only_s" -> ops.map(driverOnly).sum / 1e9 / nOps,
      "spark.unattributed_jobs" -> unattributed.size / nOps,
      "residual_s" -> ops.map(self).sum / 1e9 / nOps,
      "trace.op_p50_s" -> tracedP50,
      "ops_failed_frac" -> failedFrac,
      "fs.write_ops" -> fs("writeOps"),
      "fs.read_ops" -> fs("readOps"),
      "fs.list_ops" -> fs("largeReadOps"),
      "fs.bytes_written_mb" -> fs("bytesWritten") / mb)
    Report.layers.filterNot(Report.gauges.contains).map(n =>
      (n, m.getOrElse(n, 0.0), Report.unitOf(n)))
  }

  /** Bookkeeping checks on the probes themselves: the attributing
    * listener saw every job a second listener counted, and the jobs it
    * attributed to timed ops are exactly the jobs that started inside a
    * timed op's interval. */
  def sanity(workload: String): Seq[String] = {
    val bad = Seq.newBuilder[String]
    if (jobs.size != t.jobCount.get)
      bad += s"listener saw ${jobs.size} jobs, job counter ${t.jobCount.get}"
    val inWindow = jobs.count(j => roots.exists(r =>
      r.start - SlackNs <= j.start && j.start <= r.end + SlackNs))
    val attributed = jobs.count(j => owner(j.id)._1.exists(timed))
    if (inWindow != attributed)
      bad += s"$attributed jobs attributed to timed ops, $inWindow started in them"
    if (workload == "crawl_ingest")
      for (k <- Seq("writeOps", "readOps", "largeReadOps", "bytesWritten"))
        if (fsDeltas.map(_(k)).sum == 0L)
          bad += s"fs counter $k read 0 over ${fsDeltas.size} ops: the probe is broken"
    bad.result()
  }

  def printTable(): Unit = {
    println(f"trace: ${ops.size} timed ops, ${roots.size - ops.size} timed serves; " +
      f"per-op means (serve spans: per serve)")
    println(f"  ${"span"}%-28s ${"self_s"}%10s ${"jobs"}%8s")
    val ps = perSpan
    ps.keys.filter(_.endsWith(".self_s")).map(_.stripSuffix(".self_s")).toSeq.sorted
      .foreach(n => println(f"  $n%-28s ${ps(n + ".self_s")}%10.4f ${ps(n + ".jobs")}%8.2f"))
    println(f"  ${"residual (op self)"}%-28s ${ops.map(self).sum / 1e9 / nOps}%10.4f")
    println(s"  unattributed jobs in timed ops: ${unattributed.size} " +
      s"(started on threads without a live span property; assigned by start time)")
    println("  note: Spark plans lazily, so work planned in one span executes in " +
      "the span of the first action on its output (crawl_ingest: the fingerprint " +
      "scrub runs inside ext.minhash.scrub, whose eager checkpoint is that action; " +
      "the JSON parse runs inside io.read_quarantined, where the quarantine counts " +
      "are the first action)")
  }
}

object Report {
  val spanNames: Seq[String] = Seq("io.read_parquet", "backend.validate",
    "backend.report", "io.read_quarantined", "ext.fingerprint.scrub",
    "ext.minhash.scrub") ++
    Seq("fingerprint", "minhash", "bm25", "ann", "sketch", "ledger")
      .map(s => s"ext.$s.append") ++
    Seq("ext.compact", "ext.drift.psi", "spark.clear_cache", "ext.bm25.serve")

  /** End-of-run gauges a workload reports itself (0 where not applicable). */
  val gauges: Seq[String] = Seq("blockmgr.cached_mb", "ext.compact.runs",
    "ext.store.live_files", "ext.minhash.survivor_frac", "serve_p50_s",
    "store_bytes_per_input_byte")

  /** Every per-layer metric, in output order. */
  val layers: Seq[String] = spanNames.flatMap(n => Seq(s"$n.self_s", s"$n.jobs")) ++
    Seq("residual_s", "trace.op_p50_s", "ops_failed_frac",
      "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
      "spark.exec_cpu_s", "spark.exec_run_s", "spark.core_util",
      "spark.shuffle_write_mb", "spark.input_mb", "spark.sched_delay_s",
      "spark.plan_s", "spark.driver_only_s", "spark.unattributed_jobs",
      "fs.write_ops", "fs.read_ops", "fs.list_ops", "fs.bytes_written_mb") ++ gauges

  def unitOf(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_frac") || n == "spark.core_util" ||
      n == "store_bytes_per_input_byte") "ratio"
    else "count"
}
