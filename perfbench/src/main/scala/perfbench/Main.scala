package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client thread on `local[nproc]`
  * issues one op after the previous one finished, for `--seconds`
  * seconds, after `--setup-reps` timed set-ups and a few untimed warm-up
  * ops. Every op checks its own output.
  *
  * {{{
  * Main --workload validate_bulk|validate_microbatch|crawl_ingest
  *      --seed N --seconds S --trace 0|1 --workdir DIR [--smoke]
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the per-layer
  * metrics traced). Lines before it are a human-readable summary. */
object Main {

  /** Input sizes. `smoke` runs the same workloads on tiny inputs. */
  final case class Sizes(bulkRows: Long, bulkFiles: Int, microRows: Int,
      microFiles: Int, histDocs: Int, crawlLines: Int, setupReps: Int,
      warmupSeconds: Double, maxOps: Int)
  val Full = Sizes(bulkRows = 1200000L, bulkFiles = 8, microRows = 2000,
    microFiles = 96, histDocs = 1500, crawlLines = 500, setupReps = 3,
    warmupSeconds = 12.0, maxOps = Int.MaxValue)
  val Smoke = Sizes(bulkRows = 6000L, bulkFiles = 2, microRows = 2000,
    microFiles = 4, histDocs = 300, crawlLines = 120, setupReps = 2,
    warmupSeconds = 0.0, maxOps = 3)

  final case class OpResult(latency: Double, rows: Long, errors: Seq[String])

  /** A workload: `setup(rep)` prepares fresh inputs (the last rep's are
    * used), `op(i)` runs op `i` and checks it, `between(i)` runs after
    * each op outside its timing, `finish()` audits the end state. */
  trait Workload {
    def setup(rep: Int): Unit
    def op(i: Int): OpResult
    def between(i: Int): Seq[String] = Nil
    def finish(): Seq[String] = Nil
    def extraLayers(): Map[String, Double] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val smoke = args.contains("--smoke")
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("workdir")).toAbsolutePath
    val sizes = if (smoke) Smoke else Full
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    tracer.install(spark)

    val wl: Workload = workload match {
      case "validate_bulk" => new ValidateBulk(spark, work, seed, sizes, tracer)
      case "validate_microbatch" => new ValidateMicro(spark, work, seed, sizes, tracer)
      case "crawl_ingest" => new CrawlIngest(spark, work, seed, sizes, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups = (0 until sizes.setupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }

    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def check(what: String, es: Seq[String]): Boolean = {
      attempted += 1
      if (es.nonEmpty) { failed += 1; errors ++= es.take(5).map(e => s"$what: $e") }
      es.isEmpty
    }
    val fsDeltas = mutable.ArrayBuffer.empty[Map[String, Long]]
    def runOp(i: Int): Option[OpResult] = {
      val fs0 = if (trace) FsStats.snapshot() else Map.empty[String, Long]
      val r = try Some(tracer.op("op", i.toLong)(wl.op(i))) catch {
        case e: Exception =>
          check(s"op $i", Seq(s"threw $e")); None
      }
      if (trace) fsDeltas += FsStats.snapshot().map { case (k, v) => k -> (v - fs0(k)) }
      r.foreach(o => check(s"op $i", o.errors))
      check(s"after op $i", wl.between(i))
      r
    }

    // warm-up ops carry negative ids: checked, never timed. The validate
    // workloads warm up for `warmupSeconds` (the JIT keeps speeding their
    // short ops up for that long). A crawl op runs none: its three set-ups
    // already exercise the store code, and its first op is no slower than
    // later ones.
    val (warmOps, warmSecs) =
      if (workload == "crawl_ingest") (0, 0.0) else (1, sizes.warmupSeconds)
    val tWarm = System.nanoTime()
    var w = 1
    while (w <= warmOps || (System.nanoTime() - tWarm) / 1e9 < warmSecs) {
      runOp(-w); w += 1
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    fsDeltas.clear()
    val firstTimed = tracer.spans.size
    val results = mutable.ArrayBuffer.empty[OpResult]
    // at least two timed ops, so that a slow host still yields a median
    // over the same ops (crawl_ingest: batches 0 and 1, which carry every
    // store's compaction)
    val tStart = System.nanoTime()
    var i = 0
    while (i < sizes.maxOps && (i < 2 || (System.nanoTime() - tStart) / 1e9 < seconds)) {
      runOp(i).foreach(results += _)
      i += 1
    }
    check("end-of-run audit", wl.finish())

    val lat = results.map(_.latency).sorted.toIndexedSeq
    val (tailPct, tail) = Stats.tail(lat)
    val heapMb = Stats.heapAfterGcMb()

    println(f"workload=$workload seed=$seed cores=$cores trace=$trace " +
      f"ops=${lat.size} warmup_s=$warmS%.2f " +
      s"setup_s=${setups.map(x => f"$x%.2f").mkString(",")} " +
      s"op_s=${results.map(x => f"${x.latency}%.3f").mkString(",")}")
    println(s"op_tail_s is the p$tailPct latency of ${lat.size} timed ops " +
      "(the highest percentile with at least 10 ops beyond it, or the " +
      "nearest-rank p75 when fewer than 44 ops ran)")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_p50_s", Stats.median(lat), "s"),
        ("op_tail_s", tail, "s"),
        ("rows_per_s", results.map(_.rows).sum / lat.sum, "1/s"),
        ("heap_after_gc_mb", heapMb, "MB"))
      else {
        tracer.drain()
        val rep = new Report(tracer, cores, firstTimed, fsDeltas.toSeq)
        val probe = rep.sanity(workload)
        check("trace probes", probe)
        rep.printTable()
        val gauges = Map("blockmgr.cached_mb" ->
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0) ++
          wl.extraLayers()
        rep.metrics(Stats.median(lat), failed.toDouble / attempted) ++
          Report.gauges.map(g => (g, gauges.getOrElse(g, 0.0), Report.unitOf(g)))
      }
    errors.foreach(e => println(s"CHECK FAILED $e"))
    spark.stop()
    graft.ext.StoreFiles.deleteLocalDirRec(work)

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${errors.isEmpty && lat.nonEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** (percentile, value) of the highest percentile with at least 10
    * samples beyond it, but never below the nearest-rank p75: with fewer
    * than 44 samples the p75 stands in (the maximum for 1 to 4 samples). */
  def tail(sorted: IndexedSeq[Double]): (Int, Double) =
    if (sorted.isEmpty) (100, Double.NaN)
    else {
      val n = sorted.size
      val i = math.max(n - 11, math.ceil(0.75 * n).toInt - 1)
      ((100.0 * (i + 1) / n).floor.toInt, sorted(i))
    }
  /** Driver heap in use after full collections. The first collection
    * queues Spark's weakly referenced broadcasts, shuffles and RDD blocks
    * for its context cleaner; the pause lets the cleaner release them
    * before the collection that is measured. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def gc(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    val first = gc()
    Thread.sleep(1000)
    gc(); Thread.sleep(500)
    val last = gc()
    println(f"heap after gc: first=$first%.1f MB last=$last%.1f MB")
    last
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
