package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import perfbench.Main.{OpResult, Sizes, Workload}

/** Shared op of the two validate workloads: read a parquet input, run the
  * full contract, render the report, check both against the injected
  * violations of rows `[lo, hi)`. */
abstract class ValidateWorkload(spark: SparkSession, t: Tracer, seed: Long)
    extends Workload {
  protected val li = new Lineitem(seed)
  protected def validate(path: String, lo: Long, hi: Long): OpResult = {
    val t0 = System.nanoTime()
    val df = t.span("io.read_parquet")(spark.read.parquet(path))
    val res = t.span("backend.validate")(Lineitem.contract.validate(df))
    val report = t.span("backend.report")(res.reportJson)
    val dt = (System.nanoTime() - t0) / 1e9
    OpResult(dt, hi - lo, li.verify(res, report, lo, hi))
  }
}

/** `validate_bulk`: every op validates the same multi-file dataset. */
final class ValidateBulk(spark: SparkSession, work: Path, seed: Long,
    s: Sizes, t: Tracer) extends ValidateWorkload(spark, t, seed) {
  private var path = ""
  def setup(rep: Int): Unit = {
    path = s"$work/bulk-$rep"
    li.rows(spark, 0L, s.bulkRows, s.bulkFiles).write.parquet(path)
  }
  def op(i: Int): OpResult = validate(path, 0L, s.bulkRows)
}

/** `validate_microbatch`: op `i` validates the next small file of a
  * stream (wrapping around after the last one). */
final class ValidateMicro(spark: SparkSession, work: Path, seed: Long,
    s: Sizes, t: Tracer) extends ValidateWorkload(spark, t, seed) {
  private var root = ""
  def setup(rep: Int): Unit = {
    root = s"$work/micro-$rep"
    li.rows(spark, 0L, s.microRows.toLong * s.microFiles, s.microFiles,
        batchRows = s.microRows)
      .repartition(org.apache.spark.sql.functions.col("batch"))
      .write.partitionBy("batch").parquet(root)
  }
  def op(i: Int): OpResult = {
    val b = Math.floorMod(i, s.microFiles).toLong
    validate(s"$root/batch=$b", b * s.microRows, (b + 1) * s.microRows)
  }
}

/** `crawl_ingest`: op `i` ingests nightly batch `i` into the six stores;
  * between ops a narrow BM25 serve reads the growing index. */
final class CrawlIngest(spark: SparkSession, work: Path, seed: Long,
    s: Sizes, t: Tracer) extends Workload {
  private var corpus: CrawlCorpus = _
  private var stores: CrawlStores = _
  private var histBytes = 0L
  private var inputBytes = 0L
  private var batchNo = 0
  private var lastFresh: Seq[(Long, String)] = Nil
  private val appended = mutable.ArrayBuffer.empty[(Long, String)]
  private val serveLat = mutable.ArrayBuffer.empty[Double]
  private var entering = 0L
  private var surviving = 0L
  private var compactions = 0L
  private var timedOps = 0

  def setup(rep: Int): Unit = {
    import spark.implicits._
    corpus = new CrawlCorpus(seed, s.histDocs)
    val root = work.resolve(s"crawl-$rep")
    val histPath = s"$root/hist"
    corpus.hist.toDF("id", "text").repartition(4).write.parquet(histPath)
    histBytes = corpus.hist.map(_._2.length + 1L).sum
    stores = new CrawlStores(spark, root, t)
    stores.build(histPath)
    batchNo = 0; appended.clear(); inputBytes = histBytes
  }

  def op(i: Int): OpResult = {
    val b = corpus.batch(batchNo, s.crawlLines)
    val dir = work.resolve(s"batches/b$batchNo")
    inputBytes += CrawlCorpus.writeLines(dir, b.lines)
    val t0 = System.nanoTime()
    val o = stores.ingest(dir.toString, batchNo.toLong)
    val dt = (System.nanoTime() - t0) / 1e9
    batchNo += 1
    val bad = Seq.newBuilder[String]
    if (o.quarantined != b.corrupt) bad += s"quarantined ${o.quarantined} != ${b.corrupt}"
    val validWant = b.lines.size - b.corrupt - b.blanks
    if (o.valid != validWant) bad += s"valid ${o.valid} != $validWant (blank-dropped)"
    if (o.survivors != b.fresh.size) bad += s"survivors ${o.survivors} != ${b.fresh.size}"
    if (o.committed.contains(false)) bad += s"append committed ${o.committed}"
    if (o.psiRows != 5) bad += s"psi rows ${o.psiRows} != 5"
    if (bad.result().isEmpty) appended ++= b.fresh
    if (i >= 0) {
      entering += b.fresh.size + b.nearDups
      surviving += o.survivors
      compactions += o.compacted.size
      timedOps += 1
    }
    lastFresh = b.fresh
    println(s"crawl op $i: compacted ${o.compacted.mkString(",")}")
    OpResult(dt, b.lines.size.toLong, bad.result())
  }

  override def between(i: Int): Seq[String] = {
    val probes = lastFresh.take(2) ++ corpus.hist.slice(i.abs * 2, i.abs * 2 + 2)
    val t0 = System.nanoTime()
    val missing = t.op("serve", i.toLong)(stores.serve(probes))
    if (i >= 0) serveLat += (System.nanoTime() - t0) / 1e9
    missing.map(id => s"bm25 serve: doc $id not in its own query's top 5")
  }

  override def finish(): Seq[String] = stores.audit(s.histDocs.toLong, appended.toSeq)

  override def extraLayers(): Map[String, Double] = {
    val storeBytes = graft.ext.StoreFiles.dataBytesRecursive(spark, stores.root)
    Map("serve_p50_s" -> Stats.median(serveLat.toSeq),
      "store_bytes_per_input_byte" -> storeBytes.toDouble / inputBytes,
      "ext.store.live_files" -> stores.liveFiles().toDouble,
      "ext.compact.runs" -> compactions.toDouble / math.max(timedOps, 1),
      "ext.minhash.survivor_frac" -> surviving.toDouble / math.max(entering, 1L))
  }
}
