package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.ext
import graft.schema.{ColumnSchema, DataFrameSchema}

/** Seeded crawl corpus: a historical corpus the stores are built from, and
  * nightly JSONL batches that mix fresh documents, exact re-crawls,
  * near-duplicate re-crawls, blank texts and corrupt lines. Texts draw
  * tokens uniformly from a seeded vocabulary, so two independent texts
  * share almost no 3-token shingles while a near-duplicate (its source
  * plus one token) keeps a Jaccard similarity above 0.95. Re-crawl sources
  * are drawn from the historical corpus and from every earlier batch's
  * fresh documents, so each batch also checks the previous appends. */
final class CrawlCorpus(seed: Long, histDocs: Int) {
  private val rnd = new scala.util.Random(seed)
  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000)
      seen += Seq.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  private def text(r: scala.util.Random): String =
    Seq.fill(30 + r.nextInt(30))(vocab(r.nextInt(vocab.length))).mkString(" ")

  val hist: IndexedSeq[(Long, String)] =
    (1 to histDocs).map(i => (i.toLong, text(rnd)))
  private val known = mutable.ArrayBuffer.empty[(Long, String)] ++= hist

  final case class Batch(lines: Seq[String], fresh: Seq[(Long, String)],
      nearDups: Int, blanks: Int, corrupt: Int)

  private def json(id: Long, t: String) = s"""{"id": $id, "text": "$t"}"""

  /** Batch `index` (0-based; batches must be taken in order): `size` lines,
    * half fresh and the rest split between the four other kinds. */
  def batch(index: Int, size: Int): Batch = {
    val r = new scala.util.Random(seed * 1000003L + index)
    val base = 10000000L * (index + 1)
    val kindsOf = Seq.tabulate(size)(i =>
      if (i % 2 == 0) 0 else 1 + ((i / 2) % 4)).toIndexedSeq
    val fresh = mutable.ArrayBuffer.empty[(Long, String)]
    val lines = kindsOf.zipWithIndex.map { case (kind, i) =>
      val id = base + i
      kind match {
        case 0 => val t = text(r); fresh += (id -> t); json(id, t)
        case 1 => json(id, known(r.nextInt(known.size))._2)
        case 2 => json(id, known(r.nextInt(known.size))._2 + " " +
          vocab(r.nextInt(vocab.length)))
        case 3 => json(id, "   ")
        case _ => s"""{"id": $id, "text": "broken"""
      }
    }
    known ++= fresh
    Batch(r.shuffle(lines), fresh.toSeq, kindsOf.count(_ == 2),
      kindsOf.count(_ == 3), kindsOf.count(_ == 4))
  }
}

/** The nightly pipeline over the six persisted stores, driven only through
  * the library's public functions. */
final class CrawlStores(spark: SparkSession, dir: Path, t: Tracer) {
  val root: String = dir.toString
  val fp = s"$root/fp"; val mh = s"$root/mh"; val bm = s"$root/bm"
  val ann = s"$root/ann"; val sk = s"$root/sk"; val led = s"$root/led"
  val prof = s"$root/profile.json"
  val Tag = "night"
  private var minhashFilesMax = 0

  val schema: DataFrameSchema = DataFrameSchema(
    "id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
    "text" -> ColumnSchema(Some(StringType),
      Seq(graft.checks.ColumnCheck("text_nonblank", c => length(trim(c)) > 0)),
      nullable = false)).copy(dropInvalidRows = true)
  private val ledgerSchema = DataFrameSchema(
    "id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
    "text" -> ColumnSchema(Some(StringType), Nil, nullable = false),
    "ds" -> ColumnSchema.of(StringType))

  private def embed(df: DataFrame): DataFrame = df.select(col("id").as("doc_id"),
    ext.TextAnalysis.hashVector(col("text"), 64).as("emb"))
  private def sketch(df: DataFrame): DataFrame = ext.SketchStore.distinctSketch(
    df.select(pmod(col("id"), lit(4L)).as("shard"), col("id")), Seq("shard"), "id")
  private def tokCount(df: DataFrame): DataFrame =
    df.select(ext.TextAnalysis.tokenCount(col("text")).cast("double").as("tok_cnt"))

  /** Build all six stores and the drift profile from the historical
    * corpus (a parquet file of (id, text)). */
  def build(histPath: String): Unit = {
    val hist = spark.read.parquet(histPath)
    ext.FingerprintStore.build(hist, "text", fp)
    ext.Dedup.buildMinHashStore(hist, "id", "text", mh)
    ext.Retrieval.buildIndex(hist, "id", "text", bm)
    val he = embed(hist)
    ext.AnnStore.create(he, "doc_id", "emb",
      ext.Similarity.trainIvf(he, "doc_id", "emb", nCentroids = 8), ann)
    ext.SketchStore.append(sketch(hist), sk, "hist")
    ext.ValidationLedger.validateIncrement(ledgerSchema,
      hist.withColumn("ds", lit("hist")), "ds", led, "hist").collect()
    ext.DriftProfile.fit(tokCount(hist), numericCols = Seq("tok_cnt"), bins = 5)
      .save(prof)
    minhashFilesMax = 0
  }

  final case class Outcome(quarantined: Long, valid: Long, survivors: Long,
      committed: Seq[Boolean], compacted: Seq[String], psiRows: Long)

  /** One nightly batch, steps in pipeline order. */
  def ingest(jsonl: String, batchId: Long): Outcome = {
    // the quarantine and valid-row counts are the first actions on the
    // read, so the JSON parse runs inside this span
    val (valid, quarantined, validRows) = t.span("io.read_quarantined") {
      val (res, bad) = graft.io.ValidatedIO.readQuarantined(spark, schema, jsonl, "json")
      val v = res.data.select(col("id"), col("text"))
      (v, bad.count(), v.count())
    }
    val afterExact = t.span("ext.fingerprint.scrub")(
      ext.FingerprintStore.scrub(valid, "text", fp))
    val survivors = t.span("ext.minhash.scrub")(ext.Dedup
      .dropExistingNearDupStore(afterExact, "id", "text", mh)
      .localCheckpoint(eager = true))
    val n = survivors.count()
    val ds = s"n$batchId"
    val committed = Seq(
      t.span("ext.fingerprint.append")(
        ext.FingerprintStore.appendBatch(survivors, "text", fp, Tag, batchId)),
      t.span("ext.minhash.append")(ext.Dedup.appendBatchToMinHashStore(
        survivors, "id", "text", mh, Tag, batchId)),
      t.span("ext.bm25.append")(ext.Retrieval.appendBatchToIndex(
        survivors, "id", "text", bm, Tag, batchId)),
      t.span("ext.ann.append")(ext.AnnStore.appendBatch(
        embed(survivors), "doc_id", "emb", ann, Tag, batchId)),
      t.span("ext.sketch.append")(ext.SketchStore.appendBatch(
        sketch(survivors), sk, ds, Tag, batchId)),
      t.span("ext.ledger.append")(ext.ValidationLedger.validateIncrementBatch(
        ledgerSchema, survivors.withColumn("ds", lit(ds)), "ds", led, ds,
        Tag, batchId, candidates = Some(Seq(ds))).collect().nonEmpty))
    def compact(f: => Boolean): Boolean = t.span("ext.compact")(f)
    // thresholds low enough that every store compacts within the first
    // two batches of a run: the four threshold-driven stores compact when
    // a second batch's files or generation land on the built store (odd
    // batches), the sketch store and the ledger, which have no threshold
    // helper, on even batches
    if (minhashFilesMax == 0) // the file count of the built store plus one batch
      minhashFilesMax = ext.Dedup.minhashStoreFileCount(spark, mh)
    val compactions = Seq(
      "fingerprint" -> compact(ext.FingerprintStore.compactIfNeeded(spark, fp, maxGens = 2)),
      "minhash" -> compact(ext.Dedup.compactMinHashStoreIfNeeded(spark, mh,
        maxFiles = minhashFilesMax)),
      "bm25" -> compact(ext.Retrieval.compactIndexIfNeeded(spark, bm, maxGens = 2)),
      "ann" -> compact(ext.AnnStore.compactCodesIfNeeded(spark, ann, maxGens = 2)),
      "sketch" -> compact(batchId % 2 == 0 && { ext.SketchStore.compact(spark, sk); true }),
      "ledger" -> compact(batchId % 2 == 0 && {
        ext.ValidationLedger.compact(spark, led); true })
    ).collect { case (store, true) => store }
    val np = ext.DriftProfile.load(prof).numericFor("tok_cnt")
    val psiRows = t.span("ext.drift.psi")(ext.Drift.psiAgainstProfile(
      tokCount(survivors), "tok_cnt", np.edges, np.fracs).collect().length)
    t.span("spark.clear_cache")(spark.catalog.clearCache())
    Outcome(quarantined, validRows, n, committed, compactions, psiRows)
  }

  /** Narrow BM25 serve: the first tokens of each probe document as the
    * query. Returns the probe ids missing from their own query's top 5. */
  def serve(probes: Seq[(Long, String)]): Seq[Long] = {
    import spark.implicits._
    val q = probes.map { case (id, txt) => (id, txt.split(" ").take(6).mkString(" ")) }
      .toDF("qid", "qtext")
    val hits = t.span("ext.bm25.serve")(ext.Retrieval.bm25TopKFromIndex(
      spark, bm, q, "qid", "qtext", k = 5).select("query_id", "doc_id").collect())
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong)).toSet
    probes.map(_._1).filterNot(id => hits.contains(id -> id))
  }

  /** End-of-run audit through public counters and serves: every store
    * holds exactly the historical corpus plus the survivors appended.
    * Returns the mismatches. */
  def audit(histRows: Long, appended: Seq[(Long, String)]): Seq[String] = {
    import spark.implicits._
    val want = histRows + appended.size
    val bad = Seq.newBuilder[String]
    val bmDocs = ext.Retrieval.indexStats(spark, bm)("n_docs")
    if (bmDocs != want) bad += s"bm25 n_docs $bmDocs != $want"
    val annRows = ext.AnnStore.codes(spark, ann).count()
    if (annRows != want) bad += s"ann rows $annRows != $want"
    val skRows = ext.SketchStore.rows(spark, sk).agg(sum("n_rows")).head().getLong(0)
    if (skRows != want) bad += s"sketch n_rows $skRows != $want"
    val ledRows = ext.ValidationLedger.rows(spark, led).agg(sum("n_rows")).head().getLong(0)
    if (ledRows != want) bad += s"ledger n_rows $ledRows != $want"
    if (appended.nonEmpty) {
      val df = appended.toDF("id", "text")
      val fpLeft = ext.FingerprintStore.scrub(df, "text", fp).count()
      if (fpLeft != 0) bad += s"fingerprint store misses $fpLeft appended texts"
      val mhLeft = ext.Dedup.dropExistingNearDupStore(df, "id", "text", mh).count()
      if (mhLeft != 0) bad += s"minhash store misses $mhLeft appended texts"
    }
    bad.result()
  }

  def liveFiles(): Long = ext.FingerprintStore.liveFileCount(spark, fp) +
    ext.Dedup.minhashStoreFileCount(spark, mh) +
    ext.Retrieval.liveFileCount(spark, bm) +
    ext.AnnStore.liveCodeFileCount(spark, ann) +
    ext.SketchStore.liveFileCount(spark, sk)
}

object CrawlCorpus {
  def writeLines(dir: Path, lines: Seq[String]): Long = {
    Files.createDirectories(dir)
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(dir.resolve("part-0.jsonl"), bytes)
    bytes.length.toLong
  }
}
