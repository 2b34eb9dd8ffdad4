package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted EXACT-duplicate membership store — the exact-dedup sibling of
  * the MinHash store and the missing half of
  * [[Dedup.corpusFingerprintBloom]]'s "persist with writeTo between runs"
  * contract. The corpus reduces ONCE to
  *
  *   - `manifest.json` the store's single source of truth: filter geometry
  *                     (expectedItems, fpp), committed fps GENERATIONS,
  *                     per-stream high-water marks, cooling ledger —
  *                     replaced atomically, so every crash window leaves a
  *                     servable store (the shared [[GenerationLog]]),
  *   - `fps/<gen>/`    parquet of distinct 64-bit normalized-text
  *                     fingerprints (the exact membership set — 8
  *                     bytes/doc, ~0.1% of corpus text bytes), one
  *                     generation per build/append/compaction,
  *   - `bloom.bin`     a Bloom filter over those fingerprints
  *                     (`BloomFilter.writeTo`, atomic tmp+rename), the
  *                     cheap prefilter.
  *
  * Every later crawl batch scrubs against the store without reading any
  * corpus text: the loaded filter drops almost everything new executor-
  * side, the few candidate fingerprints join the stored fps parquet for
  * EXACT confirmation (Bloom false positives cannot drop a fresh doc),
  * and the confirmed set anti-joins the batch.
  *
  * Visibility contract (why the manifest is strictly stronger than the
  * v1 bloom-first write order): an append writes its generation dir
  * (invisible — no manifest lists it), then the merged filter, then ONE
  * atomic manifest replace publishes the generation. Crash after the gen
  * write → orphan dir, GC'd by the next compact; crash after the bloom
  * write → superset filter (extra candidates confirm against committed
  * fps and are kept — correct); there is NO window where a committed
  * fingerprint is missing from the filter, which is the invariant the
  * bloom-miss short-circuit in [[scrub]] relies on. Streaming ingest gets
  * the same per-tag high-water marks as the BM25/ANN stores, so
  * foreachBatch's at-least-once re-deliveries are exactly-once. */
object FingerprintStore {

  private def fp(textCol: String) =
    TextAnalysis.fingerprint64(col("`" + textCol.replace("`", "``") + "`"))

  private def bloomPath(path: String) = s"$path/bloom.bin"
  private def fpsRoot(path: String) = s"$path/fps"
  private def genPath(path: String, gen: String) = s"$path/fps/$gen"

  /** Payload keys `expected_items` / `fpp` (the filter geometry);
    * `tombs` are retraction generations — see [[retract]]. */
  private def genLog(path: String) = GenerationLog(s"$path/manifest.json",
    "graft-fingerprint-store", 2, s"fingerprint store at $path",
    Seq(fpsRoot(path)), Some(s"$path/tombs"))

  /** The committed fingerprints: the union of the committed generations
    * (retractions NOT yet applied — see [[liveFps]]). */
  private def fpsDf(spark: SparkSession, path: String,
      m: GenerationLog.Manifest): DataFrame = {
    require(m.gens.nonEmpty, s"fingerprint store at $path has no fps")
    m.gens.map(g => spark.read.parquet(genPath(path, g)))
      .reduce(_.unionByName(_))
  }

  /** The live retracted fingerprints as a one-column `fp` frame, or None
    * when the store has none. Broadcast-small by contract (enforced at
    * [[retract]]). */
  private def tombstoneFps(spark: SparkSession, path: String,
      m: GenerationLog.Manifest): Option[DataFrame] = {
    if (m.tombs.isEmpty) None
    else {
      val f = StoreFiles.fs(spark, path)
      m.tombs.foreach(g => require(
        f.exists(new org.apache.hadoop.fs.Path(s"$path/tombs/$g")),
        s"fingerprint store at $path lost committed retraction generation $g"))
      Some(m.tombs.map(g => spark.read.parquet(s"$path/tombs/$g"))
        .reduce(_.unionByName(_)).select("fp").distinct())
    }
  }

  /** The live membership set: committed fingerprints minus live
    * retractions — what every scrub confirms against. */
  private def liveFps(spark: SparkSession, path: String,
      m: GenerationLog.Manifest): DataFrame = {
    val base = fpsDf(spark, path, m)
    tombstoneFps(spark, path, m).fold(base) { t =>
      base.join(broadcast(t), Seq("fp"), "left_anti") }
  }

  /** Number of live retracted fingerprints (0 after [[compact]] retires
    * them) — the audit counter for retraction verification. */
  def retractionCount(spark: SparkSession, path: String): Long = {
    tombstoneFps(spark, path, genLog(path).read(spark)).fold(0L)(_.count())
  }

  /** Retract documents' membership from the store — the takedown path
    * for EXACT dedup (content removed from the training corpus must stop
    * suppressing future crawls of the same text). The distinct
    * fingerprints of `docs`' normalized text are written as ONE
    * manifest-governed generation under `tombs/` and published by the
    * same atomic manifest flip as appends. Effects:
    *
    *   - '''immediate''': [[scrub]] (and the streaming twin) confirms
    *     candidates against the membership set MINUS live retractions,
    *     so a re-crawled copy of retracted content passes through the
    *     moment the manifest lands. The Bloom prefilter still contains
    *     the retracted fingerprints until compaction rebuilds it — a
    *     prefilter false-positive only costs a confirm, never drops a
    *     doc (the store's standing FP contract).
    *   - '''physical''': [[compact]] drops retracted fingerprints from
    *     the rewritten generation, rebuilds the filter from the scrubbed
    *     set, and retires the retractions.
    *   - '''store-wide until retired''': the anti-join is by fingerprint
    *     across ALL generations, so re-appending the same text stays
    *     retracted until a compaction retires the tombstone —
    *     retract→re-add must compact in between.
    *
    * Unknown texts are fine; a NULL text refuses loudly (it fingerprints
    * to a null fp that would be inert in the anti-join yet count toward
    * the cap and the returned n — a caller asserting n > 0 would see a
    * false success; r14 ADVICE). The broadcast-small contract is enforced
    * via `graft.fpstore.maxTombstones` (default 10M — past it, compact
    * first). Returns the number of retraction fingerprints written (0 =
    * empty input, nothing committed). Single-writer contract.
    *
    * Thin adapter over [[StoreFiles.commitTombstones]] (r15, verdict #5:
    * one implementation of the distinct → null-check → cap → flip shape
    * across all four takedown stores). */
  def retract(docs: DataFrame, textCol: String, path: String): Long =
    commitRetraction(docs, textCol, path, None)

  /** The streaming twin of [[retract]] (r16 — completes the takedown
    * side's exactly-once family alongside `Retrieval.deleteDocsBatch` /
    * `AnnStore.deleteBatch`, enabling crash-resumable takedown
    * COMPOSITIONS): `(streamTag, batchId)` names the tombstone
    * generation `<tag>-b<id>` and the manifest's per-tag high-water mark
    * makes at-least-once redeliveries no-ops (returns 0; an empty batch
    * still advances its mark). Marks share the appends' per-tag map — a
    * tag is 1:1 with one stream's checkpoint, so a takedown stream uses
    * its own tag. */
  def retractBatch(docs: DataFrame, textCol: String, path: String,
      streamTag: String, batchId: Long): Long = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitRetraction(docs, textCol, path, Some((streamTag, batchId)))
  }

  /** foreachBatch writer for a takedown stream — each micro-batch of
    * documents retracts through [[retractBatch]] (the
    * `Retrieval.deleteWriter` shape). */
  def retractWriter(stream: DataFrame, textCol: String, path: String,
      streamTag: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    StoreFiles.requireStreamTag(streamTag) // fail at construction
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      retractBatch(batch, textCol, path, streamTag, id): Unit
    }
  }

  private def commitRetraction(docs: DataFrame, textCol: String,
      path: String, stream: Option[(String, Long)]): Long = {
    // a null text must surface as a null fp for the shared null check:
    // xxhash64 hashes a null input to the SEED (non-null 42), which would
    // silently retract a phantom fingerprint instead of refusing
    val tcol = col("`" + textCol.replace("`", "``") + "`")
    val fps = docs.select(when(tcol.isNull, lit(null).cast("long"))
      .otherwise(fp(textCol)).as("fp"))
    genLog(path).commitTombstones(fps, "fp", stream,
      "graft.fpstore.maxTombstones", "FingerprintStore.retract", "compact()")
  }

  /** Build the store from a corpus: one scan to distinct fingerprints
    * (written as generation g0), one driver-side filter build over that
    * bounded frame, one manifest publish. `expectedItems` sizes the
    * filter for FUTURE growth — size it for the corpus you expect after
    * appends (default: 4× the current distinct count). */
  def build(corpus: DataFrame, textCol: String, path: String,
      expectedItems: Long = 0L, fpp: Double = 0.01): Unit = {
    val spark = corpus.sparkSession
    val f = StoreFiles.fs(spark, path)
    require(!genLog(path).exists(spark),
      s"fingerprint store already exists at $path")
    // fps data without a manifest (a pre-manifest store, or a lost
    // manifest) must not be silently SHADOWED by a fresh build — its
    // membership would vanish from every future scrub with no error
    require(!f.exists(new org.apache.hadoop.fs.Path(fpsRoot(path))),
      s"$path already holds fps data without a manifest (a pre-manifest " +
        "layout, which is not supported, or a lost manifest) — remove it " +
        "before building")
    val fps = corpus.select(fp(textCol).as("fp")).distinct()
    fps.write.mode("errorifexists").parquet(genPath(path, "g0"))
    val stored = spark.read.parquet(genPath(path, "g0"))
    val n = stored.count()
    val items = if (expectedItems > 0) expectedItems else math.max(4L * n, 1024L)
    writeBloomAtomic(spark, stored.stat.bloomFilter("fp", items, fpp), path)
    genLog(path).write(spark, GenerationLog.Manifest(Seq("g0"))
      .set("expected_items" -> items, "fpp" -> fpp))
  }

  /** Append a batch: its NEW distinct fingerprints land as one committed
    * generation, a bit-compatible increment filter ORs into the stored
    * one (identical geometry from the manifest — O(increment) + the
    * filter bits, NOT a rescan of the whole fps table per crawl; past
    * `build`'s sizing the fpp degrades gracefully, correctness never
    * depends on the filter), and one atomic manifest replace publishes
    * files + filter together. */
  def append(batch: DataFrame, textCol: String, path: String): Unit =
    commitGen(batch, textCol, path, None): Unit

  /** The streaming twin of [[append]] (the BM25/ANN store shape):
    * `(streamTag, batchId)` names the generation `<tag>-b<id>` and the
    * manifest's per-tag high-water mark makes foreachBatch's
    * at-least-once re-deliveries exactly-once — a batch at or below the
    * mark no-ops (returns false) even if its generation was since
    * compacted away. The tag must be 1:1 with the stream's CHECKPOINT. */
  def appendBatch(batch: DataFrame, textCol: String, path: String,
      streamTag: String, batchId: Long): Boolean = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitGen(batch, textCol, path, Some((streamTag, batchId)))
  }

  private def commitGen(batch: DataFrame, textCol: String, path: String,
      stream: Option[(String, Long)]): Boolean = {
    val spark = batch.sparkSession
    val lg = genLog(path)
    val m0 = lg.read(spark)
    if (m0.redelivered(stream)) return false
    val gen = lg.nextGen(spark, m0, stream)
    val fresh = batch.select(fp(textCol).as("fp")).distinct()
      .join(fpsDf(spark, path, m0), Seq("fp"), "left_anti")
    // overwrite, not errorifexists: the target is either fresh or an
    // ORPHAN from a crashed attempt at this same generation (the manifest
    // never listed it) — the retry reclaims it
    fresh.write.mode("overwrite").parquet(genPath(path, gen))
    // row-presence, not file-presence: an all-duplicates batch writes a
    // schema-only empty part file that must not commit as a generation
    val genDf =
      if (StoreFiles.dataFileCountRecursive(spark, genPath(path, gen)) > 0)
        Some(spark.read.parquet(genPath(path, gen)))
      else None
    if (!genDf.exists(!_.isEmpty)) {
      StoreFiles.fs(spark, path).delete(
        new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
      return lg.publish(spark, m0, stream, None)
    }
    // bloom BEFORE manifest: a crash between leaves a superset filter
    // (correct); the gen dir itself is invisible until the manifest flip
    val inc = genDf.get.stat.bloomFilter("fp", m0.long("expected_items"),
      m0.double("fpp"))
    writeBloomAtomic(spark, loadBloom(spark, path).mergeInPlace(inc), path)
    lg.publish(spark, m0, stream, Some(m0.copy(gens = m0.gens :+ gen)))
  }

  /** Scrub a batch against the store: drop every row whose normalized
    * text the store has seen. Corpus text is never read — the filter
    * prefilters executor-side, candidates confirm EXACTLY against the
    * stored fingerprints (batch-bounded broadcast both ways). */
  def scrub(incoming: DataFrame, textCol: String, path: String): DataFrame = {
    val spark = incoming.sparkSession
    val m = genLog(path).read(spark)
    val bc = spark.sparkContext.broadcast(loadBloom(spark, path))
    val fpIn = fp(textCol)
    // native codegen'd probe (r9): the prefilter sits on the full-width
    // ingest scan, so a ScalaUDF here would break whole-stage codegen on
    // exactly the scan it exists to keep cheap
    val maybe = incoming
      .filter(graft.functions.BloomMightContain(bc, fpIn))
      .select(fpIn.as("fp")).distinct()
    // qualified column, not a bare col("fp"): an incoming frame with its
    // own `fp` column would otherwise make the condition ambiguous.
    // liveFps: retracted membership (r14) never confirms — a bloom hit
    // on retracted content only costs this confirm, never a drop
    val confirmed = liveFps(spark, path, m)
      .join(broadcast(maybe), Seq("fp"), "left_semi").distinct()
    incoming.join(broadcast(confirmed), fpIn === confirmed("fp"), "left_anti")
  }

  /** Streaming form of [[scrub]]: every micro-batch of an ingest stream
    * is scrubbed against the PERSISTED store before reaching the sink —
    * the filter binary loads and broadcasts ONCE when the writer is
    * built; each batch pays only its own prefilter plus a candidate-
    * bounded confirm join against the fps parquet. The store is the only
    * corpus artifact the streaming job ever opens. */
  def scrubWriter(stream: DataFrame, textCol: String, path: String)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = stream.sparkSession
    genLog(path).read(spark): Unit // fail at construction, not batch 0
    val bc = spark.sparkContext.broadcast(loadBloom(spark, path))
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // manifest re-read PER BATCH (r12 review): compactions sweep the
      // generation dirs a construction-time manifest pins once the grace
      // window passes — a long-running stream must follow the flips. The
      // FILTER stays the construction-time one (same as v1, where the
      // binary loaded once): a bloom miss short-circuits, so membership
      // appended after the writer started is not scrubbed until restart —
      // compaction, by contrast, is membership-preserving and transparent.
      val m = genLog(path).read(spark)
      val fpIn = fp(textCol)
      val maybe = batch
        .filter(graft.functions.BloomMightContain(bc, fpIn))
        .select(fpIn.as("fp")).distinct()
      // liveFps (r14): the per-batch manifest re-read means retractions
      // committed mid-stream apply from the next batch on
      val confirmed = liveFps(spark, path, m)
        .join(broadcast(maybe), Seq("fp"), "left_semi").distinct()
      sink(batch.join(broadcast(confirmed), fpIn === confirmed("fp"),
        "left_anti"), id)
    }
  }

  /** Batch ≡ streaming proof harness for [[scrubWriter]] (the store
    * sibling of StreamingValidation.scrubReplay): replay a static batch
    * as file-source micro-batches, scrub each against the store, return
    * the union the sink received. Each row's verdict is a pure function
    * of (row, store), so the union across ANY micro-batch split equals
    * the batch [[scrub]] — gated against the same oracle. */
  def scrubReplay(incoming: DataFrame, textCol: String, path: String,
      numFiles: Int = 6, outputRoot: String = ""): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = incoming.sparkSession
    // shared replay hygiene (r18 hunt: like AsOfJoin.enrichReplay, this
    // harness predated the r17 cleanup — table copy + checkpoint +
    // output leaked per invocation, failed queries never stopped)
    val dir = graft.streaming.StreamingValidation
      .replayRoot("graft_fpstore_replay_", outputRoot)
    val (inDir, outDir) = (s"$dir/in", s"$dir/out")
    incoming.repartition(numFiles).write.parquet(inDir)
    val stream = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.StreamingValidation.runReplayOn(dir, outputRoot,
        inDir, s"$dir/ck")(
      scrubWriter(stream, textCol, path) { (kept, _) =>
        kept.write.mode("append").parquet(outDir)
      }.option("checkpointLocation", s"$dir/ck")
        .trigger(Trigger.AvailableNow()).start())
    spark.read.parquet(outDir)
  }

  /** Data files the CURRENT manifest lists — the store's live footprint
    * (compaction gates assert on this; raw directory walks also see
    * crash orphans and still-cooling superseded generations). */
  def liveFileCount(spark: SparkSession, path: String): Long =
    liveFileCount(spark, path, genLog(path).read(spark))

  /** Snapshot-taking twin — the cadence counts from the SAME manifest
    * read its other legs use (r17 fourth-pass review: the sibling
    * cadences had solved the one-read-vs-one-implementation tension in
    * opposite ways; this shape gives both). */
  private def liveFileCount(spark: SparkSession, path: String,
      m: GenerationLog.Manifest): Long =
    m.gens.map(g =>
      StoreFiles.dataFileCountRecursive(spark, genPath(path, g)).toLong).sum

  /** Cadence wrapper over [[compact]] (r17 — completes the cadence
    * family across ALL FOUR crawl-appended stores: the MinHash/BM25/ANN
    * cadences landed r16, and the fingerprint store takes the same
    * nightly `appendBatch` and fragments identically). Compacts when the
    * manifest lists more than `maxGens` generations or `maxLiveFiles`
    * live data files (the small-files growth face), or — the
    * erasure-deadline face — when live tombstone ROWS exceed
    * `maxTombstoneRows` (0 heals on the first call after any takedown;
    * the default -1 keeps the growth-only policy). Returns true when a
    * compaction ran. Cost per no-op call: one manifest read, file
    * listings over the live generations, and footer row counts over the
    * tombstone generations — zero Spark jobs. A manifest-listed
    * tombstone generation missing on disk refuses loudly (damaged
    * store), mirroring the commit path. */
  def compactIfNeeded(spark: SparkSession, path: String,
      maxGens: Int = 16, maxLiveFiles: Long = 512,
      maxTombstoneRows: Long = -1L): Boolean = {
    val m = genLog(path).read(spark)
    def liveFiles = liveFileCount(spark, path, m)
    def tombRows = StoreFiles.committedTombstoneRows(spark,
      s"$path/tombs", m.tombs, "compactIfNeeded")
    val due = m.gens.size > maxGens || liveFiles > maxLiveFiles ||
      (maxTombstoneRows >= 0L && tombRows > maxTombstoneRows)
    if (due) compact(spark, path)
    due
  }

  /** Compact the store after N appends: the accumulated generations
    * rewrite into ONE size-targeted generation (default ~128 MB files)
    * and the Bloom filter rebuilds from the compacted set — membership is
    * UNCHANGED (compaction gate asserts scrub hash-identity), only the
    * file count collapses. Optional `expectedItems`/`fpp` re-size the
    * filter geometry (the escape from a saturating filter after growth
    * past `build`'s sizing); 0 keeps the manifest's geometry — the
    * geometry lands in the SAME manifest flip as the generation list, so
    * there is no separate meta crash window (a crash between the bloom
    * write and the flip leaves a new-geometry filter under an
    * old-geometry manifest; the next append's `mergeInPlace` then fails
    * LOUDLY rather than corrupting — re-run compact to heal). Publishes
    * by the same atomic manifest flip as appends; superseded generations
    * cool for `graft.store.gcGraceMs` (default 15 min) before the sweep
    * so lock-free serves survive back-to-back compactions; crash orphans
    * (never in any manifest) delete immediately. Stream marks survive. */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 0,
      expectedItems: Long = 0L, fpp: Double = 0.0): Unit = {
    val lg = genLog(path)
    val m0 = lg.read(spark)
    val nItems = if (expectedItems > 0) expectedItems
      else m0.long("expected_items")
    val nFpp = if (fpp > 0) fpp else m0.double("fpp")
    val liveBytes = m0.gens.map(g =>
      StoreFiles.dataBytesRecursive(spark, genPath(path, g))).sum
    val nf = if (targetFiles > 0) targetFiles
      else StoreFiles.targetFileCount(liveBytes)
    val gen = lg.nextGen(spark, m0, None)
    // distinct is a no-op by the append contract (anti-joined before
    // write) — kept as cheap insurance so a crashed half-append can
    // never make compaction amplify duplicates. repartition, not
    // coalesce: coalesce would fold distinct's reduce side to nf tasks.
    // liveFps (r14): retracted fingerprints drop from the rewritten
    // generation — compaction is the physical-erasure point, and the
    // filter rebuild below reads the scrubbed set so the prefilter heals
    // in the same pass. Crash window (scrubbed bloom written, manifest
    // flip not yet): the filter now MISSES the retracted fps while the
    // old generations still hold them — safe, because the tombstones are
    // still in the old manifest and keep masking exactly those fps; for
    // every live fp the invariant (committed ⇒ in filter) holds as
    // before. Re-running compact completes the job.
    liveFps(spark, path, m0).distinct()
      .repartition(nf).write.mode("overwrite").parquet(genPath(path, gen))
    val emptied =
      StoreFiles.parquetRowsWritten(spark, genPath(path, gen)) == 0L
    val bloom =
      if (emptied) {
        // a fully-retracted store: geometry-valid filter over nothing
        // (the empty gen dir is removed; gens=Nil makes reads refuse
        // loudly rather than infer a schema-less dir)
        StoreFiles.fs(spark, path)
          .delete(new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
        spark.range(0).select(org.apache.spark.sql.functions.lit(0L).as("fp"))
          .stat.bloomFilter("fp", math.max(nItems, 1L), nFpp)
      } else spark.read.parquet(genPath(path, gen))
        .stat.bloomFilter("fp", nItems, nFpp)
    writeBloomAtomic(spark, bloom, path)
    // retired retraction generations cool under the same grace window
    lg.compact(spark, m0, if (emptied) None else Some(gen))(
      _.set("expected_items" -> nItems, "fpp" -> nFpp))
  }

  def loadBloom(spark: SparkSession, path: String): BloomFilter = {
    val in = StoreFiles.fs(spark, path)
      .open(new org.apache.hadoop.fs.Path(bloomPath(path)))
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Atomic filter replace (tmp + rename via the shared
    * [[StoreFiles.writeBytesAtomic]]): a v1-style in-place truncate could
    * leave a corrupt half-written binary on a crash mid-write. */
  private def writeBloomAtomic(spark: SparkSession, bloom: BloomFilter,
      path: String): Unit =
    StoreFiles.writeBytesAtomic(spark, bloomPath(path))(bloom.writeTo(_): Unit)
}
