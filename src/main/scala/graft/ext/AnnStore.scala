package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned, migratable deployment wrapper around a persisted ANN index —
  * the LIFECYCLE half of the train-once/encode-once story ([[AnnIndex]] +
  * [[Similarity.encodeAndWritePartitioned]] cover the build; this covers
  * what a team operating the store against a LIVE corpus needs next):
  *
  *   - '''recall monitoring''': build-time recall asserts say nothing
  *     about a store six months of corpus drift later — the quantizers
  *     were trained on the OLD distribution, so appended batches land in
  *     ill-fitting cells and serve recall decays silently.
  *     [[recallProbe]] measures recall@k of the PERSISTED store against
  *     brute force on a bounded query sample — cheap enough to run per
  *     crawl batch, and the trigger for…
  *   - '''migration''': [[migrate]] re-encodes the corpus against a newly
  *     trained index into a NEW version directory alongside the live one,
  *     then flips an atomic `current.json` pointer. Serves read whichever
  *     version the pointer names — a reader mid-migration sees the old
  *     store in full, never a mix; a crash before the flip leaves the old
  *     version live and the half-written one invisible (re-run to heal).
  *   - '''takedown''' (r14): [[delete]] tombstones ids (retention policy,
  *     right-to-be-forgotten) — serves stop returning them immediately
  *     with zero code bytes rewritten; [[compactCodes]] is the physical
  *     erasure point; [[migrate]] carries the exclusion, so a re-index
  *     cannot resurrect them.
  *
  * Layout under `path` (r11: the codes side adopted the BM25 store's
  * manifest-governed generations — see [[Retrieval]] — closing the one
  * crash window the r10 marker scheme left open):
  * {{{
  *   current.json            {"format":"graft-ann-store","current":N}
  *   v1/index.json           quantizers (AnnIndex JSON)
  *   v1/codes-manifest.json  {gens:[…], marks:{tag:batchId}, cooling:{…}}
  *   v1/codes/<gen>/cell=C/  cell-partitioned parquet codes, one dir per
  *                           committed batch generation
  *   v2/...                  next version, created by migrate()
  * }}}
  *
  * Codes visibility is MANIFEST-GOVERNED: an append writes its generation
  * dir first and then atomically replaces codes-manifest.json. A crash in
  * between leaves an orphan dir no reader ever lists, and the streaming
  * replay of that batch overwrites the orphan before the one manifest
  * flip — there is no window in which a replay can duplicate codes (the
  * r10 `_batches` marker landed AFTER the append and had exactly that
  * window). Per-tag high-water `marks` survive compaction, so replays of
  * long-gone batches still no-op. Single-writer contract per version;
  * serves are lock-free.
  *
  * The pointer flip is `Files.move(..., ATOMIC_MOVE)` of a sibling temp
  * file — atomic on POSIX and HDFS-style stores; object stores fall back
  * to copy-then-replace of a KB-sized file, the narrowest practical
  * window. */
object AnnStore {

  private def currentPath(path: String) = s"$path/current.json"
  private def indexPath(path: String, v: Int) = s"$path/v$v/index.json"
  private def codesPath(path: String, v: Int) = s"$path/v$v/codes"
  private def tombsPath(path: String, v: Int) = s"$path/v$v/tombs"

  /** The codes side of version `v` on the shared [[GenerationLog]];
    * `tombs` are tombstone-delete generations — see [[delete]]. */
  private def genLog(path: String, v: Int) = GenerationLog(
    s"$path/v$v/codes-manifest.json", "graft-ann-codes", 1,
    s"ANN store at $path v$v", Seq(codesPath(path, v)),
    Some(tombsPath(path, v)))

  /** The live version number named by the pointer. All metadata IO rides
    * the Hadoop FS (r9 review fix) so the store works on local disk,
    * HDFS and object-store connectors alike — the codes already did. */
  def currentVersion(spark: SparkSession, path: String): Int = {
    val s = StoreFiles.readUtf8(spark, currentPath(path))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[java.util.Map[String, Any]])
    require(String.valueOf(root.get("format")) == "graft-ann-store",
      s"not an ANN store at $path")
    root.get("current").asInstanceOf[Number].intValue()
  }

  private def writePointer(spark: SparkSession, path: String, v: Int): Unit =
    StoreFiles.writeUtf8Atomic(spark, currentPath(path),
      s"""{"format":"graft-ann-store","current":$v}""")

  private def writeVersion(corpus: DataFrame, idCol: String, embCol: String,
      index: AnnIndex, path: String, v: Int,
      marks: Map[String, Long] = Map.empty): Unit = {
    val spark = corpus.sparkSession
    StoreFiles.writeUtf8Atomic(spark, indexPath(path, v), index.toJson)
    val gen = "g0"
    Similarity.encodeAndWritePartitioned(corpus, idCol, embCol, index,
      s"${codesPath(path, v)}/$gen")
    val wrote = StoreFiles.dataFileCountRecursive(spark,
      s"${codesPath(path, v)}/$gen") > 0
    genLog(path, v).write(spark,
      GenerationLog.Manifest(if (wrote) Seq(gen) else Nil, marks))
  }

  /** Create the store at version 1: quantizers + cell-partitioned codes +
    * pointer. The pointer is written LAST — a crash mid-create leaves no
    * pointer, i.e. no store. */
  def create(corpus: DataFrame, idCol: String, embCol: String,
      index: AnnIndex, path: String): Unit = {
    writeVersion(corpus, idCol, embCol, index, path, 1)
    writePointer(corpus.sparkSession, path, 1)
  }

  def loadIndex(spark: SparkSession, path: String): AnnIndex =
    loadIndex(spark, path, currentVersion(spark, path))

  private def loadIndex(spark: SparkSession, path: String, v: Int): AnnIndex =
    AnnIndex.fromJson(StoreFiles.readUtf8(spark, indexPath(path, v)))

  /** The live codes: the union of the current version's COMMITTED
    * generations (orphans from crashed appends are invisible — the
    * manifest never listed them), minus any live tombstones ([[delete]]).
    * A `cell` filter pushes through the Union into every generation
    * scan's PartitionFilters, so the pruned serves keep their file-level
    * skipping across any append history — the tombstone anti-join sits
    * ABOVE the scan and does not disturb that pruning. */
  def codes(spark: SparkSession, path: String): DataFrame =
    codes(spark, path, currentVersion(spark, path))

  private def codes(spark: SparkSession, path: String, v: Int): DataFrame = {
    val m = genLog(path, v).read(spark)
    require(m.gens.nonEmpty, s"ANN store at $path v$v has no codes")
    // loud serve-time audit: every committed generation must exist
    val f = StoreFiles.fs(spark, path)
    m.gens.foreach(g => require(
      f.exists(new org.apache.hadoop.fs.Path(s"${codesPath(path, v)}/$g")),
      s"ANN store at $path lost committed codes generation $g"))
    val live = m.gens
      .map(g => spark.read.parquet(s"${codesPath(path, v)}/$g"))
      .reduce(_.unionByName(_))
    tombstoneFrame(spark, path, v, m).fold(live) { t =>
      live.join(broadcast(t), Seq("corpus_id"), "left_anti") }
  }

  /** The live tombstone ids as a one-column `corpus_id` frame, or None
    * when the version has none. Broadcast-small by contract: tombstones
    * are takedown sets, orders of magnitude below the corpus — the
    * explicit broadcast keeps the serve's anti-join a map-side hash probe
    * at any corpus size (a shuffled anti-join on the 100 TB codes side is
    * exactly what deletes must never cost). */
  private def tombstoneFrame(spark: SparkSession, path: String, v: Int,
      m: GenerationLog.Manifest): Option[DataFrame] = {
    if (m.tombs.isEmpty) None
    else {
      val f = StoreFiles.fs(spark, path)
      m.tombs.foreach(g => require(
        f.exists(new org.apache.hadoop.fs.Path(s"${tombsPath(path, v)}/$g")),
        s"ANN store at $path lost committed tombstone generation $g"))
      Some(m.tombs
        .map(g => spark.read.parquet(s"${tombsPath(path, v)}/$g"))
        .reduce(_.unionByName(_)).select("corpus_id").distinct())
    }
  }

  /** Number of live tombstoned ids in the current version (0 after
    * [[compactCodes]] retires them) — the audit counter for takedown
    * verification. */
  def tombstoneCount(spark: SparkSession, path: String): Long = {
    val v = currentVersion(spark, path)
    tombstoneFrame(spark, path, v, genLog(path, v).read(spark))
      .fold(0L)(_.count())
  }

  /** Tombstone-delete ids from the CURRENT version — the takedown path
    * (retention policy, right-to-be-forgotten, corpus retraction). The
    * distinct non-null ids are written as ONE manifest-governed generation
    * under `v<N>/tombs/` and published by the same atomic manifest flip as
    * code appends (a crash in between leaves an invisible orphan the next
    * delete's generation numbering steps over). Effects:
    *
    *   - '''immediate''': [[codes]] — and therefore every [[serve]] and
    *     [[recallProbe]] — anti-joins live tombstones, so a deleted id
    *     stops being returned the moment the manifest lands, with ZERO
    *     bytes of the code store rewritten. Top-k results backfill with
    *     the next-nearest live neighbors automatically (the k-heap simply
    *     never sees the deleted candidates).
    *   - '''physical''': the codes stay on disk until [[compactCodes]],
    *     which drops tombstoned rows from the rewritten generation and
    *     retires the tombstones — run it to honor a hard-erasure deadline.
    *   - '''store-wide until retired''': the anti-join is by id across ALL
    *     generations, so re-ingesting a deleted id stays hidden until a
    *     compaction retires the tombstone — delete-then-re-add must
    *     compact in between (documented over a time-scoped tombstone: a
    *     takedown that silently stops applying to a re-crawl of the same
    *     document is the worse failure).
    *   - '''survives migration''': [[migrate]] excludes the old version's
    *     live tombstones from the re-encode, so a re-index cannot
    *     resurrect taken-down ids.
    *
    * `ids` may be any frame carrying `idCol` with the corpus id type.
    * Unknown ids are fine (a takedown list routinely names never-ingested
    * or already-deleted documents); null ids refuse loudly. Returns the
    * number of tombstone ids written (0 = empty input, nothing committed).
    * Single-writer contract, like appends. */
  def delete(ids: DataFrame, idCol: String, path: String): Long =
    commitTombGen(ids, idCol, path, None)

  /** The streaming twin of [[delete]] — a takedown FEED delivered through
    * foreachBatch with the family's exactly-once shape: `(streamTag,
    * batchId)` names the tombstone generation `<tag>-b<id>` and the codes
    * manifest's per-tag high-water mark makes at-least-once re-deliveries
    * no-ops (returns 0; an EMPTY batch still advances the mark). Marks
    * share the appends' per-tag map — a tag is 1:1 with one stream's
    * checkpoint, so a takedown stream uses its own tag; marks survive
    * compaction. */
  def deleteBatch(ids: DataFrame, idCol: String, path: String,
      streamTag: String, batchId: Long): Long = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitTombGen(ids, idCol, path, Some((streamTag, batchId)))
  }

  /** foreachBatch writer for a takedown stream — each micro-batch of ids
    * tombstones through [[deleteBatch]]. */
  def deleteWriter(stream: DataFrame, idCol: String, path: String,
      streamTag: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    StoreFiles.requireStreamTag(streamTag) // fail at construction
    stream.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        deleteBatch(batch, idCol, path, streamTag, id): Unit
    }
  }

  /** Thin adapter over [[GenerationLog.commitTombstones]] (the
    * distinct → null-check → cap → flip shape shared by all four
    * takedown stores); the null check rides the parquet footers inside
    * the shared write pass — no separate Spark action. */
  private def commitTombGen(ids: DataFrame, idCol: String, path: String,
      stream: Option[(String, Long)]): Long =
    genLog(path, currentVersion(ids.sparkSession, path)).commitTombstones(
      ids.select(col(idCol).as("corpus_id")), "corpus_id", stream,
      "graft.ann.maxTombstones", "AnnStore.delete", "compactCodes()")

  /** The CURRENT manifest's live code-generation directories — what a
    * serve's listing actually reads. A raw directory listing is WRONG
    * after a compaction: superseded generations cool on disk for
    * `graft.store.gcGraceMs` but are invisible to readers (r17 review —
    * the ANN soak's listed-bytes fraction summed over the raw listing
    * and misrepresented pruning for the whole post-compaction tail). */
  def liveCodeGenPaths(spark: SparkSession, path: String): Seq[String] = {
    val v = currentVersion(spark, path)
    genLog(path, v).read(spark).gens.map(g => s"${codesPath(path, v)}/$g")
  }

  /** Data files the CURRENT manifest lists — the store's live footprint
    * (compaction gates assert on this; raw directory walks also see crash
    * orphans and still-cooling superseded generations). */
  def liveCodeFileCount(spark: SparkSession, path: String): Long = {
    val v = currentVersion(spark, path)
    liveCodeFileCount(spark, path, v, genLog(path, v).read(spark))
  }

  /** Snapshot-taking twin: the cadence must count files from the SAME
    * (version, manifest) read its other legs use — a re-read could mix
    * two snapshots across a concurrent flip, and costs a second
    * version-pointer + manifest read per no-op call (r17 fourth-pass
    * review caught the public-counter call reintroducing both). */
  private def liveCodeFileCount(spark: SparkSession, path: String,
      v: Int, m: GenerationLog.Manifest): Long =
    m.gens.map(g => StoreFiles.dataFileCountRecursive(spark,
      s"${codesPath(path, v)}/$g").toLong).sum

  /** Encode a new batch against the CURRENT (frozen) index and append its
    * codes as one committed generation — the steady-state ingest path.
    * History is never re-encoded; if the batch's distribution has drifted
    * off the trained quantizers, [[recallProbe]] is how that shows up. */
  def append(batch: DataFrame, idCol: String, embCol: String,
      path: String): Unit =
    commitCodesGen(batch, idCol, embCol, path, None): Unit

  /** The streaming twin of [[append]] (the BM25 store's
    * `appendBatchToIndex` shape): `(streamTag, batchId)` names the
    * generation `<tag>-b<id>` and the manifest's per-tag high-water mark
    * makes foreachBatch's at-least-once re-deliveries exactly-once — a
    * batch at or below the mark no-ops even if its generation was since
    * compacted away. The tag must be 1:1 with the stream's CHECKPOINT. */
  def appendBatch(batch: DataFrame, idCol: String, embCol: String,
      path: String, streamTag: String, batchId: Long): Boolean = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitCodesGen(batch, idCol, embCol, path, Some((streamTag, batchId)))
  }

  /** Migration path for stream tags the (r11-tightened) tag rule no longer
    * accepts at writer construction — [[GenerationLog.renameMark]] on the
    * current version's codes manifest. Run under the single-writer
    * contract. */
  def renameStreamMark(spark: SparkSession, path: String,
      oldTag: String, newTag: String): Unit =
    genLog(path, currentVersion(spark, path)).renameMark(spark, oldTag, newTag)

  private def commitCodesGen(batch: DataFrame, idCol: String, embCol: String,
      path: String, stream: Option[(String, Long)]): Boolean = {
    val spark = batch.sparkSession
    val v = currentVersion(spark, path)
    val lg = genLog(path, v)
    val m0 = lg.read(spark)
    // replayed batch at/below the committed high-water mark → no-op
    if (m0.redelivered(stream)) return false
    val gen = lg.nextGen(spark, m0, stream)
    val index = AnnIndex.fromJson(
      StoreFiles.readUtf8(spark, indexPath(path, v)))
    val dir = s"${codesPath(path, v)}/$gen"
    // overwrite, not append: the target is either fresh or an ORPHAN from
    // a crashed attempt at this same generation (the manifest never listed
    // it) — the retry reclaims it, so replays can never duplicate codes
    Similarity.encodeAndWritePartitioned(batch, idCol, embCol, index, dir)
    if (StoreFiles.dataFileCountRecursive(spark, dir) > 0)
      lg.publish(spark, m0, stream, Some(m0.copy(gens = m0.gens :+ gen)))
    else {
      StoreFiles.fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
      lg.publish(spark, m0, stream, None)
    }
  }

  /** Serve a query batch from the current version (partition-pruned —
    * only probed cells' files are read). `corpus` supplies raw vectors
    * for the exact re-rank, exactly as the underlying `*TopKIndexed`. */
  def serve(path: String, corpus: DataFrame, corpusId: String,
      corpusEmb: String, queries: DataFrame, queryId: String,
      queryEmb: String, k: Int, nProbe: Int = 8,
      refineFactor: Int = 4): DataFrame =
    // ONE pointer read pins the whole serve (r18 review: loadIndex and
    // codes each re-resolved the pointer, so a migrate() flip between
    // the two reads paired one version's quantizers with the OTHER
    // version's codes — silently wrong neighbors, despite the documented
    // "a reader mid-migration sees the old store in full, never a mix")
    servePinned(path, currentVersion(corpus.sparkSession, path), corpus,
      corpusId, corpusEmb, queries, queryId, queryEmb, k, nProbe,
      refineFactor)

  private def servePinned(path: String, v: Int, corpus: DataFrame,
      corpusId: String, corpusEmb: String, queries: DataFrame,
      queryId: String, queryEmb: String, k: Int, nProbe: Int,
      refineFactor: Int): DataFrame = {
    val spark = corpus.sparkSession
    val index = loadIndex(spark, path, v)
    val enc = codes(spark, path, v)
    index.kind match {
      case "ivf" => Similarity.ivfTopKIndexed(enc, queries, queryId,
        queryEmb, index, k, nProbe, pruneCells = true)
      case "ivfpq" => Similarity.ivfPqTopKIndexed(enc, corpus, corpusId,
        corpusEmb, queries, queryId, queryEmb, index, k, nProbe,
        refineFactor, pruneCells = true)
      case other => sys.error(s"AnnStore.serve: unsupported kind '$other'")
    }
  }

  /** Recall@k of the PERSISTED store against exact brute force, measured
    * on a bounded query sample: |ANN ∩ exact| / |exact| over the sample's
    * top-k sets. Cost: one partition-pruned serve + one corpus scan for
    * the brute-force side — run it per crawl batch on a few hundred
    * sampled queries and alert when it dips below the build-time floor;
    * that dip is the re-train → [[migrate]] trigger. */
  def recallProbe(path: String, corpus: DataFrame, corpusId: String,
      corpusEmb: String, sampleQueries: DataFrame, queryId: String,
      queryEmb: String, k: Int, nProbe: Int = 8,
      refineFactor: Int = 4): Double = {
    // ONE (version, manifest) snapshot pins BOTH sides of the probe
    // (r18 review: the ANN serve and the brute-force tombstone filter
    // each re-read the pointer/manifest, so a concurrent delete() or
    // migrate() flip between them ranked DIFFERENT live sets — skewing
    // the recall number that gates the re-train alert)
    val spark = corpus.sparkSession
    val v = currentVersion(spark, path)
    val m = genLog(path, v).read(spark)
    val ann = servePinned(path, v, corpus, corpusId, corpusEmb,
        sampleQueries, queryId, queryEmb, k, nProbe, refineFactor)
      .select("query_id", "corpus_id")
    // the brute-force side must rank the same LIVE set the store serves —
    // an un-filtered corpus would count tombstoned ids as recall misses
    val liveCorpus = tombstoneFrame(spark, path, v, m).fold(corpus) { t =>
      corpus.join(broadcast(t.withColumnRenamed("corpus_id", corpusId)),
        Seq(corpusId), "left_anti") }
    // both sides are ≤ |sample|·k rows by contract — collect each ONCE
    // and intersect on the driver (r18 review: the former join + count
    // pair re-ran the brute-force corpus scan for the second action,
    // doubling the probe's dominant cost)
    val exact = Similarity.bruteForceTopK(liveCorpus, corpusId, corpusEmb,
        sampleQueries, queryId, queryEmb, k)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.get(0), r.get(1)))
    val annSet = ann.collect().map(r => (r.get(0), r.get(1))).toSet
    val total = exact.length
    if (total == 0) 1.0 else exact.count(annSet.contains).toDouble / total
  }

  /** Streaming ingest with recall monitoring ON BY DEFAULT in the
    * deployment shape (r9 verdict #8): each micro-batch encodes against
    * the frozen current index and appends its codes; every `probeEvery`-th
    * batch additionally runs [[recallProbe]] with the BATCH'S OWN vectors
    * as the query sample — exactly the rows that drift first, so quantizer
    * decay surfaces from the ingest path itself instead of waiting for a
    * separately scheduled audit. `corpus` is evaluated lazily at probe
    * time (the brute-force side needs raw vectors — point it at the raw
    * embedding table so it sees everything ingested so far); `onRecall`
    * receives (batchId, recall@k) — alert/migrate when it dips below the
    * build-time floor.
    *
    * Idempotence (r11): each micro-batch commits through [[appendBatch]]
    * — one generation dir made visible by one atomic manifest flip, with
    * the per-tag high-water mark absorbing foreachBatch's at-least-once
    * re-deliveries. A crash between the code write and the flip leaves an
    * invisible orphan the replay overwrites before committing, so replays
    * can never duplicate codes (the r10 `_batches` marker landed after
    * the append and had exactly that window). */
  def appendWriter(stream: DataFrame, idCol: String, embCol: String,
      path: String, streamTag: String, probeEvery: Int = 0,
      probeQueries: Int = 64,
      probeK: Int = 10, nProbe: Int = 8, refineFactor: Int = 4,
      corpus: () => DataFrame = null,
      onRecall: (Long, Double) => Unit = (_, _) => ()):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(probeEvery == 0 || corpus != null,
      "recall probing needs the raw-vector corpus (corpus = () => df)")
    StoreFiles.requireStreamTag(streamTag) // fail at construction, not batch 0
    stream.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        appendBatch(batch, idCol, embCol, path, streamTag, id): Unit
        // the probe runs regardless of whether the batch committed: it is
        // read-only, so a restart that re-delivers an already-appended
        // batch still takes its scheduled recall measurement instead of
        // silently skipping the cycles adjacent to every crash
        if (probeEvery > 0 && (id + 1) % probeEvery == 0) {
          val sample = batch.limit(probeQueries)
          onRecall(id, recallProbe(path, corpus(), idCol, embCol,
            sample, idCol, embCol, probeK, nProbe, refineFactor))
        }
    }
  }

  /** Threshold-driven compaction cadence (the BM25
    * `compactIndexIfNeeded` shape; r16 — completes the cadence family
    * across the three crawl-appended stores, alongside
    * `Dedup.compactMinHashStoreIfNeeded`): compacts when the CURRENT
    * version's manifest lists more than `maxGens` code generations or
    * `maxLiveFiles` live data files (the small-files growth face), or —
    * the erasure-deadline face — when live tombstone ROWS exceed
    * `maxTombstoneRows` (set 0 to heal on the first run after any
    * takedown; the default -1 keeps the growth-only policy). Returns
    * true when a compaction ran. Cost per no-op call: ONE
    * version-pointer + manifest read, file listings over the live
    * generations, and footer row counts over the tombstone generations —
    * zero Spark jobs (r16 second-pass review: the first cut re-read the
    * manifest thrice and ran a distinct-count job per call). The
    * footer-summed tombstone rows can double-count an id retracted in
    * two batches — an upper bound on distinct ids, which only triggers
    * the deadline compaction EARLIER, cadence-grade accuracy. */
  def compactCodesIfNeeded(spark: SparkSession, path: String,
      maxGens: Int = 16, maxLiveFiles: Long = 512,
      maxTombstoneRows: Long = -1L): Boolean = {
    val v = currentVersion(spark, path)
    val m = genLog(path, v).read(spark)
    def liveFiles = liveCodeFileCount(spark, path, v, m)
    // r17 (advice): a manifest-listed tombstone generation missing on
    // disk refuses loudly (shared helper — mapping it to 0 rows would
    // silently satisfy the erasure-deadline policy on a damaged store)
    def tombRows = StoreFiles.committedTombstoneRows(spark,
      tombsPath(path, v), m.tombs, "compactCodesIfNeeded")
    val due = m.gens.size > maxGens || liveFiles > maxLiveFiles ||
      (maxTombstoneRows >= 0L && tombRows > maxTombstoneRows)
    if (due) compactCodes(spark, path)
    due
  }

  /** Compact the current version's code store: every [[append]] adds its
    * own generation, so after N crawl batches a probed cell reads N
    * generations' small files — the same object-store listing cost the
    * other stores' compact() addresses. One shuffle on `cell` lands each
    * cell's rows in one task → one file per cell directory of ONE new
    * generation, published by the same atomic manifest flip as appends
    * (the store stays serveable through every crash window). Stream marks
    * survive. GC follows the BM25 cooling ledger: crash orphans delete
    * immediately, superseded generations survive until they are at least
    * `graft.store.gcGraceMs` old (default 15 min) — safe against
    * back-to-back compactions with lock-free in-flight serves. */
  def compactCodes(spark: SparkSession, path: String): Unit = {
    val v = currentVersion(spark, path)
    val lg = genLog(path, v)
    val m = lg.read(spark)
    if (m.gens.isEmpty) {
      // EMPTIED store (a prior full-tombstone compaction): drain live
      // tombstones + cooling grace copies
      lg.retireEmptied(spark, m)
      return
    }
    val root = codesPath(path, v)
    val gen = lg.nextGen(spark, m, None)
    import org.apache.spark.sql.functions.col
    val union = m.gens.map(g => spark.read.parquet(s"$root/$g"))
      .reduce(_.unionByName(_))
    // physical erasure point for [[delete]]: tombstoned rows are dropped
    // from the rewritten generation and the tombstones retire with the
    // same manifest flip (in-flight serves that resolved the OLD manifest
    // keep reading its generations + tombstones until the cooling sweep)
    val kept = tombstoneFrame(spark, path, v, m).fold(union) { t =>
      union.join(broadcast(t), Seq("corpus_id"), "left_anti") }
    kept.repartition(col("cell"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("cell").parquet(s"$root/$gen")
    // a fully-tombstoned store compacts to ZERO rows: publish no
    // generation (codes() then refuses loudly with "has no codes" — the
    // honest state of an emptied store) instead of a schema-less dir.
    // <= 0: a partitionBy write of zero rows emits NO part files at all
    // (not even a schema-only one), so rows reads back as -1 — that is
    // the same emptied state, not a countable generation (r15 fix)
    val emptied = StoreFiles.parquetRowsWritten(spark, s"$root/$gen") <= 0L
    if (emptied) StoreFiles.fs(spark, s"$root/$gen")
      .delete(new org.apache.hadoop.fs.Path(s"$root/$gen"), true)
    lg.compact(spark, m, if (emptied) None else Some(gen))(identity)
  }

  /** Delete all non-current version directories — run once migrated
    * readers have drained. The pointer is never touched. */
  def dropOldVersions(spark: SparkSession, path: String): Unit = {
    val cur = currentVersion(spark, path)
    val f = StoreFiles.fs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    f.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.length > 1 && n.startsWith("v") &&
          n.drop(1).forall(_.isDigit) && n.drop(1).toInt != cur)
        f.delete(st.getPath, true)
    }
  }

  /** Re-encode the corpus against a NEWLY trained index as version
    * current+1, then atomically flip the pointer. The old version's files
    * stay on disk for readers that already resolved the pointer (delete
    * them out-of-band once drained). Serving from the migrated store is
    * byte-equivalent to a fresh [[create]] with the same index — the gate
    * asserts hash-identity against the one-shot golden pin. */
  def migrate(corpus: DataFrame, idCol: String, embCol: String,
      newIndex: AnnIndex, path: String): Int = {
    val spark = corpus.sparkSession
    val cur = currentVersion(spark, path)
    // deletions survive re-indexing: exclude the old version's live
    // tombstones from the re-encode, so a migration cannot resurrect
    // taken-down ids even when the caller's raw corpus still holds them.
    // The new version starts tombstone-free (they are now physical).
    val m = genLog(path, cur).read(spark)
    val liveCorpus = tombstoneFrame(spark, path, cur, m).fold(corpus) { t =>
      corpus.join(broadcast(t.withColumnRenamed("corpus_id", idCol)),
        Seq(idCol), "left_anti") }
    val next = cur + 1
    // stream marks CARRY into the new version (r18 review: a fresh empty
    // marks map let a foreachBatch re-delivery straddling the migration
    // re-commit an already-ingested batch into v_next — duplicate codes,
    // duplicate top-k candidates; the corpus handed to migrate already
    // contains those rows, so the replay must keep no-opping)
    writeVersion(liveCorpus, idCol, embCol, newIndex, path, next,
      marks = m.marks)
    writePointer(spark, path, next)
    next
  }
}
