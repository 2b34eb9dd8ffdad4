package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Okapi BM25 ranked retrieval (Robertson & Walker 1994; the Lucene/
  * Elasticsearch default scorer) — the lexical-search complement of the
  * embedding ANN stack: query-keyed corpus filtering ("find the documents
  * about X"), labeled-seed expansion, and the retrieval half of
  * dedup-by-query pipelines all run this before any embedding model
  * exists.
  *
  *   score(d, q) = Σ_{t ∈ q}  idf(t) · tf(t,d)·(k1+1) /
  *                            (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *   idf(t)     = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form)
  *
  * Spark-first shape at 100 TB:
  *   - ONE corpus scan builds the pruned postings (doc, token, tf, dl) —
  *     dl rides the posting rows in BOTH paths (the one-shot and the
  *     persisted store), so scoring never joins a corpus-row-sized
  *     length side;
  *   - the query batch's (query, token) pairs collect once, cap-bounded
  *     (`graft.bm25.maxQueryTokens`) — queries are the broadcast-small
  *     side by enforced contract, and the corpus never shuffles by query;
  *   - the exploded token stream is semi-join-pruned to QUERY tokens
  *     BEFORE the tf aggregation (Spark has no join-below-agg rule, so
  *     the pruning is written into the plan), and df/idf derive from the
  *     pruned postings — no vocabulary-wide aggregation exists anywhere;
  *   - per-(query, doc) partial scores aggregate map-side and the
  *     per-query top-k rides the bounded k-heap
  *     ([[graft.functions.TopKByScore]]) — the shuffle carries
  *     ≤ k·partitions rows per query, never a full score list.
  *
  * Tokens are whitespace tokens of the trimmed text (the corpus-wide
  * convention of the LM/dedup family — [[TextAnalysis.tokens]]), matched
  * case-sensitively; rounding at 4 decimals makes the score an exact
  * cross-engine pin. Ties rank by doc id ascending. NULL-text documents
  * count toward N but not toward avgdl — the oracle's `avg(dl)` over a
  * nullable length column, pinned identically in the store counters. */
object Retrieval {

  private def q(n: String): Column = col("`" + n.replace("`", "``") + "`")

  /** Per-query BM25 top-k: (query_id, doc id column name, rank, score).
    * `k1`/`b` are the standard free parameters (1.2 / 0.75 defaults).
    * `singleScan = false` disables the postings local checkpoint (both
    * consumers then recompute the pruned corpus subtree — the shape the
    * plan specs inspect, and an escape hatch for clusters where
    * localCheckpoint's executor-loss caveat is unacceptable). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryId: String, queryText: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      singleScan: Boolean = true): DataFrame = {
    require(k >= 1, "k >= 1")
    // one-shot shape (r11): the exploded (doc, token) stream semi-joins
    // against the collected query-token set BEFORE the tf aggregation —
    // Spark has no rule that pushes a join below an aggregation, so the
    // pruning must be written into the plan — dl rides the posting rows
    // (no length join anywhere), and df re-aggregates the pruned
    // postings behind a lazy checkpoint. Net: the corpus is scanned and
    // exploded exactly ONCE (the r10 shape ran TWO full-vocabulary
    // aggregations per query batch and a corpus-length sort-merge join),
    // and every shuffle after the scan is candidate-sized, never
    // vocabulary- or corpus-sized.
    val dlen = docs.select(q(idCol).as("doc_id"),
      TextAnalysis.tokenCount(q(textCol)).cast("double").as("dl"))
    // N and avgdl: two scalars from one aggregation over the lengths
    // (N counts every document; avg skips NULL-text rows — oracle form)
    val stats = dlen
      .agg(count(lit(1)).cast("double").as("N"), avg(col("dl")).as("avgdl"))
      .head()
    val nDocs = stats.getDouble(0)
    // loud refusal, matching the store twin's empty-index require (r18
    // review: an empty or all-NULL-text corpus surfaced as an opaque NPE
    // on the null avg)
    require(nDocs > 0 && !stats.isNullAt(1),
      "bm25TopK: empty corpus, or every document's text is NULL")
    // avgdl rounded to 6 decimals before it enters any score: avg() is
    // summation-order sensitive in its last ulps, and the score pins to a
    // cross-engine oracle that must feed the identical constant
    val avgdl = math.rint(stats.getDouble(1) * 1e6) / 1e6
    val qTokens = queries
      .select(q(queryId).as("query_id"),
        explode(TextAnalysis.tokens(q(queryText))).as("token"))
      .distinct() // a term repeated in the query scores once (Lucene form)
    // the DISTINCT TOKEN SET collects here (cap-bounded — the store
    // serve's pattern, same knob), so the semi-join probes a LOCAL
    // relation: the corpus stage starts immediately instead of waiting
    // on a query-subplan broadcast stage, and the query frame is not
    // re-scanned for the semi side
    val (qPairs, tokDf) = collectQueryTokens(docs.sparkSession, qTokens)
    val width = docs.sparkSession.sessionState.conf.numShufflePartitions
    // (token, dl) structs built from ONE tokenization: binding the token
    // array as a lambda variable (transform over a 1-element wrapper)
    // references it once — a plain `select(size(toks), explode(toks))`
    // collapses into two independent split() evaluations per row
    val tks = TextAnalysis.tokens(q(textCol))
    val tkStructs = element_at(
      transform(array(tks), a => transform(a, x =>
        struct(x.as("token"), size(a).cast("double").as("dl")))), 1)
    val pruned = docs
      .select(q(idCol).as("doc_id"), explode(tkStructs).as("tk"))
      .select(col("doc_id"), col("tk.dl").as("dl"), col("tk.token").as("token"))
      // vocabulary pruned to query tokens before the aggregation runs
      .join(broadcast(tokDf), Seq("token"), "left_semi")
      // dl rides the posting rows (the store's layout call): with the
      // PRUNED aggregation the extra grouping key is nearly free, and the
      // scoring below then needs NO corpus-length join at all — the r10
      // shape's candidates ⋈ dlen join was a corpus re-scan in the
      // scoring stage
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
      // explicit width: AQE would coalesce this candidates-sized shuffle
      // to a handful of partitions, and the checkpoint would freeze that
      // — serializing the (much larger) query-expansion join downstream
      // onto one or two tasks. A user-specified repartition is exempt
      // from coalescing; the 100 TB shape wants the expansion wide.
      .repartition(width, col("doc_id"), col("token"))
    // LAZY local checkpoint: the pruned postings (candidates-sized — the
    // one materialization the query needs anyway) compute ONCE at the
    // caller's first action and back BOTH consumers below; without it
    // Spark re-scans and re-explodes the corpus for the df branch (no
    // optimizer rule reuses an aggregation across branches). Lazy, so
    // building the frame runs no job; storage is freed by the context
    // cleaner when the plan is GC'd. The caveat (blocks are not
    // recomputable after executor loss) is the standard localCheckpoint
    // trade — the PERSISTED index is the deployment path; the one-shot
    // is interactive.
    val postings = if (singleScan) pruned.localCheckpoint(false) else pruned
    // df(t) = postings rows per token — a re-aggregation of the pruned
    // postings: candidates-sized input, trivial shuffle, zero extra
    // corpus scans
    val dfd = postings.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    // the scoring tail IS scoreAndRank (r18 review: it was a verbatim
    // inline copy — the one-shot ≡ store hash-identity gate depends on
    // the two expressions never diverging, so share the code, not a
    // comment claiming it is shared)
    scoreAndRank(postings, qPairs, dfd, nDocs, avgdl, k, k1, b)
  }

  // ============ persisted BM25 postings index (round 9, v2 in round 10) ==
  // The retrieval member of the store family (MinHash/fingerprint/ANN/
  // sketch): a 100 TB corpus reduces ONCE to an inverted index and every
  // query batch is served from the store without touching corpus text.
  //
  // v2 layout — generational, manifest-governed, bucket-partitioned:
  //   manifest.json        {n_docs, n_dl, sum_dl, n_buckets, pgens[],
  //                         gens[], marks{}, cooling{}, tombs[], …}
  //                         (the shared GenerationLog protocol)
  //   postings/<gen>/tbucket=B/…   (token, doc_id, tf, dl)
  //   dfd/<gen>/tbucket=B/…        (token, df) document-frequency DELTAS
  //                                (appends add delta rows; serves sum
  //                                them, the bucket_counts shape)
  //   dlen/<gen>/…                 (doc_id, dl) — the reconciliation side
  //                                (n_docs ground truth); the serve path
  //                                never reads it (dl rides the postings)
  //
  //   - `gens` lists every committed generation (each has a dlen dir);
  //     `pgens` the subset that produced postings/df files — a generation
  //     of zero-token documents commits lengths only, and readers never
  //     try to parquet-infer a fileless dir. `marks` maps each ingest
  //     stream's tag to its highest committed batch id and SURVIVES
  //     compaction, so a micro-batch replayed after its generation was
  //     compacted away still no-ops instead of double-counting — and the
  //     manifest stays O(#streams), not O(#batches ever).
  //   - tbucket = pmod(xxhash64(token), n_buckets): the serve collects the
  //     query batch's tokens once (bounded — queries are the small side),
  //     derives their buckets, and pre-filters postings AND dfd with an
  //     `isin`, so parquet PARTITION PRUNING skips every non-query
  //     bucket's files at the listing level — the exact trick the ANN
  //     store proved with partitionBy("cell") + probe-cell pruning.
  //   - visibility is MANIFEST-GOVERNED: an append writes its generation
  //     dirs first and then atomically replaces manifest.json (counters +
  //     gen list change together). A crash mid-append leaves only orphan
  //     dirs no reader ever lists — there is NO window where committed
  //     postings can pair with stale df/counters, and no window where the
  //     store is unreadable.
  //   - GC is DEFERRED by the cooling ledger: compact() deletes crash
  //     orphans immediately (never visible to any reader) but keeps the
  //     generations it supersedes on disk for `graft.store.gcGraceMs`, so
  //     lock-free serves planned against an older manifest keep their
  //     files.
  //   - single-writer contract (like every store in the family): appends/
  //     compactions are serialized by the caller; serves are lock-free.

  private val sides = Seq("postings", "dlen", "dfd")

  /** Payload keys: the counters `n_docs` / `n_dl` / `sum_dl`, the fixed
    * `n_buckets`, and `pgens`; `tombs` are tombstone-delete generations
    * — see [[deleteDocs]]. */
  private def genLog(path: String) = GenerationLog(s"$path/manifest.json",
    "graft-bm25-index", 2, s"BM25 index at $path",
    sides.map(side => s"$path/$side"), Some(s"$path/tombs"))

  private def bucketOf(token: Column, nBuckets: Int): Column =
    pmod(xxhash64(token), lit(nBuckets.toLong)).cast("int")

  /** Read one side across the given generations: one scan per generation
    * root unioned (Spark refuses differing multi-root partition layouts in
    * a single load), so each generation's `tbucket=N` subdirectories
    * surface as a filterable partition column — a tbucket filter pushes
    * through the Union into every scan's PartitionFilters
    * (spec-asserted). */
  private def readSide(spark: SparkSession, path: String, side: String,
      gens: Seq[String]): DataFrame =
    gens.map(g => spark.read.parquet(s"$path/$side/$g"))
      .reduce(_.unionByName(_))

  /** Data files the CURRENT manifest lists — the store's live footprint
    * (compaction gates assert on this; raw directory walks also see crash
    * orphans and the one-compaction grace window of superseded gens). */
  def liveFileCount(spark: SparkSession, path: String): Long = {
    val m = genLog(path).read(spark)
    (m.gens.map(g => s"$path/dlen/$g") ++ m.strs("pgens").flatMap(g =>
      Seq(s"$path/postings/$g", s"$path/dfd/$g")))
      .map(StoreFiles.committedGenFiles(spark, _).toLong).sum
  }

  /** Write one generation (the unit of both build and append): postings +
    * df deltas bucket-partitioned by token hash, lengths flat. Aggregation
    * runs at full shuffle width; the postings write range-clusters on
    * (tbucket, token) so file count stays ≈ width + buckets instead of
    * width × buckets. Returns (docs, docs with non-null dl, Σdl,
    * wrote-postings) WITHOUT publishing — the caller owns the manifest
    * flip. */
  private def writeGen(docs: DataFrame, idCol: String, textCol: String,
      path: String, gen: String, nBuckets: Int): (Long, Long, Double, Boolean) = {
    val spark = docs.sparkSession
    val base = docs.select(q(idCol).as("doc_id"),
      TextAnalysis.tokens(q(textCol)).as("toks"))
    val dlen = base.select(col("doc_id"),
      size(col("toks")).cast("double").as("dl")).persist()
    try {
      val s = dlen.agg(count(lit(1)), count(col("dl")),
        coalesce(sum("dl"), lit(0.0))).head()
      val (n, nDl, sd) = (s.getLong(0), s.getLong(1), s.getDouble(2))
      if (n == 0L) return (0L, 0L, 0.0, false) // nothing to write or publish
      val width = math.max(
        spark.sessionState.conf.numShufflePartitions, nBuckets)
      // r11 (r10 verdict #4, build-cost recovery): postings stream ONCE
      // from the corpus scan into the range-clustered write — no persist
      // of the full-width posting rows (the r10 cache was the build's
      // memory hog at 10×) and no separate isEmpty action. The df deltas
      // then derive from the WRITTEN postings files: a column-pruned
      // (tbucket, token) read of freshly written, range-clustered parquet
      // — far cheaper than caching the full rows to feed both writes.
      // overwrite, not errorifexists: the target is either fresh or an
      // ORPHAN from a crashed attempt at this same generation (manifest
      // never listed it) — retries must reclaim it
      // r20 (r19 verdict #1b): the dlen write is INDEPENDENT of the
      // postings → dfd chain (dfd must derive from the WRITTEN postings,
      // so that pair stays ordered) — overlap it (guide §2.6) so a
      // per-batch append pays two job latencies instead of three; the
      // crash window is unchanged (generation dirs stay invisible until
      // the caller's manifest flip, whatever order they land in).
      @volatile var hasPostings = false
      StoreFiles.runConcurrently(Seq(
        () => {
          base
            .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
              explode(col("toks")).as("token"))
            .withColumn("tbucket", bucketOf(col("token"), nBuckets))
            .groupBy("tbucket", "token", "doc_id", "dl")
            .agg(count(lit(1)).cast("double").as("tf"))
            .repartitionByRange(width, col("tbucket"), col("token"))
            .write.mode("overwrite")
              .option("partitionOverwriteMode", "static")
              .partitionBy("tbucket")
            .parquet(s"$path/postings/$gen")
          // a zero-token batch writes no files: lengths-only generation
          hasPostings = StoreFiles.dataFileCountRecursive(spark,
            s"$path/postings/$gen") > 0
          if (!hasPostings)
            StoreFiles.fs(spark, path).delete(new Path(s"$path/postings/$gen"), true)
          else
            spark.read.parquet(s"$path/postings/$gen")
              .groupBy("tbucket", "token")
              .agg(count(lit(1)).cast("double").as("df"))
              .repartition(nBuckets, col("tbucket"))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "static")
              .partitionBy("tbucket")
              .parquet(s"$path/dfd/$gen")
        },
        () => dlen.write.mode("overwrite").parquet(s"$path/dlen/$gen")))
      (n, nDl, sd, hasPostings)
    } finally dlen.unpersist()
  }

  /** Build the index from a corpus — one corpus scan, one generation, one
    * manifest publish. `nBuckets` fixes the token-hash partitioning for
    * the index's lifetime (32 suits test scale; a 100 TB deployment wants
    * 1024+ so a pruned serve lists a small fraction of files). Building
    * from an EMPTY corpus is legal and yields a zero-gen index that
    * accepts appends — the seed of a streaming-built index. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 32): Unit = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val spark = docs.sparkSession
    val lg = genLog(path)
    require(!lg.exists(spark), s"BM25 index already exists at $path")
    val gen = "g0"
    val (n, nDl, sd, hasP) = writeGen(docs, idCol, textCol, path, gen, nBuckets)
    lg.write(spark, GenerationLog.Manifest(if (n == 0L) Nil else Seq(gen))
      .set("n_docs" -> n, "n_dl" -> nDl, "sum_dl" -> sd,
        "n_buckets" -> nBuckets, "pgens" -> (if (hasP) Seq(gen) else Nil)))
  }

  /** Append a crawl batch (ids must be new): write the batch's generation
    * dirs, then ONE atomic manifest replace makes the generation and the
    * bumped {n_docs, n_dl, sum_dl} counters visible together. Crash before
    * the publish → invisible orphan dirs (GC'd by the next compact), never
    * a half-applied append; df history is never re-aggregated (deltas sum
    * at serve). Returns true when the batch committed (false: empty
    * batch). Streaming micro-batches go through [[appendBatchToIndex]]
    * instead, which adds the replay no-op. */
  def appendToIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String): Boolean =
    commitGen(batch, idCol, textCol, path, None)

  /** The streaming twin of [[appendToIndex]]: `(streamTag, batchId)`
    * names the generation `<tag>-b<id>`, and the manifest's per-tag
    * high-water mark makes foreachBatch's at-least-once re-deliveries
    * exactly-once — a batch at or below the mark no-ops (returns false)
    * even if its generation was since compacted away. Batch ids must be
    * monotonic per tag (Spark's foreachBatch contract); the tag must be
    * 1:1 with the stream's CHECKPOINT (ids restart at 0 for a fresh
    * checkpoint — a new logical stream needs a new tag, or its early
    * batches would no-op against the old one's mark). */
  def appendBatchToIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, streamTag: String, batchId: Long): Boolean = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitGen(batch, idCol, textCol, path, Some((streamTag, batchId)))
  }

  /** Migration path for stream tags the (r11-tightened) tag rule no longer
    * accepts at writer construction (the pre-r11 rule allowed tags
    * starting with '_' or '.'): [[GenerationLog.renameMark]] — `newTag`
    * inherits `oldTag`'s replay horizon, never a silent merge. Run under
    * the single-writer contract. */
  def renameStreamMark(spark: SparkSession, path: String,
      oldTag: String, newTag: String): Unit =
    genLog(path).renameMark(spark, oldTag, newTag)

  private def commitGen(batch: DataFrame, idCol: String, textCol: String,
      path: String, stream: Option[(String, Long)]): Boolean = {
    val spark = batch.sparkSession
    val lg = genLog(path)
    val m0 = lg.read(spark)
    // replayed batch: at/below the committed high-water mark → no-op
    if (m0.redelivered(stream)) return false
    val gen = lg.nextGen(spark, m0, stream)
    val (n, nDl, sd, hasP) = writeGen(batch, idCol, textCol, path, gen,
      m0.long("n_buckets").toInt)
    // m0.copy, NOT a fresh manifest (r18 review: a fresh one silently
    // defaulted cooling/tombs/tombCooling to empty — an append between
    // deleteDocs and the healing compaction RESURRECTED every masked
    // document and erased the cooling ledger under in-flight serves)
    lg.publish(spark, m0, stream, if (n == 0L) None else Some(m0.copy(
      gens = m0.gens :+ gen).set(
      "n_docs" -> (m0.long("n_docs") + n), "n_dl" -> (m0.long("n_dl") + nDl),
      "sum_dl" -> (m0.double("sum_dl") + sd),
      "pgens" -> (if (hasP) m0.strs("pgens") :+ gen else m0.strs("pgens")))))
  }

  /** The live tombstone ids as a one-column `doc_id` frame, or None when
    * the index has none. Broadcast-small by contract (enforced at
    * [[deleteDocs]]) so the serve-side anti-join stays a map-side hash
    * probe at any corpus size. */
  private def tombstoneFrame(spark: SparkSession, path: String,
      m: GenerationLog.Manifest): Option[DataFrame] = {
    if (m.tombs.isEmpty) None
    else {
      val f = StoreFiles.fs(spark, path)
      m.tombs.foreach(g => require(
        f.exists(new Path(s"$path/tombs/$g")),
        s"BM25 index at $path lost committed tombstone generation $g"))
      Some(m.tombs.map(g => spark.read.parquet(s"$path/tombs/$g"))
        .reduce(_.unionByName(_)).select("doc_id").distinct())
    }
  }

  /** Number of live tombstoned doc ids (0 after [[compactIndex]] retires
    * them) — the audit counter for takedown verification. */
  def tombstoneCount(spark: SparkSession, path: String): Long = {
    tombstoneFrame(spark, path, genLog(path).read(spark)).fold(0L)(_.count())
  }

  /** Tombstone-delete documents from the index — the takedown path
    * (retention policy, right-to-be-forgotten, corpus retraction), the
    * lexical sibling of `AnnStore.delete`. The distinct non-null doc ids
    * are written as ONE manifest-governed generation under `tombs/` and
    * published by the same atomic manifest flip as appends. Semantics are
    * MASK-THEN-HEAL:
    *
    *   - '''masked (immediate)''': [[bm25TopKFromIndex]] anti-joins the
    *     postings scan against live tombstones, so a deleted document
    *     stops being returned the moment the manifest lands with zero
    *     index bytes rewritten; rankings backfill with the next-best live
    *     documents. Corpus statistics (n_docs, avgdl, df) still include
    *     the deleted documents in this phase — every OTHER document's
    *     score is unchanged, which is exactly what a results-takedown
    *     wants (and what keeps the phase SQL-derivable).
    *   - '''healed (at compaction)''': [[compactIndex]] drops tombstoned
    *     rows from the rewritten postings/dlen, recomputes the df
    *     snapshot from the scrubbed postings and the {n_docs, n_dl,
    *     sum_dl} counters from the scrubbed lengths, and retires the
    *     tombstones — after it, the index is byte-equivalent to one built
    *     without the deleted documents (physical erasure; gate-asserted
    *     against a fresh live-only build's oracle).
    *
    * A tombstone masks its id index-wide until a compaction retires it —
    * re-ingesting a deleted id must compact in between. Unknown ids are
    * fine; null ids refuse loudly; the broadcast-small contract is
    * enforced via `graft.bm25.maxTombstones` (default 10M — past it,
    * compact first). Returns the number of tombstone ids written (0 =
    * empty input, nothing committed). Single-writer contract. */
  def deleteDocs(ids: DataFrame, idCol: String, path: String): Long =
    commitTombGen(ids, idCol, path, None)

  /** The streaming twin of [[deleteDocs]] — a takedown FEED (legal-hold /
    * retention topics are streams in production) delivered through
    * foreachBatch with the family's exactly-once shape: `(streamTag,
    * batchId)` names the tombstone generation `<tag>-b<id>` and the
    * manifest's per-tag high-water mark makes at-least-once re-deliveries
    * no-ops (returns 0; an EMPTY batch still advances the mark so its
    * redelivery stops retrying). Marks share the appends' per-tag map —
    * a tag is 1:1 with one stream's checkpoint, so a takedown stream
    * simply uses its own tag. Marks survive compaction, so replays of
    * long-retired takedown batches still no-op. */
  def deleteDocsBatch(ids: DataFrame, idCol: String, path: String,
      streamTag: String, batchId: Long): Long = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitTombGen(ids, idCol, path, Some((streamTag, batchId)))
  }

  /** foreachBatch writer for a takedown stream — each micro-batch of doc
    * ids tombstones through [[deleteDocsBatch]]. */
  def deleteWriter(stream: DataFrame, idCol: String, path: String,
      streamTag: String):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    StoreFiles.requireStreamTag(streamTag) // fail at construction
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      deleteDocsBatch(batch, idCol, path, streamTag, id): Unit
    }
  }

  /** Thin adapter over [[GenerationLog.commitTombstones]] (the
    * distinct → null-check → cap → flip shape shared by all four
    * takedown stores); the null check rides the parquet footers inside
    * the shared write pass — no separate Spark action. */
  private def commitTombGen(ids: DataFrame, idCol: String, path: String,
      stream: Option[(String, Long)]): Long =
    genLog(path).commitTombstones(ids.select(q(idCol).as("doc_id")), "doc_id",
      stream, "graft.bm25.maxTombstones", "Retrieval.deleteDocs",
      "compactIndex()")

  /** Compact after N appends: df deltas collapse to one summed snapshot,
    * postings/dlen rewrite into size-targeted files at FULL repartition
    * width (a large fragmented store compacts with full parallelism, not
    * on a coalesce'd handful of tasks), and the dfd file target is sized
    * from the COLLAPSED snapshot's bytes — the deltas' pre-collapse size
    * overestimates it badly after many appends. Publishes by the same
    * single atomic manifest flip as appends (the store stays serveable
    * through every crash window); crash orphans are deleted immediately,
    * while the generations superseded by THIS compaction stay on disk as
    * an in-flight-reader grace window until the next compaction sweeps
    * them. Stream tags survive (replayed batches must keep no-opping).
    *
    * Also the consistency audit point (loud, never silent): committed
    * dlen rows must equal the manifest's n_docs counter before anything
    * is rewritten. */
  def compactIndex(spark: SparkSession, path: String,
      targetFiles: Int = 0): Unit = {
    val lg = genLog(path)
    val m = lg.read(spark)
    val pgens = m.strs("pgens")
    val nDocs = m.long("n_docs")
    val f = StoreFiles.fs(spark, path)
    // staged OUTSIDE the side dirs (GC never walks here) and non-hidden
    // (dot/underscore prefixes trip Spark's hidden-path filtering)
    val snap = s"$path/compact-snap.tmp"
    f.delete(new Path(snap), true) // orphan from a crashed prior compact
    if (m.gens.isEmpty) {
      // EMPTIED index (a prior full-tombstone compaction): drain live
      // tombstones + cooling grace copies
      lg.retireEmptied(spark, m)
      return
    }
    val counted = readSide(spark, path, "dlen", m.gens).count()
    require(counted == nDocs,
      s"BM25 index inconsistent at $path: dlen rows $counted != " +
        s"manifest n_docs $nDocs — refusing to compact")
    val gen = lg.nextGen(spark, m, None)
    def target(side: String, gens: Seq[String]): Int =
      if (targetFiles > 0) targetFiles
      else StoreFiles.targetFileCount(gens
        .map(g => StoreFiles.dataBytesRecursive(spark, s"$path/$side/$g"))
        .sum)
    // takedown healing (r14): tombstoned docs drop from the rewritten
    // postings/dlen, and the derived state heals — the df snapshot
    // recomputes from the SCRUBBED postings (one count per (tbucket,
    // token): posting rows are unique per (token, doc) under the
    // ids-are-new append contract, so the count IS the document
    // frequency) and the {n_docs, n_dl, sum_dl} counters recompute from
    // the scrubbed lengths. After this flip the index is equivalent to
    // one built without the deleted docs, and the tombstones retire.
    val tomb = tombstoneFrame(spark, path, m)
    def scrub(df: DataFrame): DataFrame =
      tomb.fold(df)(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
    var hasP = pgens.nonEmpty
    if (hasP) {
      scrub(readSide(spark, path, "postings", pgens))
        .repartitionByRange(target("postings", pgens),
          col("tbucket"), col("token"))
        .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("tbucket")
        .parquet(s"$path/postings/$gen")
      // a fully-tombstoned postings side compacts to zero rows: publish
      // no postings generation instead of a schema-less dir (<= 0: a
      // partitionBy write of zero rows emits no part files at all and
      // reads back as -1 — the same emptied state; r15 fix)
      if (StoreFiles.parquetRowsWritten(spark, s"$path/postings/$gen") <= 0L) {
        f.delete(new Path(s"$path/postings/$gen"), true)
        hasP = false
      } else {
        // dfd: write the collapsed/healed frame to a SNAPSHOT first
        // (vocabulary-sized — cheap to write twice), measure it, then lay
        // it out to the measured target (one shared tail — r18 review:
        // the two branches had hand-copied it and could drift)
        def publishDfd(src: DataFrame): Unit = {
          src.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("tbucket").parquet(snap)
          val dfdTarget =
            if (targetFiles > 0) targetFiles
            else StoreFiles.targetFileCount(
              StoreFiles.dataBytesRecursive(spark, snap))
          spark.read.parquet(snap)
            .repartitionByRange(dfdTarget, col("tbucket"), col("token"))
            .write.mode("overwrite")
              .option("partitionOverwriteMode", "static")
              .partitionBy("tbucket")
            .parquet(s"$path/dfd/$gen")
          f.delete(new Path(snap), true): Unit
        }
        if (tomb.isEmpty)
          publishDfd(readSide(spark, path, "dfd", pgens)
            .groupBy("tbucket", "token").agg(sum("df").as("df")))
        else
          // healing path: df from the scrubbed postings, exactly as
          // writeGen derives a fresh generation's deltas from its
          // written postings — column-pruned read of the files just
          // written
          publishDfd(spark.read.parquet(s"$path/postings/$gen")
            .groupBy("tbucket", "token")
            .agg(count(lit(1)).cast("double").as("df")))
      }
    }
    scrub(readSide(spark, path, "dlen", m.gens))
      .repartition(target("dlen", m.gens))
      .write.mode("overwrite").parquet(s"$path/dlen/$gen")
    // counters heal with the same flip (unchanged when no tombstones)
    val (nDocs2, nDl2, sumDl2) =
      if (tomb.isEmpty) (nDocs, m.long("n_dl"), m.double("sum_dl"))
      else if (StoreFiles.parquetRowsWritten(spark, s"$path/dlen/$gen") == 0L)
        (0L, 0L, 0.0)
      else {
        val s = spark.read.parquet(s"$path/dlen/$gen")
          .agg(count(lit(1)), count(col("dl")),
            coalesce(sum("dl"), lit(0.0))).head()
        (s.getLong(0), s.getLong(1), s.getDouble(2))
      }
    val emptied = nDocs2 == 0L && tomb.nonEmpty
    if (emptied) f.delete(new Path(s"$path/dlen/$gen"), true)
    // cooling ledger (r11, closes the back-to-back-compaction race): the
    // generations THIS compaction supersedes — and the retired tombstone
    // generations — cool for `graft.store.gcGraceMs` whatever the number
    // of compactions in between (compactIndexIfNeeded can legally fire
    // twice in quick succession). Grace 0 restores the plain
    // one-compaction deferral.
    lg.compact(spark, m, if (emptied) None else Some(gen))(_.set(
      "n_docs" -> nDocs2, "n_dl" -> nDl2, "sum_dl" -> sumDl2,
      "pgens" -> (if (hasP) Seq(gen) else Nil)))
  }

  /** Operational snapshot of the store: committed generations, live data
    * files and bytes (manifest-listed only — orphans and grace-window
    * copies excluded), and the ingest counters. What a nightly job logs
    * and what [[compactIndexIfNeeded]] decides on. */
  def indexStats(spark: SparkSession, path: String):
      Map[String, Long] = {
    val m = genLog(path).read(spark)
    val files = liveFileCount(spark, path)
    val bytes =
      (m.gens.map(g => StoreFiles.dataBytesRecursive(spark, s"$path/dlen/$g")) ++
        m.strs("pgens").flatMap(g => Seq(
          StoreFiles.dataBytesRecursive(spark, s"$path/postings/$g"),
          StoreFiles.dataBytesRecursive(spark, s"$path/dfd/$g")))).sum
    Map("gens" -> m.gens.size.toLong, "live_files" -> files,
      "live_bytes" -> bytes, "n_docs" -> m.long("n_docs"),
      "streams" -> m.marks.size.toLong,
      // tombstone ROWS from parquet footers (dup ids across takedown
      // batches count twice — stats-grade; tombstoneCount() distincts).
      // A lost committed generation refuses loudly (parquetRowsWritten's
      // -1 would silently skew the stat and every policy gating on it —
      // r14 ADVICE); shared refusal implementation (r17 fourth-pass
      // review: this was the last inline copy).
      "tombstone_rows" -> StoreFiles.committedTombstoneRows(spark,
        s"$path/tombs", m.tombs, "indexStats"))
  }

  /** Compact when the append-only growth crosses either threshold — the
    * policy hook a nightly pipeline calls unconditionally after its
    * appends (idempotent and cheap when below threshold: one manifest
    * read + a file listing). Returns true when a compaction ran.
    *
    * `maxTombstoneRows` (r14) is the erasure-deadline face: compaction is
    * [[deleteDocs]]' physical-erasure point, so an index whose growth
    * never crosses the file thresholds would otherwise carry its
    * tombstones — masked but on disk — forever. Set 0 to heal on the
    * first nightly run after any takedown; the default (-1: never) keeps
    * the growth-only policy. */
  def compactIndexIfNeeded(spark: SparkSession, path: String,
      maxGens: Int = 16, maxLiveFiles: Long = 512,
      maxTombstoneRows: Long = -1L): Boolean = {
    val s = indexStats(spark, path)
    val due = s("gens") > maxGens || s("live_files") > maxLiveFiles ||
      (maxTombstoneRows >= 0L && s("tombstone_rows") > maxTombstoneRows)
    if (due) compactIndex(spark, path)
    due
  }

  /** Serve a query batch from the store — hash-identical to [[bm25TopK]]
    * over the same corpus (spec/gate-asserted): the df deltas sum to the
    * same document frequencies, avgdl derives from the stored counters
    * with the same NULL semantics (sum_dl / n_dl — NULL-text docs count
    * toward N, not toward avgdl) and 6-dp rounding, and the scoring
    * expressions are shared verbatim.
    *
    * Reads, in 100 TB terms: the query batch's token-hash BUCKETS only —
    * the (query_id, token) pairs collect ONCE, cap-enforced via
    * `graft.bm25.maxQueryTokens` (default 2^20 — an accidentally
    * corpus-sized "query" frame fails loudly instead of OOMing the
    * driver), the query subplan never re-evaluates (a nondeterministic
    * query frame cannot diverge between pruning and scoring), the
    * derived buckets pre-filter both parquet scans, and partition
    * pruning skips every other bucket's files at the listing level —
    * plus nothing else: no corpus text, no length side (dl rides the
    * postings rows). */
  def bm25TopKFromIndex(spark: SparkSession,
      path: String, queries: DataFrame, queryId: String, queryText: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k >= 1")
    val m = genLog(path).read(spark)
    val pgens = m.strs("pgens")
    val nBuckets = m.long("n_buckets").toInt
    require(m.long("n_docs") > 0, s"empty BM25 index at $path")
    require(pgens.nonEmpty,
      s"BM25 index at $path has no postings (every document was blank)")
    // loud, cheap serve-time audit: every committed generation must exist
    val f = StoreFiles.fs(spark, path)
    for ((side, gens) <- Seq("dlen" -> m.gens, "postings" -> pgens,
        "dfd" -> pgens); g <- gens)
      require(f.exists(new Path(s"$path/$side/$g")),
        s"BM25 index at $path lost committed generation $side/$g")
    val nDocs = m.long("n_docs").toDouble
    val avgdl = math.rint(m.double("sum_dl") / m.long("n_dl") * 1e6) / 1e6
    val qTokens = queries
      .select(q(queryId).as("query_id"),
        explode(TextAnalysis.tokens(q(queryText))).as("token"))
      .distinct()
    val (qPairs, tokDf) = collectQueryTokens(spark, qTokens)
    val buckets = tokDf
      .select(bucketOf(col("token"), nBuckets).as("tbucket")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    // takedown masking (r14): tombstoned documents drop out of the
    // postings BEFORE scoring, so they cannot be returned; corpus stats
    // (n_docs/avgdl/df) still include them until compactIndex heals —
    // every other document's score is unchanged in the masked phase.
    // The anti-join sits above the bucket filter, so partition pruning
    // at the file listing is undisturbed.
    val posts0 = readSide(spark, path, "postings", pgens)
      .filter(col("tbucket").isin(buckets: _*))
    val posts = tombstoneFrame(spark, path, m).fold(posts0) { t =>
      posts0.join(broadcast(t), Seq("doc_id"), "left_anti") }
    val df = readSide(spark, path, "dfd", pgens)
      .filter(col("tbucket").isin(buckets: _*))
      .join(broadcast(tokDf), Seq("token"), "left_semi")
      .groupBy("token").agg(sum("df").as("df"))
    scoreAndRank(posts, qPairs, df, nDocs, avgdl, k, k1, b)
  }

  /** Streaming ingest for the index — the micro-batch twin of the ANN
    * store's encode stream and the fingerprint store's scrub stream: each
    * batch appends through [[appendBatchToIndex]] (one generation per
    * batch, per-tag high-water mark), so the foreachBatch at-least-once
    * contract degrades to exactly-once; a batch that crashed mid-write
    * left an invisible orphan its retry overwrites before the one
    * manifest flip. See [[appendBatchToIndex]] for the tag ↔ checkpoint
    * contract. */
  def indexAppendWriter(stream: DataFrame, idCol: String, textCol: String,
      path: String, streamTag: String):
      org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    StoreFiles.requireStreamTag(streamTag) // fail at construction, not batch 0
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      appendBatchToIndex(batch, idCol, textCol, path, streamTag, id): Unit
    }
  }

  /** Batch ≡ streaming proof harness for [[indexAppendWriter]] (the
    * sibling of `encodeReplay`/`scrubReplay`): replay a static corpus as
    * file-source micro-batches into the index at `path`. Per-token df
    * deltas, n_docs/n_dl/sum_dl are all sums over batches, and a document
    * never splits across batches, so the streamed index serves
    * hash-identically to a one-shot build — gated against the same
    * oracle. Each call is a fresh logical stream (fresh checkpoint) and
    * tags itself from its own temp dir name. */
  def indexReplay(corpus: DataFrame, idCol: String, textCol: String,
      path: String, numFiles: Int = 6): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = corpus.sparkSession
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_replay_")
    try {
      val src = corpus.select(q(idCol).as("doc_id"), q(textCol).as("text"))
      src.repartition(numFiles).write.parquet(s"$dir/in")
      val stream = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val query = indexAppendWriter(stream, "doc_id", "text", path,
          streamTag = dir.getFileName.toString)
        .option("checkpointLocation", s"$dir/ck")
        .trigger(Trigger.AvailableNow()).start()
      try query.awaitTermination()
      finally
        // stop BEFORE the delete (r18 fifth-pass review: deleting the
        // checkpoint under a still-active query crashes it asynchronously
        // and can orphan a generation in the real index at `path`);
        // stop()'s own failure must not mask the original error
        try if (query.isActive) query.stop()
        catch { case _: Exception => () }
    } finally {
      // replay input + checkpoint are dead once the stream drains (or
      // fails — cleanup must not leak a corpus copy on error)
      StoreFiles.deleteLocalDirRec(dir)
    }
  }

  /** Scoring tail of the STORE serve [[bm25TopKFromIndex]] (dl rides
    * every posting row, so the only joins are broadcast query-term
    * joins); the one-shot [[bm25TopK]] inlines its scoring off the
    * window-derived df and shares [[rankTail]]. */
  private def scoreAndRank(postings: DataFrame,
      qTokens: DataFrame, df: DataFrame, nDocs: Double, avgdl: Double,
      k: Int, k1: Double, b: Double): DataFrame = {
    val idf = log(((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)) + 1.0)
    val qTerm = qTokens.join(df, Seq("token")).select(
      col("query_id"), col("token"), idf.as("idf"))
    val contrib = col("idf") * col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))
    rankTail(postings.join(broadcast(qTerm), Seq("token"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(contrib), 4).as("score")), k)
  }

  /** Cap-bounded driver collect of a query batch's distinct
    * (query_id, token) pairs, returned as (pairs LocalRelation, distinct
    * token-set LocalRelation). The query subplan evaluates exactly ONCE
    * — both scoring sides and the bucket/semi pruning derive from the
    * same collected rows, so a NONDETERMINISTIC query frame (sample,
    * unordered limit, rand-derived filter) cannot diverge between the
    * pruning pass and the scoring pass (the r10 evaluate-once guarantee,
    * now cap-bounded). Knob: `graft.bm25.maxQueryTokens` (default 2^20)
    * bounds the collected pairs — queries are the broadcast-small side
    * by ENFORCED contract. */
  private def collectQueryTokens(spark: SparkSession,
      qTokens: DataFrame): (DataFrame, DataFrame) = {
    val rows = StoreFiles.collectBounded(qTokens,
      "BM25 query-token pairs", "graft.bm25.maxQueryTokens", 1 << 20)
    val pairs = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), qTokens.schema)
    val tokIdx = qTokens.schema.fieldIndex("token")
    val toks = rows.map(r => org.apache.spark.sql.Row(r.getString(tokIdx)))
      .distinct
    val tokDf = spark.createDataFrame(
      java.util.Arrays.asList(toks: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
    (pairs, tokDf)
  }

  /** Per-query bounded top-k off a (query_id, doc_id, score) frame — the
    * k-heap tail shared by both BM25 paths and [[rrfFuse]]'s shape. */
  private def rankTail(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.of(col("score"), col("doc_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.item").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("score"))

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard score-free combiner of heterogeneous rankings (BM25 +
    * embedding ANN is the hybrid-retrieval workhorse):
    *
    *   rrf(q, d) = Σ_{lists containing d}  1 / (kRrf + rank_list(d))
    *
    * Each input DataFrame carries (query_id, doc_id, rank) — the shape
    * [[bm25TopK]] and the `Similarity.*TopK*` serves emit (alias
    * corpus_id → doc_id). Fusion is rank-only, so score scales never need
    * calibrating. One union + one aggregation + the bounded per-query
    * k-heap; the inputs are already per-query top-k lists, so everything
    * is (queries·k·lists)-sized. Fused score rounds to 6 decimals (a sum
    * of ≤ `lists` exact reciprocals — cross-engine stable); ties rank by
    * doc id ascending. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(k >= 1 && kRrf >= 1, "k >= 1, kRrf >= 1")
    val slim = rankings.map(_.select(col("query_id"), col("doc_id"),
      col("rank").cast("double").as("rank")))
    slim.reduce(_.unionByName(_))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("rank"))), 6).as("rrf"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.of(col("rrf"), col("doc_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.item").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("rrf"))
  }
}
