package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext._
import graft.schema.{ColumnSchema, DataFrameSchema}
import graft.checks.ColumnCheck

/** Cross-store crash-resume for the nightly crawl composition (r16,
  * r15-verdict #1 — "the one 100 TB ops claim with no adversarial
  * evidence"): each store is individually exactly-once under its
  * `(streamTag, batchId)` mark, and the per-store specs fault-inject
  * their internal windows — this spec kills the COMPOSITION at every
  * inter-store boundary, re-runs the same batch under the same tags, and
  * asserts the converged state is identical to an uninterrupted run's:
  * identical serves (fingerprint scrub, near-dup scrub, BM25 top-k, ANN
  * codes, ledger status) AND identical physical row counts (a
  * double-append that happens to serve identically — duplicate band
  * rows, doubled df deltas — must still fail).
  *
  * The composition is resumable ONLY because the survivors are staged
  * durably before any append ([[graft.ext.Pipeline.stageBatch]]): the
  * "crash after the fingerprint append" leg is the direct proof — a
  * resume that re-derived survivors by re-scrubbing would find every
  * batch text already in the store, stage an EMPTY frame, and commit it
  * everywhere downstream. */
class PipelineResumeSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-presume").toString

  // ~160-doc corpus with repeated 7-token bodies so exact dups, near
  // dups, and fresh content all occur; deterministic text per id
  private def mkDocs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("doc_id"),
      concat(lit("alpha bravo charlie body "), pmod(col("id"), lit(7)),
        lit(" delta echo foxtrot golf hotel india "), col("id")).as("text"))

  private val hist = mkDocs(0L, 120L)
  // tonight's crawl: fresh docs, exact re-crawls of historical texts,
  // near-dup re-crawls (historical text + a short suffix)
  private def crawl: DataFrame = mkDocs(1000L, 1040L)
    .unionByName(hist.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 2000L).as("doc_id"), col("text")))
    .unionByName(hist.filter(pmod(col("doc_id"), lit(5)) === 1)
      .select((col("doc_id") + 3000L).as("doc_id"),
        concat(col("text"), lit(" suffix")).as("text")))

  private def embed(df: DataFrame): DataFrame = df.select(
    col("doc_id"), TextAnalysis.hashVector(col("text"), 16).as("emb"))

  private val ledSch = {
    import org.apache.spark.sql.types._
    DataFrameSchema(
      "doc_id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
      "text" -> ColumnSchema(Some(StringType), Seq(
        ColumnCheck("text_nonblank", c => length(trim(c)) > 0)),
        nullable = false),
      "ds" -> ColumnSchema.of(StringType))
  }

  private case class Night(root: String) {
    val fp = s"$root/fp"; val mh = s"$root/mh"; val bm = s"$root/bm"
    val ann = s"$root/ann"; val led = s"$root/led"; val staged = s"$root/staged"
  }

  private def buildStores(): Night = {
    val n = Night(tmp())
    FingerprintStore.build(hist, "text", n.fp)
    Dedup.buildMinHashStore(hist, "doc_id", "text", n.mh,
      shingleK = 3, numHashes = 16, bands = 4)
    Retrieval.buildIndex(hist, "doc_id", "text", n.bm)
    val he = embed(hist)
    AnnStore.create(he, "doc_id", "emb",
      Similarity.trainIvf(he, "doc_id", "emb", nCentroids = 4), n.ann)
    ValidationLedger.validateIncrement(ledSch,
      hist.withColumn("ds", lit("hist")), "ds", n.led, "hist"): Unit
    n
  }

  /** One nightly run; `failAfter` injects a crash at inter-store boundary
    * k (0 = after staging, before the fingerprint append; 4 = after the
    * ANN append, before the ledger increment; -1 = run to completion). */
  private def runNight(n: Night, failAfter: Int): Unit = {
    def cut(k: Int): Unit =
      if (failAfter == k) sys.error(s"injected crash at boundary $k")
    val survivors = Pipeline.stageBatch(spark, n.staged, "night", 1L) {
      Dedup.dropExistingNearDupStore(
        FingerprintStore.scrub(crawl, "text", n.fp), "doc_id", "text", n.mh)
    }
    cut(0)
    FingerprintStore.appendBatch(survivors, "text", n.fp, "night", 1L): Unit
    cut(1)
    Dedup.appendBatchToMinHashStore(survivors, "doc_id", "text", n.mh,
      "night", 1L): Unit
    cut(2)
    Retrieval.appendBatchToIndex(survivors, "doc_id", "text", n.bm,
      "night", 1L): Unit
    cut(3)
    AnnStore.appendBatch(embed(survivors), "doc_id", "emb", n.ann,
      "night", 1L): Unit
    cut(4)
    ValidationLedger.validateIncrementBatch(ledSch,
      survivors.withColumn("ds", lit("night1")), "ds", n.led, "night1",
      "night", 1L, candidates = Some(Seq("night1"))): Unit
    Pipeline.retireStaged(spark, n.staged, "night", 1L)
  }

  /** Everything observable about a night's converged state: serve results
    * from all five stores plus physical row counts. */
  private def stateOf(n: Night): Seq[String] = {
    // probe set: historical texts, tonight's texts, and genuinely novel
    // ones — covers masked/kept on both scrub paths
    val probe = mkDocs(5000L, 5015L)
      .unionByName(crawl.select((col("doc_id") + 9000L).as("doc_id"),
        col("text")))
      .unionByName(hist.limit(10))
    val scrubKept = FingerprintStore.scrub(probe, "text", n.fp)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val nearKept = Dedup.dropExistingNearDupStore(probe, "doc_id", "text",
      n.mh).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val queries = hist.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id").as("query_id"), concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 1, 4)).as("qtext"))
    val bm = Retrieval.bm25TopKFromIndex(spark, n.bm, queries,
      "query_id", "qtext", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.round(r.getDouble(3) * 1e9))).sorted.toSeq
    val annCodes = AnnStore.codes(spark, n.ann)
    val annIds = annCodes.select("corpus_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val led = ValidationLedger.status(spark, n.led)
      .select("partition", "batch", "n_rows", "n_failed", "passed")
      .collect().map(_.toString).sorted.toSeq
    // physical counts: identical serves must not hide a double-append
    val mhRows = Dedup.minhashPairsAgainstStore(
      crawl, "doc_id", "text", n.mh).count()
    def cnt(dir: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(dir).count()
    Seq(
      s"scrub:${scrubKept.mkString(",")}",
      s"near:${nearKept.mkString(",")}",
      s"bm25:${bm.mkString(";")}",
      s"ann:${annIds.mkString(",")}",
      s"led:${led.mkString(";")}",
      s"mh_pairs:$mhRows",
      s"mh_rows:${cnt(s"${n.mh}/rows")}",
      s"mh_counts_sum:${spark.read.option("recursiveFileLookup", "true")
        .parquet(s"${n.mh}/bucket_counts").agg(sum("n")).head.getLong(0)}",
      s"ann_codes:${annCodes.count()}")
  }

  test("pipeline crash-resume: a crash at EVERY inter-store boundary converges to the uninterrupted run (r16)") {
    val clean = buildStores()
    runNight(clean, failAfter = -1)
    val want = stateOf(clean)
    // sanity: tonight actually changed the stores (a vacuous convergence
    // proof over a no-op batch would be worthless)
    assert(AnnStore.codes(spark, clean.ann).count() > hist.count(),
      "precondition: the batch must append new codes")
    (0 to 4).foreach { k =>
      val n = buildStores()
      val e = intercept[RuntimeException](runNight(n, failAfter = k))
      assert(e.getMessage.contains(s"injected crash at boundary $k"))
      runNight(n, failAfter = -1) // the resume: same tag, same batchId
      assert(stateOf(n) == want,
        s"state after crash at boundary $k + resume diverged from the " +
          "uninterrupted run")
    }
  }

  test("staging is load-bearing: resuming by re-derivation after the fingerprint append would commit an empty batch (r16)") {
    // the counterfactual the staged frame prevents: after the fp append,
    // a re-scrub of the same crawl finds every text already stored
    val n = buildStores()
    val survivors = Pipeline.stageBatch(spark, n.staged, "night", 1L) {
      Dedup.dropExistingNearDupStore(
        FingerprintStore.scrub(crawl, "text", n.fp), "doc_id", "text", n.mh)
    }
    assert(survivors.count() > 0)
    FingerprintStore.appendBatch(survivors, "text", n.fp, "night", 1L): Unit
    val rederived = Dedup.dropExistingNearDupStore(
      FingerprintStore.scrub(crawl, "text", n.fp), "doc_id", "text", n.mh)
    assert(rederived.isEmpty,
      "the re-derivation trap must be real: post-append re-scrub drops all")
    // …while the staged read-back still serves the first attempt's frame
    val staged = Pipeline.stageBatch(spark, n.staged, "night", 1L) {
      sys.error("stageBatch must read back, not recompute")
    }
    assert(staged.count() == survivors.count())
  }

  test("minhash streamed writers: file-source replay appends then retracts exactly-once end-to-end (r16)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp() + "/mh"
    Dedup.buildMinHashStore(hist, "doc_id", "text", dir,
      shingleK = 3, numHashes = 16, bands = 4)
    val batch = mkDocs(1000L, 1030L)
    val work = tmp()
    // append stream: 3 files → 3 micro-batches through the writer
    batch.repartition(3).write.parquet(s"$work/in")
    val appQ = Dedup.minhashAppendWriter(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in"),
      "doc_id", "text", dir, "app")
      .option("checkpointLocation", s"$work/ck")
      .trigger(Trigger.AvailableNow()).start()
    appQ.awaitTermination()
    // streamed store ≡ one-shot build over the union
    val oneShot = tmp() + "/os"
    Dedup.buildMinHashStore(hist.unionByName(batch), "doc_id", "text",
      oneShot, shingleK = 3, numHashes = 16, bands = 4)
    val probe = mkDocs(1000L, 1040L)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    def pairs(p: String) = Dedup.minhashPairsAgainstStore(
      probe, "doc_id", "text", p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(dir) == pairs(oneShot),
      "streamed-writer store must serve identically to a one-shot build")
    // retraction stream: 2 files of appended ids through the takedown
    // writer; they stop generating candidates, count doesn't double
    val td = batch.filter(col("doc_id") % 2 === 0).select("doc_id")
    val nT = td.count()
    td.repartition(2).write.parquet(s"$work/td")
    def retractRun(ck: String): Unit = {
      val q = Dedup.minhashRetractWriter(
        spark.readStream.schema(td.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$work/td"),
        "doc_id", dir, "tdl")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    retractRun(s"$work/ckt")
    assert(Dedup.minhashRetractionCount(spark, dir) == nT)
    assert(Dedup.minhashPairsAgainstStore(probe, "doc_id", "text", dir)
      .join(td.select(col("doc_id").as("id_corpus")), Seq("id_corpus"),
        "left_semi").isEmpty,
      "retracted ids must stop generating candidates")
    // a FRESH checkpoint replaying the same files under the same tag:
    // the store marks make the redelivery exactly-once
    retractRun(s"$work/ckt2")
    assert(Dedup.minhashRetractionCount(spark, dir) == nT,
      "replayed retraction stream must not double the tombstones")
  }

  // ---- takedown composition (r16, beyond the ingest side) -------------

  private def takedownDocs = hist.filter(pmod(col("doc_id"), lit(7)) === 0)

  /** The takedown composition: fp retract → MinHash retract → BM25
    * delete → ANN delete → ledger revalidate, all under one `(td, 1)`
    * identity. Unlike ingest there is nothing to stage — the takedown
    * list is the INPUT, not a store-derived frame. */
  private def runTakedown(n: Night, failAfter: Int): Unit = {
    def cut(k: Int): Unit =
      if (failAfter == k) sys.error(s"injected crash at boundary $k")
    val tIds = takedownDocs.select("doc_id")
    FingerprintStore.retractBatch(takedownDocs, "text", n.fp, "td", 1L): Unit
    cut(0)
    Dedup.retractBatchFromMinHashStore(tIds, "doc_id", n.mh, "td", 1L): Unit
    cut(1)
    Retrieval.deleteDocsBatch(tIds, "doc_id", n.bm, "td", 1L): Unit
    cut(2)
    AnnStore.deleteBatch(tIds, "doc_id", n.ann, "td", 1L): Unit
    cut(3)
    ValidationLedger.revalidateBatch(ledSch,
      hist.join(tIds, Seq("doc_id"), "left_anti")
        .withColumn("ds", lit("hist")),
      "ds", n.led, "hist2", "td", 1L, Seq("hist")): Unit
  }

  private def takedownStateOf(n: Night): Seq[String] = {
    // re-crawls of the taken-down texts must pass the fp scrub (masked
    // store-wide); surviving historical texts must still be dropped
    val recrawl = takedownDocs
      .select((col("doc_id") + 7000L).as("doc_id"), col("text"))
      .unionByName(hist.filter(pmod(col("doc_id"), lit(7)) =!= 0).limit(10)
        .select((col("doc_id") + 8000L).as("doc_id"), col("text")))
    val scrubKept = FingerprintStore.scrub(recrawl, "text", n.fp)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val queries = hist.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id").as("query_id"), concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 1, 4)).as("qtext"))
    val bmServed = Retrieval.bm25TopKFromIndex(spark, n.bm, queries,
      "query_id", "qtext", k = 3).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val mhPairs = Dedup.minhashPairsAgainstStore(
      takedownDocs.select((col("doc_id") + 9000L).as("doc_id"), col("text")),
      "doc_id", "text", n.mh).count()
    val led = ValidationLedger.status(spark, n.led)
      .select("partition", "batch", "n_rows", "n_failed", "passed")
      .collect().map(_.toString).sorted.toSeq
    // physical tombstone mass: a redelivered retract must not double it
    Seq(
      s"scrub:${scrubKept.mkString(",")}",
      s"bm25:${bmServed.mkString(",")}",
      s"mh_pairs:$mhPairs",
      s"led:${led.mkString(";")}",
      s"fp_tombs:${FingerprintStore.retractionCount(spark, n.fp)}",
      s"mh_tombs:${Dedup.minhashRetractionCount(spark, n.mh)}",
      s"bm_tombs:${Retrieval.tombstoneCount(spark, n.bm)}",
      s"ann_tombs:${AnnStore.tombstoneCount(spark, n.ann)}")
  }

  test("takedown crash-resume: a crash at every inter-store boundary converges, tombstones never double (r16)") {
    val clean = buildStores()
    runTakedown(clean, failAfter = -1)
    val want = takedownStateOf(clean)
    val nT = takedownDocs.count()
    assert(nT > 0 && want.exists(_ == s"bm_tombs:$nT"),
      s"precondition: the takedown must commit $nT tombstones ($want)")
    (0 to 3).foreach { k =>
      val n = buildStores()
      val e = intercept[RuntimeException](runTakedown(n, failAfter = k))
      assert(e.getMessage.contains(s"injected crash at boundary $k"))
      runTakedown(n, failAfter = -1)
      assert(takedownStateOf(n) == want,
        s"takedown state after crash at boundary $k + resume diverged")
    }
  }

  test("streamed retracts, crash-before-mark window: resume must not double tombstones or unmask (r16 review)") {
    // the crash window leaves an ORPHAN generation on disk that no reader
    // ever saw (visibility is the manifest flip) — the resume reclaims it
    // and commits exactly once (every window of the MinHash store's
    // commits: MinHashStoreLogSpec)
    val fpDir = tmp()
    FingerprintStore.build(hist, "text", fpDir)
    val nFp = FingerprintStore.retractBatch(takedownDocs, "text", fpDir,
      "td", 0L)
    assert(nFp > 0L)
    assert(FingerprintStore.retractBatch(takedownDocs, "text", fpDir,
      "td", 0L) == 0L, "redelivery at the mark must no-op")
    assert(FingerprintStore.retractionCount(spark, fpDir) == nFp,
      "fp tombstones must not double")
    // the orphan shape: a same-named generation on disk, never
    // manifest-listed — a FRESH batch under a different tag must neither
    // adopt nor trip over it
    val orphan = s"$fpDir/tombs/td2-b0"
    takedownDocs.limit(3).select(xxhash64(col("text")).as("fp"))
      .write.parquet(orphan)
    assert(FingerprintStore.retractBatch(takedownDocs, "text", fpDir,
      "td2", 0L) == nFp, "resume over an orphan must commit the full batch")
    // retractionCount is DISTINCT across generations: the same texts
    // retracted under both tags still count once
    assert(FingerprintStore.retractionCount(spark, fpDir) == nFp)
  }

  test("revalidateBatch: mark guards BOTH halves — a redelivery cannot destroy the revalidated verdict (r16)") {
    val n = buildStores()
    val tIds = takedownDocs.select("doc_id")
    val live = hist.join(tIds, Seq("doc_id"), "left_anti")
      .withColumn("ds", lit("hist"))
    // crash window: the invalidate half ran, the increment never did —
    // the resume's revalidateBatch completes the pair
    assert(ValidationLedger.invalidate(spark, n.led, Seq("hist")) == 1L)
    val out = ValidationLedger.revalidateBatch(ledSch, live, "ds", n.led,
      "hist2", "td", 1L, Seq("hist"))
    assert(out.select("partition").collect().map(_.getString(0)).toSeq ==
      Seq("hist"))
    val before = ValidationLedger.status(spark, n.led).collect()
      .map(_.toString).sorted.toSeq
    assert(before.exists(_.contains("hist2")), s"verdict must carry hist2: $before")
    // the redelivery: a naive invalidate-then-increment pair would
    // remove the verdict and no-op the restore; the guarded pair no-ops
    // as a whole
    assert(ValidationLedger.revalidateBatch(ledSch, live, "ds", n.led,
      "hist2", "td", 1L, Seq("hist")).isEmpty)
    assert(ValidationLedger.status(spark, n.led).collect()
      .map(_.toString).sorted.toSeq == before,
      "redelivered revalidateBatch must leave the ledger untouched")
    // a named partition the takedown EMPTIED wholesale: no rows in the
    // live frame → verdict removed, no new verdict — the documented
    // converged state (rebuildKeys' emptied-group semantics); the caller
    // asserts coverage for partitions it believes are still live
    val out2 = ValidationLedger.revalidateBatch(ledSch,
      live.filter(col("ds") =!= "hist"), "ds", n.led, "hist3", "td", 2L,
      Seq("hist"))
    assert(out2.isEmpty, "an emptied partition commits no verdict")
    // (status() itself refuses loudly here — 'hist' was the only
    // partition, so the whole ledger emptied; the skip-set API reads the
    // manifest and answers without a row scan)
    assert(!ValidationLedger.validatedPartitions(spark, n.led)
      .contains("hist"), "the emptied partition must end unledgered")
    assert(ValidationLedger.revalidateBatch(ledSch,
      live.filter(col("ds") =!= "hist"), "ds", n.led, "hist3", "td", 2L,
      Seq("hist")).isEmpty, "redelivery still no-ops at the mark")
  }

  test("retireStaged advances a retire mark: a post-retirement redelivery refuses to restage (r16 review)") {
    // after retirement the staged bytes are gone; a recompute would run
    // against stores that already absorbed the batch and durably publish
    // a wrong (all-dup) disposition — the mark makes that loud
    val dir = tmp() + "/staged"
    val one = Pipeline.stageBatch(spark, dir, "night", 3L)(
      mkDocs(0L, 5L))
    assert(one.count() == 5L)
    Pipeline.retireStaged(spark, dir, "night", 3L)
    val e = intercept[IllegalArgumentException](
      Pipeline.stageBatch(spark, dir, "night", 3L)(mkDocs(0L, 5L)))
    assert(e.getMessage.contains("RETIRED"))
    // the mark is a per-tag high-water: batches below it refuse too,
    // later batches and other tags stage normally
    intercept[IllegalArgumentException](
      Pipeline.stageBatch(spark, dir, "night", 2L)(mkDocs(0L, 5L)))
    assert(Pipeline.stageBatch(spark, dir, "night", 4L)(
      mkDocs(0L, 3L)).count() == 3L)
    assert(Pipeline.stageBatch(spark, dir, "other", 1L)(
      mkDocs(0L, 2L)).count() == 2L)
    // idempotent retire
    Pipeline.retireStaged(spark, dir, "night", 3L)
  }

  test("compactMinHashStoreIfNeeded: no-op under the threshold, bounds the file count over it, serves unchanged (r16)") {
    val dir = tmp()
    Dedup.buildMinHashStore(hist, "doc_id", "text", dir,
      shingleK = 3, numHashes = 16, bands = 4)
    val floor = Dedup.minhashStoreFileCount(spark, dir)
    // a freshly-built store is under any sane threshold: no-op
    assert(!Dedup.compactMinHashStoreIfNeeded(spark, dir, maxFiles = 256))
    (1 to 6).foreach { i =>
      Dedup.appendBatchToMinHashStore(mkDocs(i * 1000L, i * 1000L + 15L),
        "doc_id", "text", dir, "cad", i.toLong): Unit
    }
    val frag = Dedup.minhashStoreFileCount(spark, dir)
    assert(frag > floor, "appends must fragment the store")
    val probe = mkDocs(0L, 40L)
      .select((col("doc_id") + 7000L).as("doc_id"), col("text"))
    def pairs() = Dedup.minhashPairsAgainstStore(probe, "doc_id", "text",
      dir).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = pairs()
    // threshold below the fragmented count: compaction runs and the file
    // count drops back under it
    assert(Dedup.compactMinHashStoreIfNeeded(spark, dir, maxFiles = frag - 1))
    assert(Dedup.minhashStoreFileCount(spark, dir) < frag)
    assert(pairs() == before, "cadence compaction must not change serves")
  }

  test("minhash streamed append: exactly-once under redelivery; serves as a one-shot build before and after compaction (r16)") {
    val dir = tmp()
    Dedup.buildMinHashStore(hist, "doc_id", "text", dir,
      shingleK = 3, numHashes = 16, bands = 4)
    val batch = mkDocs(1000L, 1020L)
    def rowsCnt = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/rows").count()
    val before = rowsCnt
    assert(Dedup.appendBatchToMinHashStore(batch, "doc_id", "text", dir,
      "s1", 0L))
    val after = rowsCnt
    assert(after > before, "append must add band rows")
    // redelivery at the mark: no-op, no growth
    assert(!Dedup.appendBatchToMinHashStore(batch, "doc_id", "text", dir,
      "s1", 0L))
    assert(rowsCnt == after)
    // serve equivalence: the streamed store matches a one-shot build over
    // the union (same params)
    val oneShot = tmp()
    Dedup.buildMinHashStore(hist.unionByName(batch), "doc_id", "text",
      oneShot, shingleK = 3, numHashes = 16, bands = 4)
    val probe = mkDocs(1000L, 1040L)
    def pairs(p: String) = Dedup.minhashPairsAgainstStore(
      probe, "doc_id", "text", p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(dir) == pairs(oneShot),
      "streamed-append store must serve identically to a one-shot build")
    val b2 = mkDocs(3000L, 3010L)
    assert(Dedup.appendBatchToMinHashStore(b2, "doc_id", "text", dir,
      "s1", 1L))
    // compaction collapses the generations and serves identically
    Dedup.compactMinHashStore(spark, dir)
    val oneShot2 = tmp()
    Dedup.buildMinHashStore(hist.unionByName(batch).unionByName(b2),
      "doc_id", "text", oneShot2, shingleK = 3, numHashes = 16, bands = 4)
    assert(pairs(dir) == pairs(oneShot2),
      "compacted streamed store must serve identically to a fresh build")
  }

  test("streamed staging lifecycle end-to-end: stage → append → retire-previous-at-batch-start through a real file-source stream (r17)") {
    import org.apache.spark.sql.streaming.Trigger
    val n = buildStores()
    val work = tmp()
    // two crawl batches → two micro-batches (one file per trigger); the
    // second batch's texts are reversed so it is near-dup-disjoint from
    // the first (each night must land fresh survivors — a second slice of
    // the same template corpus would be scrubbed as near-dups of the
    // first night's appends). Which file lands in which batch id is up
    // to the source — every assertion below is id- or union-based.
    crawl.coalesce(1).write.parquet(s"$work/in")
    mkDocs(8000L, 8030L)
      .select(col("doc_id"), reverse(col("text")).as("text"))
      .coalesce(1).write.mode("append").parquet(s"$work/in")
    val computeRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    // the DOCUMENTED writer shape (Pipeline scaladoc): retire batch N at
    // the START of batch N+1 (N's checkpoint offset has committed by
    // then), short-circuit redeliveries at/below the retire mark, stage
    // before any append, every consumer reads the staged bytes
    def runStream(ck: String): Unit = {
      val q = spark.readStream.schema(crawl.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/in")
        .writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          if (id > 0) Pipeline.retireStaged(spark, n.staged, "night", id - 1)
          if (!Pipeline.retiredThrough(spark, n.staged, "night")
              .exists(id <= _)) {
            val survivors = Pipeline.stageBatch(spark, n.staged,
              "night", id) {
              computeRuns.incrementAndGet(): Unit
              Dedup.dropExistingNearDupStore(
                FingerprintStore.scrub(batch, "text", n.fp),
                "doc_id", "text", n.mh)
            }
            FingerprintStore.appendBatch(survivors, "text", n.fp,
              "night", id): Unit
            Dedup.appendBatchToMinHashStore(survivors, "doc_id", "text",
              n.mh, "night", id): Unit
            Retrieval.appendBatchToIndex(survivors, "doc_id", "text",
              n.bm, "night", id): Unit
            AnnStore.appendBatch(embed(survivors), "doc_id", "emb",
              n.ann, "night", id): Unit
            ValidationLedger.validateIncrementBatch(ledSch,
              survivors.withColumn("ds", lit(s"night$id")), "ds", n.led,
              s"night$id", "night", id,
              candidates = Some(Seq(s"night$id"))): Unit
          }
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runStream(s"$work/ck1")
    val f = StoreFiles.fs(spark, n.staged)
    def stagedExists(id: Long) =
      f.exists(new org.apache.hadoop.fs.Path(s"${n.staged}/night-b$id"))
    // batch 0 was retired at the start of batch 1; batch 1's staged
    // bytes must still be present (no batch 2 arrived to retire it)
    assert(!stagedExists(0L) && stagedExists(1L),
      "retire-previous-at-batch-start must drop exactly batch 0's bytes")
    assert(Pipeline.retiredThrough(spark, n.staged, "night") == Some(0L))
    assert(computeRuns.get() == 2, "each batch derives exactly once")
    val state1 = stateOf(n)
    assert(ValidationLedger.status(spark, n.led).select("partition")
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("hist", "night0", "night1"))

    // (a) a redelivery BEFORE retirement resumes from the staged bytes:
    // replay the whole stream under a FRESH checkpoint — batch 0
    // short-circuits at the retire mark, batch 1 re-stages via READBACK
    // (the derivation must not re-run against the already-appended
    // stores) and every append/increment no-ops at its mark
    runStream(s"$work/ck2")
    assert(computeRuns.get() == 2,
      "a redelivered batch must read back its staged bytes, not re-derive")
    assert(stateOf(n) == state1,
      "the replayed stream must converge to the first run's state")

    // (b) after retirement the redelivery path REFUSES to restage
    Pipeline.retireStaged(spark, n.staged, "night", 1L)
    assert(!stagedExists(1L))
    val e0 = intercept[IllegalArgumentException](
      Pipeline.stageBatch(spark, n.staged, "night", 1L)(
        sys.error("derivation must never run for a retired batch")))
    assert(e0.getMessage.contains("already RETIRED"), e0.getMessage)
    // ...and the caller-side predicate now short-circuits both batches
    assert(Pipeline.retiredThrough(spark, n.staged, "night") == Some(1L))

    // (c) the legacy shared-marks refusal fires before anything stages
    val legacyDir = tmp()
    StoreFiles.writeUtf8Atomic(spark, s"$legacyDir/marks.json",
      """{"format":"graft-staged-marks","marks":{"night":0}}""")
    val e1 = intercept[IllegalArgumentException](
      Pipeline.stageBatch(spark, legacyDir, "night", 1L)(
        sys.error("must refuse before computing")))
    assert(e1.getMessage.contains("legacy shared marks.json"),
      e1.getMessage)
  }

  test("minhash marks: an append tag and a takedown tag keep their marks in one manifest") {
    val dir = tmp()
    Dedup.buildMinHashStore(hist, "doc_id", "text", dir,
      shingleK = 3, numHashes = 16, bands = 4)
    assert(Dedup.appendBatchToMinHashStore(mkDocs(1000L, 1010L),
      "doc_id", "text", dir, "app", 4L))
    assert(Dedup.retractBatchFromMinHashStore(
      mkDocs(1000L, 1002L).select(col("doc_id")), "doc_id", dir,
      "td", 6L) == 2L)
    // both commits folded their mark into the one manifest: neither
    // replace lost the other tag's entry
    assert(StoreFiles.readUtf8(spark, s"$dir/manifest.json")
      .contains("\"marks\":{\"app\":4,\"td\":6}"))
    assert(!Dedup.appendBatchToMinHashStore(mkDocs(1000L, 1010L),
      "doc_id", "text", dir, "app", 4L))
    assert(Dedup.retractBatchFromMinHashStore(
      mkDocs(1000L, 1002L).select(col("doc_id")), "doc_id", dir,
      "td", 6L) == 0L)
  }
}
