package graft

import org.apache.spark.sql.functions._
import graft.ext.{AnnIndex, Similarity}

/** Train-once / encode-once / serve-many: the persisted ANN path must be
  * HASH-IDENTICAL to the one-shot operators (r7 verdict #1). */
class AnnIndexSpec extends SparkSpec {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def queries = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq

  test("AnnIndex JSON round-trip is exact (bit-identical doubles)") {
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    val back = AnnIndex.fromJson(idx.toJson)
    assert(back.kind == "ivfpq" && back.dim == idx.dim &&
      back.nCentroids == 16 && back.m == 8 && back.ksub == 16 &&
      back.seed == idx.seed)
    assert(back.centers.length == idx.centers.length)
    idx.centers.zip(back.centers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    assert(back.codebooks.length == idx.codebooks.length)
    idx.codebooks.zip(back.codebooks).foreach { case (ba, bb) =>
      ba.zip(bb).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    }
  }

  test("ivfpq: save → load → encode → parquet → serve ≡ one-shot ivfPqTopK") {
    val oneShot = rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nCentroids = 16, nProbe = 12,
      m = 8, ksub = 16, refineFactor = 4))

    val tmp = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    idx.save(s"$tmp/index.json")
    val loaded = AnnIndex.load(s"$tmp/index.json")
    Similarity.encode(emb, "vec_id", "embedding", loaded)
      .write.mode("overwrite").parquet(s"$tmp/codes.parquet")
    val codes = spark.read.parquet(s"$tmp/codes.parquet")
    val served = rows(Similarity.ivfPqTopKIndexed(codes,
      emb, "vec_id", "embedding", queries, "qid", "qv",
      loaded, k = 5, nProbe = 12, refineFactor = 4))
    assert(served == oneShot)
  }

  test("ivf + pq: persisted serve ≡ one-shot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ann2").toString

    val ivfOne = rows(Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nCentroids = 16, nProbe = 4))
    val ivfIdx = AnnIndex.fromJson(
      Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 16).toJson)
    Similarity.encode(emb, "vec_id", "embedding", ivfIdx)
      .write.mode("overwrite").parquet(s"$tmp/ivf.parquet")
    assert(rows(Similarity.ivfTopKIndexed(spark.read.parquet(s"$tmp/ivf.parquet"),
      queries, "qid", "qv", ivfIdx, k = 5, nProbe = 4)) == ivfOne)

    val pqOne = rows(Similarity.pqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, m = 8, ksub = 16, refineFactor = 4))
    val pqIdx = AnnIndex.fromJson(
      Similarity.trainPq(emb, "vec_id", "embedding", m = 8, ksub = 16).toJson)
    Similarity.encode(emb, "vec_id", "embedding", pqIdx)
      .write.mode("overwrite").parquet(s"$tmp/pq.parquet")
    assert(rows(Similarity.pqTopKIndexed(spark.read.parquet(s"$tmp/pq.parquet"),
      emb, "vec_id", "embedding", queries, "qid", "qv",
      pqIdx, k = 5, refineFactor = 4)) == pqOne)
  }

  test("autoNCentroids: power-of-2 sqrt(N) clamp; nCentroids=0 trains at the derived count (r12)") {
    import Similarity.autoNCentroids
    // the FAISS sqrt(N) guidance snapped to powers of two, clamped [4, 65536]
    assert(autoNCentroids(0) == 4 && autoNCentroids(1) == 4)
    assert(autoNCentroids(500) == 16)     // the sf0.001/sf0.01 gate density
    assert(autoNCentroids(2000) == 32)    // the sf0.1 probe density
    assert(autoNCentroids(50000) == 128)
    assert(autoNCentroids(1000000000L) == 16384)
    assert(autoNCentroids(Long.MaxValue) == 65536)
    // monotone non-decreasing across two decades
    val seq = Seq(10L, 100L, 1000L, 10000L, 100000L).map(autoNCentroids)
    assert(seq == seq.sorted)
    // auto-trained quantizers carry the derived count (emb has 500 rows)
    val auto = Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 0)
    assert(auto.nCentroids == 16 && auto.centers.length == 16)
    val autoPq = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 0, m = 8, ksub = 16)
    assert(autoPq.nCentroids == 16)
    // …and are the SAME quantizers as an explicit nCentroids=16 fit
    assert(auto.toJson == Similarity.trainIvf(emb, "vec_id", "embedding",
      nCentroids = 16).toJson)
  }

  test("indexed serve plan: codes scan is column-pruned, window-free, broadcast-joined") {
    // the 100 TB contract of encode-once serving: the ADC stage reads ONLY
    // (corpus_id, cell, codes) from the materialized parquet — raw vectors
    // are touched by the (broadcast-pruned) re-rank join alone
    val tmp = java.nio.file.Files.createTempDirectory("graft-ann3").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    Similarity.encode(emb, "vec_id", "embedding", idx)
      .write.mode("overwrite").parquet(s"$tmp/codes.parquet")
    val codes = spark.read.parquet(s"$tmp/codes.parquet")
    val served = Similarity.ivfPqTopKIndexed(codes, emb, "vec_id", "embedding",
      queries, "qid", "qv", idx, k = 5, nProbe = 12, refineFactor = 4)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in serve plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in serve plan:\n$plan")
    // the codes-file scan must not read an embedding column
    val codeScans = plan.linesIterator.filter(l =>
      l.contains("codes.parquet") && l.contains("ReadSchema")).toSeq
    assert(codeScans.nonEmpty, s"no codes scan found:\n$plan")
    assert(codeScans.forall(!_.contains("embedding")),
      s"codes scan reads raw vectors:\n${codeScans.mkString("\n")}")
  }

  test("cell-partitioned store: pruned serve ≡ unpruned, PartitionFilters in scan") {
    // r8: partitionBy(cell) storage + probe-cell isin pre-filter — parquet
    // must skip non-probed cells at the FILE level, with identical results
    val tmp = java.nio.file.Files.createTempDirectory("graft-ann4").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    Similarity.encodeAndWritePartitioned(emb, "vec_id", "embedding", idx, s"$tmp/codes")
    val codes = spark.read.parquet(s"$tmp/codes")
    val unpruned = rows(Similarity.ivfPqTopKIndexed(codes, emb, "vec_id", "embedding",
      queries, "qid", "qv", idx, k = 5, nProbe = 4, refineFactor = 4))
    val prunedDf = Similarity.ivfPqTopKIndexed(codes, emb, "vec_id", "embedding",
      queries, "qid", "qv", idx, k = 5, nProbe = 4, refineFactor = 4,
      pruneCells = true)
    assert(rows(prunedDf) == unpruned)
    val scan = prunedDf.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains(s"codes") && l.contains("PartitionFilters")).toSeq
    assert(scan.exists(_.matches(".*PartitionFilters: \\[.*cell.*IN.*\\].*")),
      s"no pushed partition filter on cell:\n${scan.mkString("\n")}")
  }

  test("AnnStore streaming append: recall probe fires FROM the ingest path and flags drift") {
    // r10 (r9 verdict #8): drift detection is on by default in the
    // deployment shape — the per-N-batches probe inside appendWriter uses
    // each batch's own vectors as the query sample, so a drifted stream
    // flips recall below the healthy floor WITHOUT any manual probe call.
    import graft.ext.AnnStore
    import org.apache.spark.sql.streaming.Trigger
    // DISJOINT halves so the brute-force corpus never holds duplicate
    // vectors (exact-tie id flips would suppress control recall): the
    // store is built on the first half, the stream delivers the second.
    // "Drift" is the deployment kind the probe exists for: the incoming
    // data no longer fits the FROZEN quantizers — modeled by a store
    // whose index trained on a 32-vector sliver (the lifecycle spec's
    // proven stale-index construction) vs a well-trained control.
    val base = emb.filter(col("vec_id") < 250)
    val idx = Similarity.trainIvfPq(base, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    val staleIdx = Similarity.trainIvfPq(base.filter(col("vec_id") < 32),
      "vec_id", "embedding", nCentroids = 16, m = 8, ksub = 16)
    def runStream(incoming: org.apache.spark.sql.DataFrame, tag: String,
        store: String): Seq[Double] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-annstrm").toString
      incoming.repartition(4).write.parquet(s"$dir/in")
      val stream = spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val recalls = scala.collection.mutable.ArrayBuffer[Double]()
      val corpus = () => base.select(col("vec_id"), col("embedding"))
        .unionByName(incoming)
      val q = AnnStore.appendWriter(stream, "vec_id", "embedding", store,
          // the whole final batch as the sample: limit(n) of a batch is
          // an arbitrary subset and wobbles the measured recall run-to-run
          streamTag = tag, probeEvery = 4, probeQueries = 1000, probeK = 5,
          nProbe = 12, corpus = corpus,
          onRecall = (_, r) => recalls.synchronized { recalls += r })
        .option("checkpointLocation", s"$dir/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recalls.toSeq
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore-s").toString
    // control: same-distribution fresh vectors — healthy recall
    AnnStore.create(base, "vec_id", "embedding", idx, s"$tmp/ctl")
    val control = emb.filter(col("vec_id") >= 250)
      .select(col("vec_id"), col("embedding"))
    val rCtl = runStream(control, "ctl1", s"$tmp/ctl")
    // drifted: the same stream against quantizers that no longer fit it
    AnnStore.create(base, "vec_id", "embedding", staleIdx, s"$tmp/drift")
    val rDrift = runStream(control, "drift1", s"$tmp/drift")
    assert(rCtl.nonEmpty && rDrift.nonEmpty, "probe never fired")
    info(f"streamed recall: control=${rCtl.last}%.4f drifted=${rDrift.last}%.4f")
    assert(rDrift.last + 0.10 < rCtl.last,
      f"drifted stream not flagged: control=${rCtl.last}%.4f drifted=${rDrift.last}%.4f")
    // at-least-once replays of the SAME logical stream are idempotent:
    // a fresh checkpoint with the same tag re-delivers batch ids 0..3,
    // every one of which the markers skip — store row count unchanged
    val n1 = AnnStore.codes(spark, s"$tmp/ctl").count()
    runStream(control, "ctl1", s"$tmp/ctl")
    assert(AnnStore.codes(spark, s"$tmp/ctl").count() == n1,
      "marker-skipped replay still appended codes")
  }

  test("streaming encode replay ≡ batch encode for a pq index (no cell partitioning)") {
    val idx = Similarity.trainPq(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val streamed = Similarity.encodeReplay(emb, "vec_id", "embedding", idx)
    val batch = Similarity.encode(emb, "vec_id", "embedding", idx)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("kind mismatch and malformed documents are rejected") {
    val idx = Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 8)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(emb, emb, "vec_id", "embedding",
        queries, "qid", "qv", idx, k = 5)
    }
    intercept[IllegalArgumentException] { AnnIndex.fromJson("{\"format\": \"nope\"}") }
  }

  test("AnnStore lifecycle: create/serve ≡ one-shot; append ingests; probe flags a stale index; migrate heals") {
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore").toString
    // a WELL-trained index (full corpus) — store serve must equal one-shot
    val good = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    AnnStore.create(emb, "vec_id", "embedding", good, s"$tmp/ok")
    assert(AnnStore.currentVersion(spark, s"$tmp/ok") == 1)
    val oneShot = rows(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nCentroids = 16, nProbe = 12, m = 8,
      ksub = 16, refineFactor = 4))
    assert(rows(AnnStore.serve(s"$tmp/ok", emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nProbe = 12)) == oneShot)

    // a STALE index: quantizers trained on a 32-vector sliver, full
    // corpus encoded against it — the production shape after heavy drift
    val stale = Similarity.trainIvfPq(emb.filter(col("vec_id") < 32),
      "vec_id", "embedding", nCentroids = 16, m = 8, ksub = 16)
    AnnStore.create(emb, "vec_id", "embedding", stale, s"$tmp/drift")
    val probeQs = emb.filter(col("vec_id") % 7 === 3).limit(40)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val rStale = AnnStore.recallProbe(s"$tmp/drift", emb, "vec_id",
      "embedding", probeQs, "qid", "qv", k = 5, nProbe = 12)
    // migrate: re-train on the full corpus, re-encode as v2, flip pointer
    val v = AnnStore.migrate(emb, "vec_id", "embedding", good, s"$tmp/drift")
    assert(v == 2 && AnnStore.currentVersion(spark, s"$tmp/drift") == 2)
    val rMigrated = AnnStore.recallProbe(s"$tmp/drift", emb, "vec_id",
      "embedding", probeQs, "qid", "qv", k = 5, nProbe = 12)
    info(f"recall@5 stale=$rStale%.4f migrated=$rMigrated%.4f")
    assert(rMigrated > rStale,
      f"migration did not improve recall: $rStale%.4f -> $rMigrated%.4f")
    // migrated store serves exactly like the fresh well-trained one
    assert(rows(AnnStore.serve(s"$tmp/drift", emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nProbe = 12)) == oneShot)
    // old version untouched on disk (readers mid-migration stay correct)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/drift/v1/index.json")))

    // append: new vectors ingest against the frozen index and are served
    val extra = emb.limit(3).select((col("vec_id") + 900000).as("vec_id"),
      col("embedding"))
    AnnStore.append(extra, "vec_id", "embedding", s"$tmp/ok")
    val corpus2 = emb.select(col("vec_id"), col("embedding")).unionByName(extra)
    val q1 = extra.limit(1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // the appended vector duplicates an original (cosine 1.0 for both;
    // ties break by id asc), so k=2 must surface BOTH copies
    val got = AnnStore.serve(s"$tmp/ok", corpus2, "vec_id", "embedding",
        q1, "qid", "qv", k = 2, nProbe = 12)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    val want = q1.select("qid").collect().map(_.getLong(0)).head
    assert(got.contains(want), s"appended vector not served: got $got want $want")
  }

  test("pruned serves: the collected probe table is cap-bounded and fails loud") {
    // r11 (r10 verdict #3): the probe table is ≤ |queries|·nProbe rows by
    // construction, and the collect ENFORCES it — an oversized query
    // batch fails with the knob named instead of OOMing the driver
    val tmp = java.nio.file.Files.createTempDirectory("graft-anncap").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    Similarity.encodeAndWritePartitioned(emb, "vec_id", "embedding", idx,
      s"$tmp/codes")
    val codes = spark.read.parquet(s"$tmp/codes")
    spark.conf.set("graft.ann.maxProbeRows", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKIndexed(codes, emb, "vec_id", "embedding",
          queries, "qid", "qv", idx, k = 5, nProbe = 4,
          pruneCells = true).collect()
      }
      assert(e.getMessage.contains("graft.ann.maxProbeRows"),
        s"cap violation does not name the knob: ${e.getMessage}")
    } finally spark.conf.unset("graft.ann.maxProbeRows")
    assert(Similarity.ivfPqTopKIndexed(codes, emb, "vec_id", "embedding",
      queries, "qid", "qv", idx, k = 5, nProbe = 4,
      pruneCells = true).collect().nonEmpty)
  }

  test("AnnStore append crash window: orphan gens invisible; replay commits exactly once; GC sweeps after grace") {
    // r11 (r10 verdict #2): the r10 marker landed AFTER the code append,
    // so a crash in between duplicated codes on replay. Manifest-governed
    // generations close that window: this test IS the crash — the
    // generation dir exists on disk exactly as appendBatch would leave it
    // mid-crash (no manifest flip), then the batch replays.
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore-x").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    val base = emb.filter(col("vec_id") < 200)
    AnnStore.create(base, "vec_id", "embedding", idx, tmp)
    val n0 = AnnStore.codes(spark, tmp).count()
    val batch = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    val nBatch = batch.count()
    // the crash: codes written, manifest never flipped
    Similarity.encodeAndWritePartitioned(batch, "vec_id", "embedding", idx,
      s"$tmp/v1/codes/crawl-b0")
    assert(AnnStore.codes(spark, tmp).count() == n0,
      "orphan generation leaked into the serve")
    // the replay overwrites the orphan and commits exactly once
    assert(AnnStore.appendBatch(batch, "vec_id", "embedding", tmp, "crawl", 0L))
    assert(AnnStore.codes(spark, tmp).count() == n0 + nBatch,
      "crash replay duplicated codes")
    assert(AnnStore.codes(spark, tmp).groupBy("corpus_id").count()
      .filter(col("count") > 1).count() == 0,
      "duplicate ids after crash replay")
    // a re-delivery at/below the high-water mark no-ops
    assert(!AnnStore.appendBatch(batch, "vec_id", "embedding", tmp, "crawl", 0L))
    assert(AnnStore.codes(spark, tmp).count() == n0 + nBatch)
    // a crashed NUMERIC append's orphan is never adopted by later writers
    Similarity.encodeAndWritePartitioned(batch.limit(5), "vec_id",
      "embedding", idx, s"$tmp/v1/codes/g9")
    val extra = emb.filter(col("vec_id") >= 260 && col("vec_id") < 270)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    AnnStore.append(extra, "vec_id", "embedding", tmp)
    def exists(g: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/v1/codes/$g"))
    assert(exists("g10"), "fresh append adopted/collided with the orphan")
    val total = AnnStore.codes(spark, tmp).count()
    // compaction GCs the orphan immediately (never reader-visible) but
    // keeps superseded gens cooling for graft.store.gcGraceMs — safe
    // against back-to-back compactions with in-flight serves
    AnnStore.compactCodes(spark, tmp)
    assert(!exists("g9"), "orphan not GC'd")
    assert(exists("g0"), "superseded gen deleted in the same compaction")
    assert(AnnStore.codes(spark, tmp).count() == total)
    AnnStore.compactCodes(spark, tmp)
    assert(exists("g0"), "back-to-back compaction swept a cooling gen")
    spark.conf.set("graft.store.gcGraceMs", "0")
    try {
      AnnStore.compactCodes(spark, tmp)
      assert(!exists("g0"), "cooled-out grace copy not swept")
    } finally spark.conf.unset("graft.store.gcGraceMs")
    assert(AnnStore.codes(spark, tmp).count() == total)
  }

  test("compactCodesIfNeeded: growth and tombstone-deadline faces trip; below thresholds no-op (r16)") {
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore-c").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    AnnStore.create(emb.filter(col("vec_id") < 200), "vec_id", "embedding",
      idx, tmp)
    (0 until 3).foreach { i =>
      AnnStore.append(emb.filter(col("vec_id") >= 200 + i * 20 &&
        col("vec_id") < 220 + i * 20)
        .select((col("vec_id") + 1000 * (i + 1)).as("vec_id"),
          col("embedding")), "vec_id", "embedding", tmp)
    }
    val total = AnnStore.codes(spark, tmp).count()
    // generous thresholds: no-op (4 gens, few files, no tombstones)
    assert(!AnnStore.compactCodesIfNeeded(spark, tmp))
    // growth face: 4 gens > maxGens=2 trips; serves unchanged
    assert(AnnStore.compactCodesIfNeeded(spark, tmp, maxGens = 2))
    assert(AnnStore.codes(spark, tmp).count() == total)
    // erasure-deadline face: a takedown leaves live tombstones; the
    // growth-only policy ignores them, maxTombstoneRows=0 heals
    AnnStore.delete(emb.filter(col("vec_id") < 10).select("vec_id"),
      "vec_id", tmp): Unit
    assert(AnnStore.tombstoneCount(spark, tmp) > 0)
    assert(!AnnStore.compactCodesIfNeeded(spark, tmp),
      "growth-only policy must not trip on tombstones alone")
    assert(AnnStore.compactCodesIfNeeded(spark, tmp, maxTombstoneRows = 0L))
    assert(AnnStore.tombstoneCount(spark, tmp) == 0L,
      "deadline compaction must retire the tombstones")
    assert(AnnStore.codes(spark, tmp).count() == total - 10)
  }

  test("AnnStore pre-manifest codes layout is refused; a legacy-tag mark migrates") {
    // a store written by the pre-manifest layout (flat v1/codes/cell=C
    // + _batches markers) has no codes manifest: reads refuse loudly,
    // naming the layout, instead of serving or guessing at generations
    import graft.ext.{AnnStore, StoreFiles}
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore-L").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    val base = emb.filter(col("vec_id") < 300)
    Similarity.encodeAndWritePartitioned(base, "vec_id", "embedding", idx,
      s"$tmp/v1/codes")
    StoreFiles.writeUtf8Atomic(spark, s"$tmp/v1/index.json", idx.toJson)
    StoreFiles.writeUtf8Atomic(spark, s"$tmp/current.json",
      """{"format":"graft-ann-store","current":1}""")
    val e = intercept[IllegalArgumentException] {
      AnnStore.codes(spark, tmp).count()
    }
    assert(e.getMessage.contains("pre-manifest store layouts are not supported"),
      e.getMessage)
    // r12: legacy-tag mark migration (same contract as the BM25 store) —
    // a pre-r11 '_'-leading tag's horizon moves to a writer-valid tag
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-annstore-M").toString
    AnnStore.create(base, "vec_id", "embedding", idx, tmp2)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 320)
    assert(AnnStore.appendBatch(batch, "vec_id", "embedding", tmp2, "crawl", 2L))
    assert(AnnStore.appendBatch(batch.limit(1), "vec_id", "embedding", tmp2,
      "side.feed", 4L))
    val manP = s"$tmp2/v1/codes-manifest.json"
    val man = StoreFiles.readUtf8(spark, manP)
    StoreFiles.writeUtf8Atomic(spark, manP,
      man.replace("\"crawl\":", "\"_crawl\":"))
    intercept[IllegalArgumentException] {
      AnnStore.appendBatch(batch, "vec_id", "embedding", tmp2, "_crawl", 3L)
    }
    AnnStore.renameStreamMark(spark, tmp2, "_crawl", "crawl2")
    assert(!AnnStore.appendBatch(batch, "vec_id", "embedding", tmp2,
      "crawl2", 2L), "migrated mark lost the replay horizon")
    intercept[IllegalArgumentException] { // never overwrite an existing mark
      AnnStore.renameStreamMark(spark, tmp2, "crawl2", "side.feed")
    }
  }

  test("AnnStore codes compaction collapses per-append files; serve identical; old versions droppable") {
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstore-c").toString
    val idx = Similarity.trainIvfPq(emb, "vec_id", "embedding",
      nCentroids = 16, m = 8, ksub = 16)
    // build from 1/3 of the corpus, append the rest in two batches —
    // three file generations inside every probed cell partition
    AnnStore.create(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", idx, tmp)
    AnnStore.append(emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", tmp)
    AnnStore.append(emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", tmp)
    def serveRows() = rows(AnnStore.serve(tmp, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nProbe = 12))
    val before = serveRows()
    // LIVE (manifest-listed) footprint: raw dir walks would also count
    // the still-cooling grace copies of the superseded generations
    val filesBefore = AnnStore.liveCodeFileCount(spark, tmp)
    AnnStore.compactCodes(spark, tmp)
    assert(serveRows() == before)
    val filesAfter = AnnStore.liveCodeFileCount(spark, tmp)
    assert(filesAfter < filesBefore,
      s"codes compaction did not collapse files: $filesBefore -> $filesAfter")
    // migrate then GC the old version: current survives, v1 is removed
    AnnStore.migrate(emb, "vec_id", "embedding", idx, tmp)
    AnnStore.dropOldVersions(spark, tmp)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/v1")))
    assert(serveRows().nonEmpty) // v2 serves
  }

  test("AnnStore streamed takedown batches: per-tag marks make redelivery exactly-once") {
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annsdel").toString
    val idx = Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 16)
    AnnStore.create(emb, "vec_id", "embedding", idx, tmp)
    def tc() = AnnStore.tombstoneCount(spark, tmp)
    assert(AnnStore.deleteBatch(emb.limit(3).select("vec_id"),
      "vec_id", tmp, "kill", 0L) == 3L)
    assert(tc() == 3L)
    // redelivery no-ops regardless of payload
    assert(AnnStore.deleteBatch(emb.limit(7).select("vec_id"),
      "vec_id", tmp, "kill", 0L) == 0L)
    assert(tc() == 3L)
    // empty batch advances the mark
    assert(AnnStore.deleteBatch(emb.filter(lit(false)).select("vec_id"),
      "vec_id", tmp, "kill", 1L) == 0L)
    assert(AnnStore.deleteBatch(emb.limit(7).select("vec_id"),
      "vec_id", tmp, "kill", 1L) == 0L)
    // marks survive compaction: tombstones retire, old batches still no-op
    AnnStore.compactCodes(spark, tmp)
    assert(tc() == 0L)
    assert(AnnStore.deleteBatch(emb.limit(3).select("vec_id"),
      "vec_id", tmp, "kill", 1L) == 0L)
    assert(AnnStore.deleteBatch(emb.limit(2).select("vec_id"),
      "vec_id", tmp, "kill", 2L) == 2L)
    assert(tc() == 2L)
  }

  test("AnnStore delete: tombstones mask instantly, compaction erases physically, migrate cannot resurrect") {
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-anndel").toString
    // full-probe IVF (nProbe = nCentroids) is EXACT brute force, so every
    // serve below compares against bruteForceTopK on the expected live set
    val idx = Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 16)
    AnnStore.create(emb, "vec_id", "embedding", idx, tmp)
    def serveAll() = rows(AnnStore.serve(tmp, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nProbe = 16))
    val before = serveAll()
    val doomed = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
    val doomedIds = doomed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(before.exists(r => doomedIds.contains(r._2)),
      "precondition: the takedown set must appear in the pre-delete top-k")

    val n = AnnStore.delete(doomed.select("vec_id"), "vec_id", tmp)
    assert(n == doomedIds.size.toLong)
    assert(AnnStore.tombstoneCount(spark, tmp) == n)
    // a repeated takedown list adds duplicate tombstone ROWS but the live
    // id set (and therefore the serve) is unchanged
    assert(AnnStore.delete(doomed.select("vec_id"), "vec_id", tmp) == n)
    assert(AnnStore.tombstoneCount(spark, tmp) == n)

    // masked immediately, exactly: serve == brute force over the live set
    val live = emb.filter(pmod(col("vec_id"), lit(7)) =!= 3)
    val exact = rows(Similarity.bruteForceTopK(live, "vec_id", "embedding",
      queries, "qid", "qv", k = 5))
    val masked = serveAll()
    assert(!masked.exists(r => doomedIds.contains(r._2)))
    assert(masked == exact)
    // the recall probe's brute side must rank the same live set — an
    // unfiltered corpus would count every tombstoned id as a miss
    assert(AnnStore.recallProbe(tmp, emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, nProbe = 16) == 1.0)

    // physical erasure: compaction drops the rows and retires tombstones
    AnnStore.compactCodes(spark, tmp)
    assert(AnnStore.tombstoneCount(spark, tmp) == 0L)
    assert(serveAll() == exact)
    assert(AnnStore.codes(spark, tmp)
      .filter(col("corpus_id").isin(doomedIds.toSeq: _*)).isEmpty,
      "tombstoned rows must be physically absent from the compacted codes")
    // retired tombstone generations follow the cooling sweep: with the
    // grace window zeroed the SECOND compaction removes the dirs
    spark.conf.set("graft.store.gcGraceMs", "0")
    try AnnStore.compactCodes(spark, tmp)
    finally spark.conf.unset("graft.store.gcGraceMs")
    val tombsDir = java.nio.file.Paths.get(s"$tmp/v1/tombs")
    assert(!java.nio.file.Files.exists(tombsDir) ||
      !java.nio.file.Files.list(tombsDir).findAny().isPresent,
      "cooled-out tombstone generations must sweep")

    // post-retirement re-ingest: the SAME ids are visible again (the
    // documented delete→compact→re-add contract)
    AnnStore.append(doomed.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", tmp)
    assert(serveAll() == before)

    // migrate cannot resurrect: tombstone again, then re-index from the
    // FULL corpus — the new version must exclude the live tombstones and
    // start tombstone-free (the deletion is physical in v2)
    AnnStore.delete(doomed.select("vec_id"), "vec_id", tmp)
    assert(AnnStore.migrate(emb, "vec_id", "embedding", idx, tmp) == 2)
    assert(serveAll() == exact)
    assert(AnnStore.tombstoneCount(spark, tmp) == 0L)

    // guards: a null id refuses loudly; an empty takedown list is a 0
    // no-op that commits nothing
    intercept[Exception](AnnStore.delete(
      spark.range(1).select(lit(null).cast("long").as("vec_id")),
      "vec_id", tmp))
    val m0 = AnnStore.tombstoneCount(spark, tmp)
    assert(AnnStore.delete(emb.filter(lit(false)).select("vec_id"),
      "vec_id", tmp) == 0L)
    assert(AnnStore.tombstoneCount(spark, tmp) == m0)
    // the cap is enforced, names the knob, and rolls back the generation
    spark.conf.set("graft.ann.maxTombstones", "2")
    try {
      val e = intercept[RuntimeException](AnnStore.delete(
        emb.limit(5).select("vec_id"), "vec_id", tmp))
      assert(e.getMessage.contains("graft.ann.maxTombstones"))
      assert(AnnStore.tombstoneCount(spark, tmp) == m0,
        "a refused delete must not leave a committed tombstone generation")
    } finally spark.conf.unset("graft.ann.maxTombstones")
  }

  test("AnnStore: an emptied store retires later tombstones at compaction") {
    // r14 ADVICE (the compactCodes analog of the BM25 finding): deletes
    // against a store emptied by a full-tombstone compaction used to
    // commit tombstones the gens-empty early return could never retire
    import graft.ext.AnnStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-annempty").toString
    val idx = Similarity.trainIvf(emb, "vec_id", "embedding", nCentroids = 8)
    AnnStore.create(emb, "vec_id", "embedding", idx, tmp)
    AnnStore.delete(emb.select("vec_id"), "vec_id", tmp): Unit
    AnnStore.compactCodes(spark, tmp) // full takedown → gens = Nil
    assert(AnnStore.tombstoneCount(spark, tmp) == 0L)
    intercept[Exception](AnnStore.codes(spark, tmp)) // honest empty state
    // a takedown list still commits against the empty store (the mask
    // must survive a future re-ingest) and ONE compaction retires it
    assert(AnnStore.delete(emb.limit(4).select("vec_id"),
      "vec_id", tmp) == 4L)
    AnnStore.compactCodes(spark, tmp)
    assert(AnnStore.tombstoneCount(spark, tmp) == 0L,
      "compaction on an emptied store must retire live tombstones")
    // r15 review: the emptying compaction left its superseded codes
    // generation cooling as a grace copy — the gens-empty branch must
    // keep cooling it out, or an emptied store leaks it forever
    def codeGenDirs(): Int = {
      val f = graft.ext.StoreFiles.fs(spark, s"$tmp/v1/codes")
      val p = new org.apache.hadoop.fs.Path(s"$tmp/v1/codes")
      if (!f.exists(p)) 0
      else f.listStatus(p).count(st => st.isDirectory &&
        !st.getPath.getName.startsWith("."))
    }
    assert(codeGenDirs() > 0,
      "precondition: grace copies still cooling under the default window")
    spark.conf.set("graft.store.gcGraceMs", "0")
    try {
      AnnStore.compactCodes(spark, tmp)
      assert(codeGenDirs() == 0,
        "cooled-out codes generations must sweep on an emptied store")
    } finally spark.conf.unset("graft.store.gcGraceMs")
  }
}
