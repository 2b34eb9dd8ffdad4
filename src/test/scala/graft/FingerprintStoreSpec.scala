package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, FingerprintStore}

class FingerprintStoreSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox"), (2L, "jumped over the dog"),
    (3L, "  The  QUICK brown fox "), // normalizes equal to doc 1
    (4L, "completely different")).toDF("doc_id", "text")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-fpstore").toString

  test("scrub from store equals the rebuild-per-call bloom path row-for-row") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val incoming = Seq(
      (10L, "the quick brown fox"),     // exact re-crawl
      (11L, "THE QUICK  BROWN FOX"),    // normalized re-crawl
      (12L, "genuinely new content"),
      (13L, "completely different")).toDF("doc_id", "text")
    val fromStore = FingerprintStore.scrub(incoming, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val direct = Dedup.dropExistingExactBloom(incoming, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(fromStore.toSeq == Seq(12L))
    assert(fromStore.toSeq == direct.toSeq)
  }

  test("append extends membership; re-scrub of appended content drops it") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val batch = Seq((20L, "second crawl content"), (21L, "the quick brown fox"))
      .toDF("doc_id", "text")
    FingerprintStore.append(batch, "text", dir)
    val next = Seq(
      (30L, "second crawl content"),    // seen in the appended batch
      (31L, "jumped over the dog"),     // seen in the original corpus
      (32L, "third crawl content")).toDF("doc_id", "text")
    val got = FingerprintStore.scrub(next, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(32L))
    // append-once ≡ build-over-union membership (fps parquet is the truth)
    val dir2 = tmp()
    FingerprintStore.build(corpus.unionByName(batch), "text", dir2)
    val alt = FingerprintStore.scrub(next, "text", dir2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == alt.toSeq)
  }

  test("bloom false positives cannot drop fresh docs (exact confirmation)") {
    // a filter sized for 1 item at high fpp saturates instantly — every
    // candidate prefilters through, and the fps-parquet confirmation must
    // still keep every genuinely new doc
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir, expectedItems = 1L, fpp = 0.5)
    val incoming = (100L to 140L).map(i => (i, s"new doc number $i"))
      .toDF("doc_id", "text")
    val kept = FingerprintStore.scrub(incoming, "text", dir).count()
    assert(kept == 41L)
  }

  test("incoming frame with its own `fp` column scrubs without ambiguity") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val incoming = Seq((10L, "the quick brown fox", 111L),
      (11L, "brand new content", 222L)).toDF("doc_id", "text", "fp")
    val got = FingerprintStore.scrub(incoming, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L))
  }

  test("scrub prefilter is a native expression: no ScalaUDF anywhere in the plan") {
    // r9: the bloom probe sits on the full-width ingest scan; a ScalaUDF
    // there breaks whole-stage codegen on exactly the scan the prefilter
    // exists to keep cheap. Both the store scrub and the direct bloom
    // path must plan UDF-free.
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    // parquet-backed incoming: a LocalRelation would fold the filter at
    // optimize time and the probe would never reach the physical plan
    val incomingDir = tmp()
    Seq((10L, "the quick brown fox"), (11L, "new content"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(incomingDir)
    val incoming = spark.read.parquet(incomingDir)
    val storePlan = FingerprintStore.scrub(incoming, "text", dir)
      .queryExecution.executedPlan.toString
    assert(!storePlan.contains("ScalaUDF"), s"store scrub plan has a UDF:\n$storePlan")
    assert(storePlan.contains("graft_bloom_might_contain"),
      s"native bloom probe missing from plan:\n$storePlan")
    val directPlan = Dedup.dropExistingExactBloom(incoming, corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!directPlan.contains("ScalaUDF"), s"direct bloom plan has a UDF:\n$directPlan")
  }

  test("compaction collapses fps files and rebuilds the filter; scrub row-identical; re-size works") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    for (b <- 1 to 3)
      FingerprintStore.append(
        Seq((100L + b, s"crawl batch $b content"), (200L + b, s"more batch $b text"))
          .toDF("doc_id", "text"), "text", dir)
    val incoming = Seq(
      (300L, "the quick brown fox"),   // original corpus
      (301L, "crawl batch 2 content"), // appended batch
      (302L, "never seen before")).toDF("doc_id", "text")
    def scrubbed() = FingerprintStore.scrub(incoming, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = scrubbed()
    assert(before == Seq(302L))
    val filesBefore = FingerprintStore.liveFileCount(spark, dir)
    FingerprintStore.compact(spark, dir)
    assert(scrubbed() == before)
    assert(FingerprintStore.liveFileCount(spark, dir) < filesBefore,
      "compaction did not collapse fps files")
    // superseded generations cool for the grace window, then sweep
    spark.conf.set("graft.store.gcGraceMs", "0")
    try FingerprintStore.compact(spark, dir)
    finally spark.conf.unset("graft.store.gcGraceMs")
    assert(scrubbed() == before)
    // appends after compaction still merge into the rebuilt filter
    FingerprintStore.append(Seq((400L, "post compact batch")).toDF("doc_id", "text"),
      "text", dir)
    val inc2 = Seq((500L, "post compact batch"), (501L, "still new")).toDF("doc_id", "text")
    assert(FingerprintStore.scrub(inc2, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(501L))
    // geometry re-size on compact: meta updated, membership intact
    FingerprintStore.compact(spark, dir, expectedItems = 50000L, fpp = 0.001)
    assert(scrubbed() == before)
    FingerprintStore.append(Seq((600L, "resized geometry append")).toDF("doc_id", "text"),
      "text", dir) // mergeInPlace at the NEW geometry must not throw
    assert(FingerprintStore.scrub(
      Seq((700L, "resized geometry append")).toDF("doc_id", "text"), "text", dir)
      .count() == 0L)
  }

  test("manifest crash windows: orphan gens are invisible and GC'd; superset filter is harmless (r12)") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val incoming = Seq((60L, "the quick brown fox"), (61L, "fresh post-crash doc"))
      .toDF("doc_id", "text")
    def scrubbed() = FingerprintStore.scrub(incoming, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = scrubbed()
    assert(want == Seq(61L))
    // crash mid-append AFTER the gen write, BEFORE the manifest flip:
    // hand-craft the orphan (never in any manifest) — the scrub must not
    // drop doc 61 (candidates confirm against COMMITTED fps only, and a
    // superset FILTER alone cannot drop anything: the saturated-filter
    // test above proves bloom hits without committed fps are kept)
    Seq("fresh post-crash doc").toDF("text")
      .select(graft.ext.TextAnalysis.fingerprint64(col("text")).as("fp"))
      .write.parquet(s"$dir/fps/g99")
    assert(scrubbed() == want, "orphan gen leaked into the serve")
    // the next compact sweeps the orphan immediately (it cools nothing —
    // it was never committed)
    FingerprintStore.compact(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/fps/g99")), "orphan gen not GC'd")
    assert(scrubbed() == want)
  }

  test("streamed appendBatch: re-delivered (tag, batchId) commits once; pre-manifest v1 layout is refused") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val batch = Seq((70L, "streamed crawl content")).toDF("doc_id", "text")
    assert(FingerprintStore.appendBatch(batch, "text", dir, "crawl", 0L))
    def dropped() = FingerprintStore.scrub(
      Seq((80L, "streamed crawl content")).toDF("doc_id", "text"),
      "text", dir).count()
    assert(dropped() == 0L)
    val files = FingerprintStore.liveFileCount(spark, dir)
    assert(!FingerprintStore.appendBatch(batch, "text", dir, "crawl", 0L),
      "retried batch reported a second commit")
    assert(FingerprintStore.liveFileCount(spark, dir) == files)
    // ...and the mark survives compaction
    FingerprintStore.compact(spark, dir)
    assert(!FingerprintStore.appendBatch(batch, "text", dir, "crawl", 0L))
    assert(dropped() == 0L)
    // v1 layout (flat fps files + meta.json, no manifest): downgrade a
    // fresh store by hand — every read refuses loudly, naming the layout
    val dir2 = tmp()
    FingerprintStore.build(corpus, "text", dir2)
    val g0 = java.nio.file.Paths.get(s"$dir2/fps/g0")
    java.nio.file.Files.list(g0).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).foreach { p =>
        java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$dir2/fps").resolve(p.getFileName))
      }
    java.nio.file.Files.delete(g0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir2/manifest.json"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir2/meta.json"),
      """{"format": "graft-fingerprint-store", "version": 1, "expected_items": 1024, "fpp": 0.01}"""
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      FingerprintStore.scrub(corpus, "text", dir2).count()
    }
    assert(e.getMessage.contains("pre-manifest store layouts are not supported"),
      e.getMessage)
  }

  test("manifest sentinel: a non-store directory is refused on append") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/manifest.json"),
      """{"format": "something-else"}""".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      FingerprintStore.append(corpus, "text", dir)
    }
  }

  test("retract: re-crawls of retracted content pass instantly; compaction erases physically and heals the filter") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val incoming = Seq(
      (10L, "the quick brown fox"),   // retracted below → must pass after
      (11L, "jumped over the dog"),   // still a member → dropped
      (12L, "genuinely new content")).toDF("doc_id", "text")
    def kept() = FingerprintStore.scrub(incoming, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept() == Seq(12L))

    // retract doc 1's text — doc 3 normalizes to the same fingerprint,
    // so ONE retraction fp covers both copies
    val n = FingerprintStore.retract(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"), "text", dir)
    assert(n == 1L)
    assert(FingerprintStore.retractionCount(spark, dir) == 1L)
    // masked instantly: the bloom prefilter still hits, but the confirm
    // runs against membership minus retractions — FP costs a confirm,
    // never a drop
    assert(kept() == Seq(10L, 12L))
    // store-wide until retired: re-appending the same text stays masked
    FingerprintStore.append(
      Seq((20L, "THE QUICK brown fox")).toDF("doc_id", "text"), "text", dir)
    assert(kept() == Seq(10L, 12L))

    // compaction: physical erasure + filter heal + retirement. Grace 0 +
    // a second compaction sweeps the superseded generations, so the glob
    // below counts exactly the live rows.
    spark.conf.set("graft.store.gcGraceMs", "0")
    try {
      FingerprintStore.compact(spark, dir)
      FingerprintStore.compact(spark, dir)
    } finally spark.conf.unset("graft.store.gcGraceMs")
    assert(FingerprintStore.retractionCount(spark, dir) == 0L)
    assert(kept() == Seq(10L, 12L))
    // corpus had 3 distinct fps; one retracted → 2 distinct physically
    // remain (the glob still sees one grace-window copy of the previous
    // compaction's — already scrubbed — generation, hence distinct)
    assert(spark.read.parquet(s"$dir/fps/*").distinct().count() == 2L,
      "retracted fingerprints must be physically absent after compaction")

    // tombstone retired: re-adding the text now re-establishes membership
    FingerprintStore.append(
      Seq((21L, "the quick brown fox")).toDF("doc_id", "text"), "text", dir)
    assert(kept() == Seq(12L))

    // guards: empty retraction is a 0 no-op; the cap names its knob and
    // rolls back the refused generation
    assert(FingerprintStore.retract(
      corpus.filter(lit(false)), "text", dir) == 0L)
    spark.conf.set("graft.fpstore.maxTombstones", "1")
    try {
      val e = intercept[RuntimeException](
        FingerprintStore.retract(corpus, "text", dir))
      assert(e.getMessage.contains("graft.fpstore.maxTombstones"))
      assert(FingerprintStore.retractionCount(spark, dir) == 0L)
    } finally spark.conf.unset("graft.fpstore.maxTombstones")

    // a NULL text refuses loudly (r14 ADVICE): it fingerprints to a null
    // fp that is inert in the non-null-safe anti-join yet counted toward
    // n and the cap — a caller asserting n > 0 would see a false success
    val e2 = intercept[RuntimeException](FingerprintStore.retract(
      Seq((99L, null: String)).toDF("doc_id", "text"), "text", dir))
    assert(e2.getMessage.contains("null id"))
    assert(FingerprintStore.retractionCount(spark, dir) == 0L,
      "a refused retraction must not leave a committed generation")
  }

  test("retract crash windows: stage orphans invisible + swept; unpublished generations invisible + reclaimed (r15)") {
    // The r15 tombstone commit stages hidden, checks from the footers,
    // then renames into place before the manifest flip. Two crash
    // windows, both of which must leave the store serving correctly:
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    val f = graft.ext.StoreFiles.fs(spark, dir)
    def exists(rel: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$dir/$rel"))
    // 1. crash BEFORE the rename: a completed .stage-* dir. Hidden, so
    //    no reader (manifest or directory-listing) ever sees its rows.
    Seq(111L, 222L).toDF("fp").write.parquet(s"$dir/tombs/.stage-g97")
    assert(FingerprintStore.retractionCount(spark, dir) == 0L)
    // 2. crash AFTER the rename, BEFORE the manifest flip: a visible
    //    generation the manifest never listed. Invisible to every read.
    Seq(333L).toDF("fp").write.parquet(s"$dir/tombs/g98")
    assert(FingerprintStore.retractionCount(spark, dir) == 0L)
    // the next retraction sweeps the stale stage orphan, skips the g98
    // name (strictly-above generation naming never adopts an orphan),
    // and commits normally
    val n = FingerprintStore.retract(
      corpus.filter(col("doc_id") === 1L), "text", dir)
    assert(n == 1L)
    assert(!exists("tombs/.stage-g97"), "stale stage orphan must sweep")
    assert(exists("tombs/g98"), "the orphan is not the new writer's to adopt yet")
    assert(FingerprintStore.retractionCount(spark, dir) == 1L)
    // compaction retires the live retraction AND reclaims the g98 orphan
    // (sweepGenerations keeps only manifest-listed + cooling dirs)
    FingerprintStore.compact(spark, dir)
    assert(FingerprintStore.retractionCount(spark, dir) == 0L)
    assert(!exists("tombs/g98"), "compaction must reclaim the unpublished orphan")
    // the store still serves the compacted membership minus the
    // retraction: doc 1's text passes the scrub again, doc 4's is held
    val back = Seq((40L, "the quick brown fox"), (41L, "completely different"))
      .toDF("doc_id", "text")
    assert(FingerprintStore.scrub(back, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(40L))
  }

  test("compactIfNeeded: no-op under thresholds, bounds files over them, erasure-deadline face heals tombstones; damaged store refuses (r17)") {
    val dir = tmp()
    FingerprintStore.build(corpus, "text", dir)
    // a freshly-built store is under any sane threshold: no-op
    assert(!FingerprintStore.compactIfNeeded(spark, dir))
    // fragment via streamed appends (the nightly shape)
    (1 to 6).foreach { i =>
      val b = Seq((1000L + i, s"fp cadence batch $i content"))
        .toDF("doc_id", "text")
      FingerprintStore.appendBatch(b, "text", dir, "cad", i.toLong): Unit
    }
    val frag = FingerprintStore.liveFileCount(spark, dir)
    val probe = Seq((50L, "fp cadence batch 3 content"),
      (51L, "the quick brown fox"), (52L, "never seen text"))
      .toDF("doc_id", "text")
    def kept() = FingerprintStore.scrub(probe, "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept() == Seq(52L))
    // growth face: threshold below the fragmented count → compaction
    // runs, file count drops, membership identical
    assert(FingerprintStore.compactIfNeeded(spark, dir,
      maxLiveFiles = frag - 1))
    assert(FingerprintStore.liveFileCount(spark, dir) < frag)
    assert(kept() == Seq(52L), "cadence compaction must not change scrubs")
    // erasure-deadline face: a takedown leaves live tombstone rows;
    // maxTombstoneRows=0 forces the heal on the next cadence call
    assert(FingerprintStore.retract(
      Seq((1L, "the quick brown fox")).toDF("doc_id", "text"),
      "text", dir) == 1L)
    assert(FingerprintStore.retractionCount(spark, dir) == 1L)
    assert(!FingerprintStore.compactIfNeeded(spark, dir,
      maxTombstoneRows = -1L), "growth-only policy must ignore tombstones")
    assert(FingerprintStore.compactIfNeeded(spark, dir,
      maxTombstoneRows = 0L))
    assert(FingerprintStore.retractionCount(spark, dir) == 0L,
      "deadline compaction must physically erase and retire tombstones")
    assert(kept() == Seq(51L, 52L),
      "a re-crawl of the retracted text must pass after the heal")
    // damaged store: a manifest-listed tombstone generation missing on
    // disk must refuse the deadline evaluation, not satisfy it with 0
    assert(FingerprintStore.retract(
      Seq((2L, "jumped over the dog")).toDF("doc_id", "text"),
      "text", dir) == 1L)
    // delete EVERY tombs/ gen dir (the live one is among them; cooling
    // leftovers from the earlier heal are not manifest-listed and their
    // removal is inert)
    val f = graft.ext.StoreFiles.fs(spark, dir)
    f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/tombs"))
      .filter(_.isDirectory).foreach(s => f.delete(s.getPath, true): Unit)
    val e = intercept[IllegalArgumentException](
      FingerprintStore.compactIfNeeded(spark, dir, maxTombstoneRows = 0L))
    assert(e.getMessage.contains("missing on disk"), e.getMessage)
  }
}
