package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.ValidationLedger
import graft.schema.{ColumnSchema, DataFrameSchema}
import graft.checks.Check

class ValidationLedgerSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-vledger").toString

  // 4 partitions p0..p3 (by id % 4); v is negative exactly for odd ids,
  // so p1/p3 fail ge(0) on EVERY row and p0/p2 on none — the ledger must
  // record both failing and clean partitions. p3 rows all share dup=7 (a
  // unique-check violation within that partition only).
  private def corpus = spark.range(400).select(
    concat(lit("p"), col("id") % 4).as("part"),
    when(col("id") % 2 === 1, -col("id")).otherwise(col("id")).as("v"),
    when(col("id") % 4 === 3, lit(7L)).otherwise(col("id")).as("dup"))

  private val schema = DataFrameSchema(
    "part" -> ColumnSchema.of(StringType),
    "v" -> ColumnSchema.of(LongType, Check.ge(0L)),
    "dup" -> ColumnSchema(dtype = Some(LongType), unique = true))

  test("incremental validation: unseen partitions only, idempotent, immutable verdicts") {
    val dir = tmp()
    // increment 1: two partitions
    val inc1 = ValidationLedger.validateIncrement(schema,
      corpus.filter(col("part").isin("p0", "p1")), "part", dir, "b1")
    assert(inc1.select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("p0", "p1"))
    // increment 2 sees the FULL corpus but must validate only p2/p3
    val inc2 = ValidationLedger.validateIncrement(schema,
      corpus, "part", dir, "b2")
    assert(inc2.select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("p2", "p3"))
    // idempotent: nothing new -> empty result, no new generation
    val inc3 = ValidationLedger.validateIncrement(schema,
      corpus, "part", dir, "b3")
    assert(inc3.isEmpty)
    // verdicts are immutable: re-feeding a seen partition with DIFFERENT
    // (now all-failing) rows changes nothing — the ledger is an audit
    // record of what WAS validated
    val mutated = corpus.withColumn("v", lit(-1L))
    assert(ValidationLedger.validateIncrement(schema,
      mutated, "part", dir, "b4").isEmpty)
    val st = ValidationLedger.status(spark, dir).collect()
    assert(st.length == 4)
    val byPart = st.map(r => r.getString(0) ->
      (r.getLong(2), r.getAs[Map[String, Long]](3), r.getLong(4),
        r.getBoolean(5))).toMap
    // every partition has 100 rows; odd partitions fail ge(0) on all of
    // them, even partitions on none (and must read as PASSED)
    for (p <- Seq("p0", "p1", "p2", "p3")) {
      val (n, fails, _, passed) = byPart(p)
      val expect = if (p == "p1" || p == "p3") 100L else 0L
      assert(n == 100L, s"$p n_rows")
      assert(fails("v:greater_than_or_equal_to(0)") == expect, s"$p ge count")
      assert(passed == (expect == 0L && p != "p3"), s"$p passed")
    }
    // dup=7 duplicates exist ONLY within p3 (100 rows, 1 distinct)
    assert(byPart("p3")._2("dup:unique") == 99L)
    assert(byPart("p0")._2("dup:unique") == 0L)
    // batch lineage recorded per increment
    assert(st.map(_.getString(1)).toSet == Set("b1", "b2"))
  }

  test("coerced partition column: skip-set and ledger keys share one canonical form (r13)") {
    // partition column arrives as zero-padded STRINGS but the schema
    // declares LongType: the verdict groupBy keys on the coerced cast
    // ("01" → "1"). The skip-set must use the same form, or the partition
    // never matches and re-validates + re-appends on every run.
    val dir = tmp()
    val padded = spark.range(100).select(
      format_string("%02d", col("id") % 3).as("part"),
      col("id").as("v"))
    val sch = DataFrameSchema(
      "part" -> ColumnSchema(dtype = Some(LongType), coerce = true),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L)))
    val inc1 = ValidationLedger.validateIncrement(sch, padded, "part", dir, "b1")
    assert(inc1.select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("0", "1", "2"))
    // re-run over the same data: idempotent — no duplicate audit rows
    assert(ValidationLedger.validateIncrement(sch, padded, "part", dir, "b2")
      .isEmpty)
    assert(ValidationLedger.status(spark, dir).count() == 3L)
  }

  test("streamed increments: per-tag marks make redelivery exactly-once (r13)") {
    val dir = tmp()
    val b0 = corpus.filter(col("part").isin("p0", "p1"))
    assert(ValidationLedger.validateIncrementBatch(schema, b0, "part", dir,
      "n0", "s1", 0L).count() == 2L)
    // redelivered batch 0: the mark short-circuits before any scan
    assert(ValidationLedger.validateIncrementBatch(schema, b0, "part", dir,
      "n0", "s1", 0L).isEmpty)
    // batch 1 covers only seen partitions: no generation, but the mark
    // still advances so ITS redelivery also short-circuits
    assert(ValidationLedger.validateIncrementBatch(schema, b0, "part", dir,
      "n1", "s1", 1L).isEmpty)
    assert(ValidationLedger.validateIncrementBatch(schema, b0, "part", dir,
      "n1", "s1", 1L).isEmpty)
    // batch 2 brings the unseen partitions
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "n2", "s1", 2L)
      .select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("p2", "p3"))
    assert(ValidationLedger.status(spark, dir).count() == 4L)
    // a second tag has its own replay horizon (skip-set still wins)
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "x", "s2", 0L).isEmpty)
    // compaction preserves marks: the redelivery still short-circuits
    ValidationLedger.compact(spark, dir)
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "n2", "s1", 2L).isEmpty)
    assert(ValidationLedger.status(spark, dir).count() == 4L)
    // stream-tag rule: the g<N> auto-generation namespace is refused
    intercept[IllegalArgumentException](
      ValidationLedger.validateIncrementBatch(schema, corpus, "part", dir,
        "x", "_bad", 3L))
  }

  test("caller-asserted candidates skip discovery and match the scan path (r13)") {
    // candidates = tonight's canonical partition keys: no discovery scan
    // (the ScaleProbe measured discovery at a full corpus file-touch);
    // verdicts must be byte-identical to the discovery path's
    val dirA = tmp(); val dirB = tmp()
    ValidationLedger.validateIncrement(schema,
      corpus.filter(col("part").isin("p0", "p1")), "part", dirA, "b1"): Unit
    ValidationLedger.validateIncrement(schema, corpus, "part", dirA, "b2"): Unit
    ValidationLedger.validateIncrement(schema,
      corpus.filter(col("part").isin("p0", "p1")), "part", dirB, "b1",
      candidates = Some(Seq("p0", "p1"))): Unit
    val inc2 = ValidationLedger.validateIncrement(schema, corpus, "part",
      dirB, "b2", candidates = Some(Seq("p0", "p1", "p2", "p3")))
    assert(inc2.select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("p2", "p3")) // seen candidates subtracted driver-side
    val a = ValidationLedger.status(spark, dirA).collect().map(_.toString).toSeq
    val b = ValidationLedger.status(spark, dirB).collect().map(_.toString).toSeq
    assert(a == b, "candidate-path ledger diverged from discovery path")
    // all-seen candidates: no-op, nothing appended
    assert(ValidationLedger.validateIncrement(schema, corpus, "part", dirB,
      "b3", candidates = Some(Seq("p1", "p3"))).isEmpty)
    // a candidate with NO rows in the data: no verdict row is invented
    assert(ValidationLedger.validateIncrement(schema, corpus, "part", dirB,
      "b4", candidates = Some(Seq("p9"))).isEmpty)
    assert(ValidationLedger.status(spark, dirB).count() == 4L)
    // rows OUTSIDE the candidate set are ignored this call (the caller
    // asserts the increment's partition set): p3 arrives later intact
    val dirC = tmp()
    ValidationLedger.validateIncrement(schema, corpus, "part", dirC, "b1",
      candidates = Some(Seq("p0", "p1", "p2"))): Unit
    assert(ValidationLedger.status(spark, dirC).count() == 3L)
    val late = ValidationLedger.validateIncrement(schema, corpus, "part",
      dirC, "b2", candidates = Some(Seq("p3")))
    assert(late.count() == 1L && late.head().getLong(2) == 100L)
    // null candidate refused loudly
    intercept[IllegalArgumentException](
      ValidationLedger.validateIncrement(schema, corpus, "part", dirC, "b5",
        candidates = Some(Seq("p0", null))))
  }

  test("streamed candidates refuse out-of-set batch partitions before committing (r14)") {
    // The streamed twin's mark advances on commit, so a batch partition
    // outside candidates ∪ validated would be dropped FOREVER — unlike
    // the batch form, where ignoring is safe (a later call validates).
    // The guard must refuse BEFORE any commit: no generation, no mark.
    val dir = tmp()
    val ex = intercept[IllegalArgumentException](
      ValidationLedger.validateIncrementBatch(schema, corpus, "part", dir,
        "n0", "s1", 0L, candidates = Some(Seq("p0", "p1"))))
    assert(ex.getMessage.contains("outside the candidate set"))
    assert(!new java.io.File(s"$dir/manifest.json").exists(),
      "refusal must commit nothing")
    // the retry with corrected candidates stays exactly-once (the mark
    // never advanced) and validates all four partitions
    val inc = ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "n0", "s1", 0L, candidates = Some(Seq("p0", "p1", "p2", "p3")))
    assert(inc.count() == 4L)
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "n0", "s1", 0L, candidates = Some(Seq("p0"))).isEmpty)
    // ALREADY-validated batch partitions outside the candidate list are
    // not dropped work — no refusal, no-op, the mark advances
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "n1", "s1", 1L, candidates = Some(Seq("p0", "p1"))).isEmpty)
    assert(ValidationLedger.status(spark, dir).count() == 4L)
    // a NULL batch partition has no ledger identity: same loud guard
    val withNull = corpus.withColumn("part",
      when(col("v") === 0L, lit(null)).otherwise(col("part")))
    intercept[IllegalArgumentException](
      ValidationLedger.validateIncrementBatch(schema, withNull, "part", dir,
        "n2", "s1", 2L, candidates = Some(Seq("p0", "p1", "p2", "p3"))))
  }

  test("increment scan partition-prunes at the file listing (r13)") {
    // The 100 TB contract: validating tonight's increment must cost a
    // scan of the NEW partitions, not the corpus. Over a disk-partitioned
    // source, an increment that validates 2 of 4 partitions must READ
    // only those partitions' rows in its grouped pass — the isin filter
    // on the partition column prunes at the file listing (Catalyst
    // partition pruning; local-FS bytesRead was measured proportional to
    // FILE OPENS, not bytes, so records are the deterministic signal).
    // Per-call source records: the skip-set distinct scan reads all 4000
    // partition-column rows (directory metadata, ~zero data bytes); the
    // grouped pass reads 4000 (fresh all-partition validation) vs 2000
    // (increment) vs 0 (all-seen no-op).
    val dataDir = tmp() + "/data"
    spark.range(4000).select(
      concat(lit("p"), col("id") % 4).as("part"), col("id").as("v"))
      .write.partitionBy("part").parquet(dataDir)
    val data = spark.read.parquet(dataDir)
    val sch = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L)))
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recs.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    // the listener bus is async: instead of fixed sleeps (r13 advice —
    // scheduler timing or bus lag could flake tight windows), poll the
    // counter until it has been stable for 500 ms (10 s timeout)
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = recs.get(); var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 500L * 1000 * 1000 &&
          System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = recs.get()
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
    }
    def measure(f: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      quiesce() // drain in-flight events from earlier work
      recs.set(0L)
      try { f; quiesce() }
      finally spark.sparkContext.removeSparkListener(listener)
      recs.get()
    }
    // r14: the streamed-candidates guard costs ONE scan of the batch,
    // not two — the out-of-set check reads the persisted AGGREGATED
    // frame (one row per batch partition), never the batch again. A
    // parquet-backed 4000-row batch must read ~4000 source records
    // (a separate guard scan would double it), and a redelivered batch
    // must read ~none (mark short-circuit before any data).
    val sDir = tmp()
    val streamedRecs = measure(
      ValidationLedger.validateIncrementBatch(sch, data, "part", sDir,
        "s0", "sg", 0L,
        candidates = Some(Seq("p0", "p1", "p2", "p3"))).count(): Unit)
    assert(streamedRecs >= 4000L && streamedRecs <= 4400L,
      s"streamed-candidates increment read $streamedRecs source records " +
        "(want ~4000: ONE grouped scan of the batch; the guard must not " +
        "rescan it)")
    val redeliveredRecs = measure(
      ValidationLedger.validateIncrementBatch(sch, data, "part", sDir,
        "s0", "sg", 0L,
        candidates = Some(Seq("p0", "p1", "p2", "p3"))).isEmpty: Unit)
    assert(redeliveredRecs <= 100L,
      s"redelivered batch read $redeliveredRecs records (mark must " +
        "short-circuit before any scan)")
    // fresh ledger validating ALL four partitions: the full-scan baseline
    // (distinct 4000 + grouped 4000)
    val allRecs = measure(ValidationLedger.validateIncrement(
      sch, data, "part", tmp(), "all"): Unit)
    assert(allRecs >= 8000L, s"baseline read $allRecs source records")
    // ledger with p0/p1 committed; the full-source increment's grouped
    // pass must read only p2/p3 (distinct 4000 + grouped 2000 + a few
    // ledger rows)
    val dir = tmp()
    ValidationLedger.validateIncrement(sch,
      data.filter(col("part").isin("p0", "p1")), "part", dir, "b1"): Unit
    val incRecs = measure(ValidationLedger.validateIncrement(
      sch, data, "part", dir, "b2"): Unit)
    assert(incRecs >= 6000L && incRecs <= 7000L,
      s"increment read $incRecs source records (want ~6000: skip-set " +
        "scan 4000 + grouped pass over ONLY the two new partitions 2000; " +
        "a full-corpus grouped pass would be ~8000) — partition pruning " +
        "regressed")
    // all-seen increment: no grouped pass at all (distinct scan only)
    val seenRecs = measure(
      ValidationLedger.validateIncrement(sch, data, "part", dir, "b3").isEmpty
        : Unit)
    assert(seenRecs <= 4500L,
      s"no-op increment read $seenRecs source records (want ~4000)")
  }

  test("broadcast semi-join fallback (maxInlineParts exceeded) matches the literal path (r13)") {
    val dir = tmp()
    spark.conf.set("graft.ledger.maxInlineParts", "1")
    try {
      val inc1 = ValidationLedger.validateIncrement(schema,
        corpus.filter(col("part").isin("p0", "p1")), "part", dir, "b1")
      assert(inc1.select("partition").collect().map(_.getString(0)).sorted
        .toSeq == Seq("p0", "p1"))
      val inc2 = ValidationLedger.validateIncrement(schema, corpus,
        "part", dir, "b2")
      assert(inc2.select("partition").collect().map(_.getString(0)).sorted
        .toSeq == Seq("p2", "p3"))
      assert(ValidationLedger.validateIncrement(schema, corpus,
        "part", dir, "b3").isEmpty)
      // same verdicts as the literal-inline path computes
      val st = ValidationLedger.status(spark, dir).collect()
      assert(st.length == 4 && st.forall(_.getLong(2) == 100L))
    } finally spark.conf.unset("graft.ledger.maxInlineParts")
  }

  test("grouped fused counts equal the corpus-wide Validator counts") {
    val dir = tmp()
    ValidationLedger.validateIncrement(schema, corpus, "part", dir, "all")
    val summary = ValidationLedger.statusSummary(spark, dir).head()
    assert(summary.getLong(0) == 4L) // partitions
    assert(summary.getLong(1) == 2L) // p1/p3 fail, p0/p2 clean
    assert(summary.getLong(2) == 400L) // rows
    // the same schema validated corpus-wide: ge failures must agree
    // (200 odd ids). Uniqueness semantics differ by construction
    // (within-partition vs corpus-wide), so compare the ge slot only.
    val res = schema.validate(corpus)
    val geCount = res.hardErrors
      .find(_.check.startsWith("greater_than_or_equal_to")).get.failureCount
    val ledgerGe = ValidationLedger.rows(spark, dir)
      .select(explode(col("failures")))
      .filter(col("key") === "v:greater_than_or_equal_to(0)")
      .agg(sum("value")).head().getLong(0)
    assert(ledgerGe == geCount && geCount == 200L)
  }

  test("warning-only checks are counted but do not fail the partition") {
    val dir = tmp()
    val warnSchema = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType,
        Check.ge(0L).copy(raiseWarning = true)))
    val out = ValidationLedger.validateIncrement(warnSchema,
      corpus.select("part", "v"), "part", dir, "w")
    val r = out.filter(col("partition") === "p1").head()
    assert(r.getAs[Map[String, Long]]("failures")(
      "v:greater_than_or_equal_to(0)") == 100L)
    assert(r.getAs[Long]("n_failed") == 0L && r.getAs[Boolean]("passed"))
  }

  test("loud refusals: aggregate checks, joint uniqueness, null partitions") {
    val dir = tmp()
    val aggSchema = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType, Check.meanBetween(0.0, 1e9)))
    val e1 = intercept[IllegalArgumentException](
      ValidationLedger.validateIncrement(aggSchema,
        corpus.select("part", "v"), "part", dir, "x"))
    assert(e1.getMessage.contains("aggregate-class"))
    val e2 = intercept[IllegalArgumentException](
      ValidationLedger.validateIncrement(
        schema.copy(unique = Seq("v", "dup")), corpus, "part", dir, "x"))
    assert(e2.getMessage.contains("joint uniqueness"))
    val e3 = intercept[IllegalArgumentException](
      ValidationLedger.validateIncrement(schema,
        corpus.withColumn("part",
          when(col("v") < 0, lit(null)).otherwise(col("part"))),
        "part", dir, "x"))
    assert(e3.getMessage.contains("null"))
  }

  test("schema-level failure aborts the increment before anything is recorded") {
    val dir = tmp()
    val strictSchema = schema.copy(strict = graft.schema.Strict.Error)
    intercept[graft.errors.SchemaErrorException](
      ValidationLedger.validateIncrement(strictSchema,
        corpus.withColumn("extra", lit(1)), "part", dir, "x"))
    // nothing was committed — the ledger does not exist yet
    assert(ValidationLedger.validatedPartitions(spark, dir).isEmpty)
  }

  test("crash orphan is never served; compact collapses files and keeps rows") {
    val dir = tmp()
    ValidationLedger.validateIncrement(schema,
      corpus.filter(col("part") === "p0"), "part", dir, "a")
    ValidationLedger.validateIncrement(schema, corpus, "part", dir, "b")
    val before = ValidationLedger.rows(spark, dir).orderBy("partition")
      .collect().map(_.toString).toSeq
    // simulate a crashed append: a generation dir with data but no
    // manifest flip — must not be served
    ValidationLedger.rows(spark, dir).limit(1)
      .write.parquet(s"$dir/rows/g99")
    assert(ValidationLedger.rows(spark, dir).count() == 4)
    spark.conf.set("graft.store.gcGraceMs", "0")
    try ValidationLedger.compact(spark, dir)
    finally spark.conf.unset("graft.store.gcGraceMs")
    val after = ValidationLedger.rows(spark, dir).orderBy("partition")
      .collect().map(_.toString).toSeq
    assert(after == before)
    // the orphan is swept immediately (never in any manifest); the
    // superseded generations COOL for one cycle even at grace 0 (the
    // lock-free-reader guarantee) and go on the next compact
    def live() = new java.io.File(s"$dir/rows").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq.sorted
    val l1 = live()
    assert(!l1.contains("g99") && l1.length == 3, l1.mkString(","))
    spark.conf.set("graft.store.gcGraceMs", "0")
    try ValidationLedger.compact(spark, dir)
    finally spark.conf.unset("graft.store.gcGraceMs")
    val l2 = live()
    assert(l2.length == 2 && !l2.exists(Set("g0", "g1", "g99")),
      l2.mkString(","))
    assert(ValidationLedger.rows(spark, dir).orderBy("partition")
      .collect().map(_.toString).toSeq == before)
    // a post-compact increment still appends (nothing new here -> empty)
    assert(ValidationLedger.validateIncrement(schema, corpus, "part",
      dir, "c").isEmpty)
  }

  test("invalidate forgets a rewritten partition's verdict; marks survive; emptied ledger revalidates from scratch (r14)") {
    val dir = tmp()
    ValidationLedger.validateIncrementBatch(schema, corpus, "part", dir,
      "b1", "s1", 0L): Unit
    assert(ValidationLedger.validatedPartitions(spark, dir) ==
      Set("p0", "p1", "p2", "p3"))
    // p1 "rewritten in place": forget its (failing) verdict
    assert(ValidationLedger.invalidate(spark, dir, Seq("p1")) == 1L)
    assert(ValidationLedger.validatedPartitions(spark, dir) ==
      Set("p0", "p2", "p3"))
    // unknown partitions are a 0 no-op (no manifest flip)
    assert(ValidationLedger.invalidate(spark, dir, Seq("p1", "nope")) == 0L)
    // stream marks survive invalidation: a redelivery of the OLD batch
    // must still no-op — it must NOT get to re-record p1's stale verdict
    assert(ValidationLedger.validateIncrementBatch(schema, corpus, "part",
      dir, "b1", "s1", 0L).isEmpty,
      "redelivered old batch must keep no-opping after invalidate")
    // the rewrite arrives as the NEXT batch: fixed p1 (non-negative v)
    val fixed = corpus.withColumn("v", abs(col("v")))
    val reval = ValidationLedger.validateIncrementBatch(schema, fixed,
      "part", dir, "b2", "s1", 1L)
    assert(reval.select("partition", "passed").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq == Seq(("p1", true)))
    // dup failures: p3 still carries its original (immutable) verdict
    val byPart = ValidationLedger.status(spark, dir)
      .select("partition", "passed", "batch").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(byPart("p1") == ((true, "b2")) && byPart("p3")._1 == false &&
      byPart("p3")._2 == "b1")

    // guards
    intercept[IllegalArgumentException](
      ValidationLedger.invalidate(spark, dir, Nil))
    intercept[IllegalArgumentException](
      ValidationLedger.invalidate(spark, dir, Seq("p0", null)))

    // invalidating EVERYTHING empties the ledger loudly-but-correctly:
    // gens=Nil (not a schema-less dir), the skip set is empty, and a
    // fresh increment revalidates the whole corpus
    assert(ValidationLedger.invalidate(spark, dir,
      Seq("p0", "p1", "p2", "p3")) == 4L)
    assert(ValidationLedger.validatedPartitions(spark, dir).isEmpty)
    val again = ValidationLedger.validateIncrement(schema, fixed, "part",
      dir, "b3")
    assert(again.select("partition").collect().map(_.getString(0)).sorted
      .toSeq == Seq("p0", "p1", "p2", "p3"))
  }

  test("reconcile: a takedown leaves a stale verdict the audit surfaces; invalidate + revalidate clears it (r15)") {
    val dir = tmp()
    ValidationLedger.validateIncrement(schema, corpus, "part", dir, "b1"): Unit
    // ledger and source agree → nothing drifts
    assert(ValidationLedger.reconcile(corpus, "part", dir).isEmpty)
    // a takedown removes a quarter of p2's rows IN PLACE: the validate-
    // once verdict still counts them — reconcile must name exactly p2
    val live = corpus.filter(!(col("part") === "p2" && col("id") % 16 === 2))
    val drift = ValidationLedger.reconcile(live, "part", dir).collect()
    assert(drift.map(_.getString(0)).toSeq == Seq("p2"))
    assert(drift.head.getLong(2) == 100L && drift.head.getLong(3) == 75L,
      s"ledgered 100 vs current 75, got ${drift.head}")
    // a partition removed WHOLESALE reads back as current_rows = 0
    val gone = live.filter(col("part") =!= "p3")
    assert(ValidationLedger.reconcile(gone, "part", dir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSeq ==
      Seq(("p2", 75L), ("p3", 0L)))
    // the documented follow-up: invalidate the drifted partitions and
    // revalidate with them as candidates — reconcile then comes back clean
    val stale = ValidationLedger.reconcile(live, "part", dir)
      .select("partition").collect().map(_.getString(0)).toSeq
    assert(ValidationLedger.invalidate(spark, dir, stale) == 1L)
    ValidationLedger.validateIncrement(schema, live, "part", dir, "b2",
      candidates = Some(stale)): Unit
    assert(ValidationLedger.reconcile(live, "part", dir).isEmpty)
    // batch lineage: the revalidated partition carries b2, the rest b1
    val byPart = ValidationLedger.status(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byPart("p2") == "b2" && byPart("p0") == "b1")
  }

  test("reconcile(candidates) partition-prunes the audit scan to the named partitions (r16)") {
    // The documented primary use of reconcile is "right after a takedown",
    // where the touched partitions are KNOWN — there the audit must read
    // only those partitions' rows, same contract as the increments'
    // candidates path. Disk-partitioned source, records-read listener
    // (same signal as the r13 listing-prune spec: local-FS bytesRead
    // tracks file OPENS, records are deterministic).
    val dataDir = tmp() + "/data"
    spark.range(4000).select(
      concat(lit("p"), col("id") % 4).as("part"), col("id").as("v"))
      .write.partitionBy("part").parquet(dataDir)
    val data = spark.read.parquet(dataDir)
    val sch = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L)))
    val dir = tmp()
    ValidationLedger.validateIncrement(sch, data, "part", dir, "b1",
      candidates = Some(Seq("p0", "p1", "p2", "p3"))): Unit

    // the "post-takedown" live corpus: p1 and p3 each lose 200 rows
    // (v%10==1 within p1's v%4==1 residues is v%20==1 → 200 of 4000;
    // v%20==3 likewise) — written disk-partitioned so pruning has
    // directories to skip
    val liveDir = tmp() + "/live"
    data.filter(!(col("part") === "p1" && col("v") % 10 === 1) &&
        !(col("part") === "p3" && col("v") % 20 === 3))
      .write.partitionBy("part").parquet(liveDir)
    val live = spark.read.parquet(liveDir)

    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recs.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = recs.get(); var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 500L * 1000 * 1000 &&
          System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = recs.get()
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
    }
    def measure(f: => Unit): Long = {
      spark.sparkContext.addSparkListener(listener)
      quiesce()
      recs.set(0L)
      try { f; quiesce() }
      finally spark.sparkContext.removeSparkListener(listener)
      recs.get()
    }

    // takedown touched p1 only (as far as the caller knows): the pruned
    // audit reads ~800 source rows (p1's survivors) + the 4-row ledger —
    // never the other three partitions' rows
    var pruned: Array[org.apache.spark.sql.Row] = Array.empty
    val prunedRecs = measure {
      pruned = ValidationLedger.reconcile(live, "part", dir,
        candidates = Some(Seq("p1"))).collect()
    }
    assert(pruned.map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toSeq == Seq(("p1", 1000L, 800L)))
    assert(prunedRecs >= 800L && prunedRecs <= 1300L,
      s"candidates=Seq(p1) reconcile read $prunedRecs records " +
        "(want ~804: p1's rows + the ledger — the scan must prune the " +
        "other partitions at the file listing)")

    // the full audit (candidates = None) still sees BOTH drifted
    // partitions and reads the whole live corpus
    val fullRecs = measure {
      val full = ValidationLedger.reconcile(live, "part", dir).collect()
      assert(full.map(_.getString(0)).toSeq == Seq("p1", "p3"))
    }
    assert(fullRecs >= 3550L,
      s"full-audit reconcile read $fullRecs records (want ~3604: the " +
        "whole live corpus + ledger)")

    // a candidate the takedown EMPTIED wholesale still surfaces as
    // current_rows = 0 (its directory is simply absent from the live set)
    val live2 = live.filter(col("part") =!= "p2")
    assert(ValidationLedger.reconcile(live2, "part", dir,
        candidates = Some(Seq("p2"))).collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq == Seq(("p2", 0L)))
    // a drifted partition OUTSIDE the candidate set is deliberately not
    // reported (run the nightly no-candidates audit for that)
    assert(ValidationLedger.reconcile(live, "part", dir,
      candidates = Some(Seq("p0"))).isEmpty)
    // a candidate with no ledger row is inert (nothing to compare)
    assert(ValidationLedger.reconcile(live, "part", dir,
      candidates = Some(Seq("p9"))).isEmpty)
    // guards, same contract as the increments'
    intercept[IllegalArgumentException](
      ValidationLedger.reconcile(live, "part", dir, candidates = Some(Nil)))
    intercept[IllegalArgumentException](
      ValidationLedger.reconcile(live, "part", dir,
        candidates = Some(Seq("p1", null))))
  }

  test("reconcile(candidates) prunes on a NON-STRING partition column too (r17 advice)") {
    // The r16 cut filtered on cast(part, string).isin(...) — the cast
    // wraps the ATTRIBUTE, so for an int-partitioned source the file
    // index could not prune and the audit degraded to a full scan. The
    // fix casts the candidate LITERALS to the column's type instead;
    // this test is the records-read proof on an Int partition column.
    val dataDir = tmp() + "/data"
    spark.range(4000).select(
      (col("id") % 4).cast("int").as("part"), col("id").as("v"))
      .write.partitionBy("part").parquet(dataDir)
    val data = spark.read.parquet(dataDir)
    val sch = DataFrameSchema(
      "part" -> ColumnSchema.of(IntegerType),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L)))
    val dir = tmp()
    ValidationLedger.validateIncrement(sch, data, "part", dir, "b1",
      candidates = Some(Seq("0", "1", "2", "3"))): Unit
    // partition 1 loses 200 rows
    val liveDir = tmp() + "/live"
    data.filter(!(col("part") === 1 && col("v") % 10 === 1))
      .write.partitionBy("part").parquet(liveDir)
    val live = spark.read.parquet(liveDir)

    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recs.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = recs.get(); var stableSince = System.nanoTime()
      while (System.nanoTime() - stableSince < 500L * 1000 * 1000 &&
          System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = recs.get()
        if (now != last) { last = now; stableSince = System.nanoTime() }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    quiesce(); recs.set(0L)
    val drift =
      try {
        val d = ValidationLedger.reconcile(live, "part", dir,
          candidates = Some(Seq("1"))).collect()
        quiesce(); d
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(drift.map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
      .toSeq == Seq(("1", 1000L, 800L)))
    val prunedRecs = recs.get()
    assert(prunedRecs >= 800L && prunedRecs <= 1300L,
      s"int-partition candidates=Seq(1) reconcile read $prunedRecs " +
        "records (want ~804: partition 1's survivors + the ledger — " +
        "pruning must engage on a non-string partition column)")
    // a candidate string that cannot round-trip through the int cast is
    // inert, same as a never-ledgered key
    assert(ValidationLedger.reconcile(live, "part", dir,
      candidates = Some(Seq("not-an-int"))).isEmpty)
  }

  test("contract fingerprint: a changed check set refuses loudly; emptied ledger re-establishes; legacy manifests adopt (r14)") {
    val dir = tmp()
    ValidationLedger.validateIncrement(schema,
      corpus.filter(col("part").isin("p0", "p1")), "part", dir, "b1"): Unit
    // the SAME contract keeps incrementing
    assert(ValidationLedger.validateIncrement(schema, corpus, "part",
      dir, "b2").count() == 2L)
    // a new check (le) changes the ledgered surface: verdicts would not
    // be comparable — refuse, naming the delta and the two exits
    val schema2 = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L), Check.le(1000L)),
      "dup" -> ColumnSchema(dtype = Some(LongType), unique = true))
    val e = intercept[RuntimeException](
      ValidationLedger.validateIncrement(schema2, corpus, "part", dir, "b3"))
    assert(e.getMessage.contains("DIFFERENT check contract") &&
      e.getMessage.contains("added") &&
      e.getMessage.contains("invalidate()"), e.getMessage)
    // ...and so does DROPPING a check
    val schema3 = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      "v" -> ColumnSchema.of(LongType, Check.ge(0L)),
      "dup" -> ColumnSchema.of(LongType))
    val e2 = intercept[RuntimeException](
      ValidationLedger.validateIncrement(schema3, corpus, "part", dir, "b3"))
    assert(e2.getMessage.contains("removed"), e2.getMessage)
    // an EMPTIED ledger may re-establish: invalidate everything, then the
    // new contract validates the whole corpus and is recorded
    assert(ValidationLedger.invalidate(spark, dir,
      Seq("p0", "p1", "p2", "p3")) == 4L)
    assert(ValidationLedger.validateIncrement(schema2, corpus, "part",
      dir, "b4").count() == 4L)
    // ...and the OLD contract now refuses against the new one
    intercept[RuntimeException](
      ValidationLedger.validateIncrement(schema, corpus, "part", dir, "b5"))

    // legacy manifest (pre-r14, no contract recorded): adopted at the
    // next commit instead of refusing — strip the field by hand
    val mp = java.nio.file.Paths.get(s"$dir/manifest.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
    val stripped = txt.replaceAll(""","contract":\[[^\]]*\]""", "")
    assert(stripped != txt)
    java.nio.file.Files.write(mp, stripped.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/.manifest.json.crc"))
    // any contract is accepted on a legacy manifest; a NEW partition
    // commits and the contract is recorded from here on
    val extra = spark.range(50).select(lit("p4").as("part"),
      col("id").as("v"), col("id").as("dup"))
    assert(ValidationLedger.validateIncrement(schema, extra, "part",
      dir, "b6").count() == 1L)
    intercept[RuntimeException](
      ValidationLedger.validateIncrement(schema2, corpus, "part", dir, "b7"))
  }

  test("a check contract holding a backslash or a quote round-trips through the manifest") {
    // contract entries are `column:check.described`, so a str_matches
    // pattern with `\d` on a column whose name holds `"` lands verbatim
    // in the manifest — the next commit must read it back
    val dir = tmp()
    val c = "co\"de"
    val sch = DataFrameSchema(
      "part" -> ColumnSchema.of(StringType),
      c -> ColumnSchema.of(StringType, Check.strMatches("^\\d+$")))
    def batch(p: String) = spark.range(10).select(lit(p).as("part"),
      when(col("id") === 0L, lit("x")).otherwise(col("id").cast("string"))
        .as(c))
    for ((p, b) <- Seq("p0" -> "b1", "p1" -> "b2"))
      assert(ValidationLedger.validateIncrement(sch, batch(p), "part", dir,
        b).count() == 1L)
    val st = ValidationLedger.status(spark, dir).collect()
    assert(st.map(_.getString(0)).toSeq == Seq("p0", "p1"))
    val label = st.head.getAs[Map[String, Long]](3).keys
      .find(_.contains("\\d")).get
    assert(label.startsWith(c + ":"), label)
    assert(st.forall(_.getAs[Map[String, Long]](3)(label) == 1L))
  }
}
