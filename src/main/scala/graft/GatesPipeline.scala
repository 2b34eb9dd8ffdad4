package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.checks.{Check, ColumnCheck}
import graft.errors.ValidationResult
import graft.hypothesis.Hypothesis
import graft.inference.InferSchema
import graft.schema._

/** extension gates: cross-store pipeline compositions, streaming replays, events, ledger, sketch stores.
  *
  * One slice of the driver-contract gate registry (r16-verdict #6: the
  * registry was one 4.9k-line object; the split is purely mechanical —
  * every gate body and oracle is verbatim, combined unchanged in
  * [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]). */
private[graft] object GatesPipeline {
  import GateSupport._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_scrub_store" -> ((s, d) => {
      // round-8: batch ≡ streaming for the persisted fingerprint store —
      // the SAME store construction and crawl batch as dedup_fp_store,
      // replayed as file-source micro-batches through scrubWriter (filter
      // loaded+broadcast once, per-batch confirm against the fps parquet);
      // union across any batch split must equal the batch scrub (same
      // oracle SQL)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft-fpstore-s").toString
      ext.FingerprintStore.build(docs, "text", dir)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft fp-store tail")).as("text"))
      ext.FingerprintStore.append(batch2, "text", dir)
      val batch3 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(col("text"), lit(" graft fp-store tail")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 2)
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(col("text"), lit(" fresh crawl content")).as("text")))
      ext.FingerprintStore.scrubReplay(batch3, "text", dir)
        .select("doc_id").orderBy("doc_id")
    }),
    "events_funnel" -> ((s, d) =>
      // round-8: ordered-step funnel (earliest-completion semantics) —
      // one keyed aggregation per step over the type-filtered scan, the
      // per-user completion frame persisted between steps; no window sort
      // over the full log, no per-user event collection
      ext.Funnel.funnel(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "purchase")).orderBy("step")),
    "events_rolling" -> ((s, d) => {
      // round-8: rolling event-time features — per event, the count and
      // value-sum of the same user's events in the trailing hour
      // (inclusive). A RANGE window frame over epoch micros: ONE shuffle
      // on the user key + an incrementally-slid frame (no per-row rescan,
      // no self-join) — the classic online-feature backfill. RANGE peers
      // make ties deterministic in both engines; the oracle runs the
      // identical frame in DuckDB.
      val ev = t(s, d, "events")
      val usec = unix_micros(col("ts").cast("timestamp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      ev.select(col("event_id"), col("user_id"), usec.as("ts_us"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", round(sum("value").over(w), 3))
        .orderBy("event_id")
    }),
    "stream_asof" -> ((s, d) => {
      // round-8: batch ≡ streaming as-of enrichment — the SAME clicks
      // replayed as file-source micro-batches, each enriched against the
      // static views dimension; union equals the batch join (same oracle
      // as join_asof: DuckDB's native ASOF LEFT JOIN)
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      ext.AsOfJoin.enrichReplay(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("click_us"),
          unix_micros(col("asof_ts").cast("timestamp")).as("view_us"),
          round(col("asof_value"), 3).as("view_value"))
        .orderBy("event_id")
    }),
    "stats_distinct_store" -> ((s, d) => {
      // round-8: incremental distinct-count store — each batch reduces to
      // one (key, n_rows, HLL sketch) parquet row; later questions union
      // the stored sketches without touching the corpora. At fixture
      // cardinalities the sketches stay in the DataSketches coupon phase,
      // where the union estimate is EXACTLY the true count (probed at both
      // SFs) — so the oracle is a genuine cross-engine exact compare, and
      // the in-gate assert pins union-from-store == one-shot estimate
      val ev = t(s, d, "events")
      val dir = java.nio.file.Files.createTempDirectory("graft-hllstore").toString
      ext.SketchStore.append(ext.SketchStore.distinctSketch(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "user_id"),
        dir, "batch_a")
      ext.SketchStore.append(ext.SketchStore.distinctSketch(
        ev.filter(col("event_id") % 2 === 1), Seq("event_type"), "user_id"),
        dir, "batch_b")
      val served = ext.SketchStore.estimate(s, dir, Seq("event_type"))
      val oneShot = ext.SketchStore.distinctSketch(ev, Seq("event_type"), "user_id")
        .select(col("event_type"),
          hll_sketch_estimate(col("sketch")).as("n_distinct"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      served.collect().foreach { r =>
        require(r.getLong(2) == oneShot(r.getString(0)),
          s"store union diverged from one-shot for ${r.getString(0)}")
      }
      served.orderBy("event_type")
    }),
    "stats_distinct_compacted" -> ((s, d) => {
      // round-9: sketch-store compaction — five per-batch appends merge
      // to ONE row per key (register-max union, associative+idempotent),
      // and the coupon-phase estimates must stay EXACTLY the one-shot
      // values, so the same DuckDB exact-count oracle still pins the
      // result. In-gate requires pin the row/file collapse and that a
      // post-compaction append still serves.
      val ev = t(s, d, "events")
      val dir = java.nio.file.Files.createTempDirectory("graft-hllstore-c").toString
      for (b <- 0 to 4)
        ext.SketchStore.append(ext.SketchStore.distinctSketch(
          ev.filter(pmod(col("event_id"), lit(5)) === b), Seq("event_type"),
          "user_id"), dir, s"batch_$b")
      val rowsBefore = ext.SketchStore.rows(s, dir).count()
      val filesBefore = ext.SketchStore.liveFileCount(s, dir)
      ext.SketchStore.compact(s, dir)
      val nKeys = ext.SketchStore.rows(s, dir).count()
      require(nKeys < rowsBefore &&
          ext.SketchStore.liveFileCount(s, dir) < filesBefore,
        s"sketch compaction did not collapse: $rowsBefore rows/$filesBefore files")
      ext.SketchStore.estimate(s, dir, Seq("event_type")).orderBy("event_type")
    }),
    "stats_distinct_retract" -> ((s, d) => {
      // r15 (verdict #3): sketch-store RETRACTION — HLL cannot subtract,
      // so the takedown contract is (a) whole-batch drop, exact because
      // the store keys every row by its batch label, and (b) per-key
      // rebuild-from-live for takedown lists that are not batch-aligned.
      // Three batches land (event_id % 3); batch_1 is recalled wholesale;
      // then a user-level takedown (user_id % 7 == 0 within 'click')
      // rebuilds that one key from the live corpus. The oracle re-derives
      // the final estimates from events.parquet alone — coupon-phase
      // exactness makes it an exact cross-engine compare (same contract
      // as stats_distinct_store, probed at both SFs).
      val ev = t(s, d, "events")
      val dir = java.nio.file.Files.createTempDirectory("graft-hllretract").toString
      for (b <- 0 to 2)
        ext.SketchStore.append(ext.SketchStore.distinctSketch(
          ev.filter(pmod(col("event_id"), lit(3)) === b), Seq("event_type"),
          "user_id"), dir, s"batch_$b")
      val dropped = ext.SketchStore.retractBatch(s, dir, "batch_1")
      require(dropped > 0L, "retractBatch must drop the batch's rows")
      require(ext.SketchStore.retractBatch(s, dir, "batch_1") == 0L,
        "a second retraction of the same batch must be a 0 no-op")
      val live = ev.filter(pmod(col("event_id"), lit(3)) =!= 1)
      // post-retraction estimates ≡ a fresh build over the live corpus
      val fresh = ext.SketchStore.distinctSketch(live, Seq("event_type"),
          "user_id")
        .select(col("event_type"), col("n_rows"),
          hll_sketch_estimate(col("sketch")).as("n_distinct"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      ext.SketchStore.estimate(s, dir, Seq("event_type")).collect().foreach { r =>
        require((r.getLong(1), r.getLong(2)) == fresh(r.getString(0)),
          s"post-retraction estimate diverged from a fresh live build for ${r.getString(0)}")
      }
      // user-level takedown inside 'click': rebuild that key from live
      val finalClick = live.filter(col("event_type") === "click" &&
        col("user_id") % 7 =!= 0)
      require(ext.SketchStore.rebuildKeys(ext.SketchStore.distinctSketch(
          finalClick, Seq("event_type"), "user_id"), dir, "rebuild_1") > 0L,
        "rebuildKeys must replace the affected key's rows")
      ext.SketchStore.estimate(s, dir, Seq("event_type")).orderBy("event_type")
    }),
    "pipeline_corpus" -> ((s, d) => {
      // round-5: the END-TO-END corpus pipeline as one lazy plan — Gopher
      // quality filter → exact dedup (min doc_id per normalized text; at
      // corpus scale the group key would be fingerprint64, here the
      // normalized string so the oracle re-derives it) → per-language cap
      // (domain balancing) → split assignment. Different seeds for cap vs
      // split: reusing one hash would bias the capped (small-hash) sample
      // into 'train'.
      val docs = t(s, d, "documents")
      val kept = docs.filter(ext.TextAnalysis.gopherKeep(col("text")))
      val first = kept
        .groupBy(ext.TextAnalysis.normalized(col("text")).as("__nt"))
        .agg(min(col("doc_id")).as("doc_id"))
      val deduped = kept.join(first.select("doc_id"), Seq("doc_id"), "left_semi")
      val capped = ext.Sampling.capPerGroup(deduped, "doc_id", "lang", 30, seed = 7)
      ext.Sampling.assignSplits(capped, "doc_id",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25), seed = 11)
        .select("doc_id", "lang", "split").orderBy("doc_id")
    }),
    "ledger_incremental" -> ((s, d) => {
      // round-13 (verdict #1): the incremental validation ledger gated
      // end-to-end — validate each partition of a growing corpus ONCE,
      // persist the per-partition verdict, answer later "is the corpus
      // clean?" questions from the KB-sized ledger without re-reading
      // data. Two increments over orders partitioned by o_orderpriority:
      // increment 1 sees two priorities; increment 2 sees the FULL table
      // but must validate only the three unseen ones (pinned in-gate); a
      // third call is a no-op; compact() collapses generations without
      // changing a row (the oracle reads the post-compact ledger). The
      // oracle re-derives every ledger cell from orders.parquet alone:
      // per-partition n_rows, each check slot's failure count (ge on
      // price = 0 everywhere, str_length(1,10) fails exactly the
      // '4-NOT SPECIFIED' partition, within-partition o_orderkey
      // uniqueness = 0), n_failed, and passed.
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft-ledger").toString
      val sch = DataFrameSchema(
        "o_orderkey" -> ColumnSchema(dtype = Some(LongType), unique = true),
        "o_totalprice" -> ColumnSchema.of(DoubleType, Check.ge(0.0)),
        "o_orderpriority" -> ColumnSchema.of(StringType,
          Check.strLength(Some(1), Some(10))))
      val inc1 = ext.ValidationLedger.validateIncrement(sch,
        orders.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        "o_orderpriority", dir, "b1")
      require(inc1.select("partition").collect().map(_.getString(0)).sorted
        .sameElements(Array("1-URGENT", "2-HIGH")),
        "increment 1 must validate exactly its two partitions")
      val inc2 = ext.ValidationLedger.validateIncrement(sch, orders,
        "o_orderpriority", dir, "b2")
      require(inc2.select("partition").collect().map(_.getString(0)).sorted
        .sameElements(Array("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
        "increment 2 must skip the already-validated partitions")
      require(ext.ValidationLedger.validateIncrement(sch, orders,
        "o_orderpriority", dir, "b3").isEmpty,
        "re-running over seen data must be a no-op")
      ext.ValidationLedger.compact(s, dir)
      // r14 (verdict optional #7): the statusSummary rollup leg — its four
      // aggregates ride every row as broadcast constants so the oracle
      // re-derives the whole-corpus posture too (previously spec-only)
      val summary = ext.ValidationLedger.statusSummary(s, dir)
        .select(col("n_partitions"), col("n_failed_partitions"),
          col("n_rows").as("sum_rows"), col("n_failures").as("sum_failures"))
      ext.ValidationLedger.status(s, dir)
        .select(col("partition").as("part"), col("batch"), col("n_rows"),
          explode(col("failures")).as(Seq("check_label", "failures")),
          col("n_failed"), col("passed"))
        .crossJoin(broadcast(summary))
        .orderBy("part", "check_label")
    }),
    "ledger_invalidate" -> ((s, d) => {
      // r14: the REVALIDATION path — a partition whose data is rewritten
      // in place keeps its stale verdict forever under validate-once;
      // invalidate() forgets it and the next increment (with candidates
      // naming it — zero discovery) revalidates against the fixed data.
      // Flow: increment 1 validates a CORRUPTED 5-LOW (negated prices →
      // every row fails ge(0), pinned in-gate); the partition is then
      // "rewritten" (the clean orders), invalidated (returns exactly 1
      // verdict row; a second call 0), and revalidated as batch b2 —
      // passed now. A final zero-knowledge increment is a no-op. The
      // oracle re-derives every cell from the CLEAN orders (the corrupt
      // version never survives into the final ledger) with batch lineage
      // b2 for the rewritten partition, b1 elsewhere.
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft-ledger-inv").toString
      val sch = DataFrameSchema(
        "o_orderkey" -> ColumnSchema(dtype = Some(LongType), unique = true),
        "o_totalprice" -> ColumnSchema.of(DoubleType, Check.ge(0.0)),
        "o_orderpriority" -> ColumnSchema.of(StringType,
          Check.strLength(Some(1), Some(10))))
      val corrupted = orders.withColumn("o_totalprice",
        when(col("o_orderpriority") === "5-LOW",
          -abs(col("o_totalprice")) - 1.0).otherwise(col("o_totalprice")))
      ext.ValidationLedger.validateIncrement(sch, corrupted,
        "o_orderpriority", dir, "b1"): Unit
      val stale = ext.ValidationLedger.status(s, dir)
        .filter(col("partition") === "5-LOW").select("passed")
        .collect().map(_.getBoolean(0)).toSeq
      require(stale == Seq(false),
        "the corrupted partition must record a failing verdict first")
      require(ext.ValidationLedger.invalidate(s, dir, Seq("5-LOW")) == 1L,
        "invalidate must remove exactly the one verdict row")
      require(ext.ValidationLedger.invalidate(s, dir, Seq("5-LOW")) == 0L,
        "a second invalidate of the same partition must be a no-op")
      val reval = ext.ValidationLedger.validateIncrement(sch, orders,
        "o_orderpriority", dir, "b2", candidates = Some(Seq("5-LOW")))
      require(reval.select("partition", "passed").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
          Seq(("5-LOW", true)),
        "revalidation must cover exactly the rewritten partition, passing")
      require(ext.ValidationLedger.validateIncrement(sch, orders,
        "o_orderpriority", dir, "b3").isEmpty,
        "the ledger must be complete again after revalidation")
      ext.ValidationLedger.status(s, dir)
        .select(col("partition").as("part"), col("batch"), col("n_rows"),
          explode(col("failures")).as(Seq("check_label", "failures")),
          col("n_failed"), col("passed"))
        .orderBy("part", "check_label")
    }),
    "pipeline_crawl_batch" -> ((s, d) => {
      // round-10: the STORE-BACKED nightly crawl pipeline end-to-end as
      // ONE gate — what a 100 TB ingest actually runs per batch:
      //   quarantined JSONL read → fused validation (drop blanks) →
      //   fingerprint-store exact scrub → MinHash-store near-dup scrub →
      //   BM25 + ANN store appends → PSI of the ingested batch's token
      //   lengths vs a PERSISTED drift profile.
      // Output = the per-row disposition table (every crawl row's fate)
      // plus the drift bins, all re-derived by the DuckDB oracle from the
      // shared parquet alone; the store appends are pinned in-gate by a
      // serve ≡ one-shot-over-union equality (BM25) and a code-count
      // equality (ANN).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      // nightly stores, built once from the historical corpus
      val fpDir = tmp("graft-cb-fp"); ext.FingerprintStore.build(hist, "text", fpDir)
      val mhDir = tmp("graft-cb-mh"); ext.Dedup.buildMinHashStore(hist, "doc_id", "text", mhDir)
      val bmDir = tmp("graft-cb-bm"); ext.Retrieval.buildIndex(hist, "doc_id", "text", bmDir)
      def embed(df: org.apache.spark.sql.DataFrame,
          id: org.apache.spark.sql.Column) = df.select(
        id.as("doc_id"), ext.TextAnalysis.hashVector(col("text"), 64).as("emb"))
      val histEmb = embed(hist, col("doc_id"))
      val annDir = tmp("graft-cb-ann")
      ext.AnnStore.create(histEmb, "doc_id", "emb",
        ext.Similarity.trainIvf(histEmb, "doc_id", "emb", nCentroids = 8), annDir)
      val profPath = tmp("graft-cb-prof") + "/profile.json"
      ext.DriftProfile.fit(
        hist.select(ext.TextAnalysis.tokenCount(col("text")).cast("double").as("tok_cnt")),
        numericCols = Seq("tok_cnt"), bins = 5).save(profPath)
      // the crawl batch lands as JSONL: fresh content, exact re-crawls,
      // near-dup re-crawls, blank rows, and deterministic corrupt lines
      val bA = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select((col("doc_id") + 1000000).as("id"), col("text"),
          (pmod(col("doc_id"), lit(30)) === 1).as("corrupt"))
      val bB = docs.filter(pmod(col("doc_id"), lit(6)) === 0)
        .select((col("doc_id") + 2000000).as("id"), col("text"),
          lit(false).as("corrupt"))
      val bC = docs.filter(pmod(col("doc_id"), lit(6)) === 2)
        .select((col("doc_id") + 3000000).as("id"),
          concat(col("text"), lit(" r10 crawl suffix")).as("text"),
          lit(false).as("corrupt"))
      val bD = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
        .select((col("doc_id") + 4000000).as("id"), lit("   ").as("text"),
          lit(false).as("corrupt"))
      val jdir = tmp("graft-cb-json")
      bA.unionByName(bB).unionByName(bC).unionByName(bD)
        .select(when(col("corrupt"), concat(lit("{\"id\": "), col("id"),
            lit(", \"text\": \"broken")))
          .otherwise(to_json(struct(col("id"), col("text")))).as("value"))
        .coalesce(1).write.text(s"$jdir/data")
      // 1. quarantined read + fused validation (blank rows are invalid)
      val (res, bad) = graft.io.ValidatedIO.readQuarantined(s,
        DataFrameSchema(
          "id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
          "text" -> ColumnSchema(Some(StringType),
            Seq(ColumnCheck("text_nonblank", c => length(trim(c)) > 0)),
            nullable = false)).copy(dropInvalidRows = true),
        s"$jdir/data", "json")
      val valid = res.data.select(col("id"), col("text"))
      val qIds = bad.select(regexp_extract(col("raw_record"),
        "\"id\":\\s*(\\d+)", 1).cast("long").as("doc_id"))
      // 2. exact scrub against the fingerprint store (no corpus text read)
      val afterExact = ext.FingerprintStore.scrub(valid, "text", fpDir)
      // 3. near-dup scrub against the MinHash store. Eager localCheckpoint
      // (r15): the takedown leg retracts from and compacts this store, so
      // a lazily re-evaluated scrub would answer differently afterwards —
      // the verdict is pinned here and re-used by the appends, the union
      // pins, the ledger and the disposition table
      val survivors = ext.Dedup.dropExistingNearDupStore(afterExact, "id",
        "text", mhDir).localCheckpoint(true)
      // 4. store appends + in-gate consistency pins
      ext.Retrieval.appendToIndex(survivors, "id", "text", bmDir)
      ext.AnnStore.append(embed(survivors, col("id")), "doc_id", "emb", annDir)
      val union = hist.unionByName(
        survivors.select(col("id").as("doc_id"), col("text")))
      val queries = hist.filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id").as("query_id"), concat_ws(" ",
          slice(ext.TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sorted.toSeq
      require(rows(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)) ==
        rows(ext.Retrieval.bm25TopK(union, "doc_id", "text", queries,
          "query_id", "qtext", k = 5)),
        "BM25 store after crawl append diverged from one-shot over union")
      require(ext.AnnStore.codes(s, annDir).count() == union.count(),
        "ANN store code count != historical + ingested")
      // 5. drift of the ingested batch vs the PERSISTED profile
      val np = ext.DriftProfile.load(profPath).numericFor("tok_cnt")
      val psi = ext.Drift.psiAgainstProfile(
        survivors.select(ext.TextAnalysis.tokenCount(col("text"))
          .cast("double").as("tok_cnt")), "tok_cnt", np.edges, np.fracs)
      // 6. (r13, verdict #3) record the batch verdict in the validation
      // LEDGER: the historical corpus was ledgered as partition 'hist'
      // when the stores were built; tonight's increment sees hist+batch
      // but must validate ONLY the new 'night1' partition (pinned
      // in-gate), and the corpus-clean rollup rows below are served from
      // the ledger — the oracle re-derives them from the same parquet
      val ldir = tmp("graft-cb-ledger")
      val ledSch = DataFrameSchema(
        "doc_id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
        "text" -> ColumnSchema(Some(StringType), Seq(
          ColumnCheck("text_nonblank", c => length(trim(c)) > 0),
          ColumnCheck("text_short", c => length(c) <= 300)),
          nullable = false),
        "ds" -> ColumnSchema.of(StringType))
      ext.ValidationLedger.validateIncrement(ledSch,
        hist.withColumn("ds", lit("hist")), "ds", ldir, "hist")
      // the nightly flow KNOWS tonight's partition — candidates skip the
      // unseen-value discovery scan (at 100 TB that scan touches every
      // corpus file; see BASELINE round-13 ledger probe)
      val nightly = ext.ValidationLedger.validateIncrement(ledSch,
        hist.withColumn("ds", lit("hist")).unionByName(
          survivors.select(col("id").as("doc_id"), col("text"))
            .withColumn("ds", lit("night1"))),
        "ds", ldir, "night1", candidates = Some(Seq("night1")))
      require(nightly.select("partition").collect().map(_.getString(0))
        .toSeq == Seq("night1"),
        "nightly increment must skip the ledgered historical partition")
      // 7. (r15, verdict #4) TAKEDOWN leg: a retraction list (historical
      // docs with doc_id % 30 == 2) arrives with the crawl batch and
      // flows through ALL FIVE stores in one run — fingerprint retract,
      // MinHash retract, BM25 deleteDocs, ANN delete, ledger invalidate +
      // revalidate — then the nightly compactions heal physically. The
      // oracle re-derives the takedown counters, the per-doc taken_down
      // rows, the masked-phase re-crawl dispositions, and the post-
      // takedown ledger rollup from the shared parquet alone.
      val takedown = hist.filter(pmod(col("doc_id"), lit(30)) === 2)
      val tIds = takedown.select("doc_id")
      val nT = tIds.count()
      require(nT > 0, "precondition: non-empty takedown list")
      val nFp = ext.FingerprintStore.retract(takedown, "text", fpDir)
      val nMh = ext.Dedup.retractFromMinHashStore(tIds, "doc_id", mhDir)
      val nBm = ext.Retrieval.deleteDocs(tIds, "doc_id", bmDir)
      val nAnn = ext.AnnStore.delete(tIds, "doc_id", annDir)
      require(nMh == nT && nBm == nT && nAnn == nT,
        s"id-keyed takedowns must cover the full list: $nMh/$nBm/$nAnn vs $nT")
      // masked instantly: the BM25 serve stops returning taken-down ids
      // with zero index bytes rewritten
      require(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)
        .join(tIds, Seq("doc_id"), "left_semi").isEmpty,
        "masked BM25 serve must exclude taken-down ids")
      // masked phase, exact-scrub side: a RE-CRAWL of the taken-down
      // texts passes the fingerprint scrub — the retraction masks each
      // text's fp STORE-WIDE (the store holds fps, not per-doc
      // refcounts), so even a normalized text shared with a surviving
      // historical doc is masked and its re-crawl passes (the documented
      // conservative takedown semantics; the oracle models the same mask)
      val recrawl = takedown.select((col("doc_id") + 7000000L).as("id"),
        col("text"))
      // eager localCheckpoint: the disposition frame materializes only at
      // the end of the gate, AFTER the healing compactions below — the
      // masked-phase verdict must be pinned now, not recomputed against
      // the compacted store
      val recrawlKept = ext.FingerprintStore.scrub(recrawl, "text", fpDir)
        .select("id").localCheckpoint(true)
      val recrawlDup = recrawl.select("id")
        .join(recrawlKept, Seq("id"), "left_anti")
      // ledger follow-up (verdict #7): the hist partition's verdict is
      // stale by construction after the takedown — invalidate and
      // revalidate against the live hist under batch lineage hist2
      require(ext.ValidationLedger.invalidate(s, ldir, Seq("hist")) == 1L,
        "takedown must invalidate the stale historical verdict")
      val histLive = hist.join(tIds, Seq("doc_id"), "left_anti")
      ext.ValidationLedger.validateIncrement(ledSch,
        histLive.withColumn("ds", lit("hist")), "ds", ldir, "hist2",
        candidates = Some(Seq("hist"))): Unit
      // heal physically: the nightly compactions are the erasure point —
      // afterwards the stores are equivalent to builds over the live
      // corpus and every tombstone is retired
      ext.Retrieval.compactIndex(s, bmDir)
      ext.AnnStore.compactCodes(s, annDir)
      ext.FingerprintStore.compact(s, fpDir)
      ext.Dedup.compactMinHashStore(s, mhDir)
      val liveUnion = union.join(tIds, Seq("doc_id"), "left_anti")
      require(rows(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)) ==
        rows(ext.Retrieval.bm25TopK(liveUnion, "doc_id", "text", queries,
          "query_id", "qtext", k = 5)),
        "healed BM25 store diverged from one-shot over the live union")
      require(ext.AnnStore.codes(s, annDir).count() == liveUnion.count(),
        "healed ANN store must hold exactly the live codes")
      require(ext.Retrieval.tombstoneCount(s, bmDir) == 0L &&
          ext.AnnStore.tombstoneCount(s, annDir) == 0L &&
          ext.FingerprintStore.retractionCount(s, fpDir) == 0L &&
          ext.Dedup.minhashRetractionCount(s, mhDir) == 0L,
        "compaction must retire every tombstone")
      val takedownRows = tIds.select(col("doc_id"),
          lit("taken_down").as("status"))
        .unionByName(recrawlKept.select(col("id").as("doc_id"),
          lit("recrawl_pass").as("status")))
        .unionByName(recrawlDup.select(col("id").as("doc_id"),
          lit("recrawl_dup").as("status")))
        .unionByName(tIds.limit(1).select(lit(-300L).as("doc_id"),
          lit(s"takedown:ids=$nT,fp=$nFp").as("status")))
      val ledgerRows = ext.ValidationLedger.status(s, ldir).select(
        when(col("partition") === "hist", -200L).otherwise(-201L)
          .as("doc_id"),
        concat(lit("ledger:"), col("partition"),
          lit(":rows="), col("n_rows"), lit(",failed="), col("n_failed"),
          lit(",passed="), col("passed")).as("status"))
      // disposition table + drift rows, one frame, fully SQL-re-derivable
      val invalid = bA.filter(!col("corrupt")).select(col("id"))
        .unionByName(bB.select(col("id"))).unionByName(bC.select(col("id")))
        .unionByName(bD.select(col("id")))
        .join(valid.select("id"), Seq("id"), "left_anti")
      val exactDropped = valid.select(col("id"))
        .join(afterExact.select("id"), Seq("id"), "left_anti")
      val nearDropped = afterExact.select(col("id"))
        .join(survivors.select("id"), Seq("id"), "left_anti")
      def disp(ids: org.apache.spark.sql.DataFrame, st: String) =
        ids.select(col(ids.columns.head).as("doc_id"), lit(st).as("status"))
      disp(qIds, "quarantined")
        .unionByName(disp(invalid, "invalid"))
        .unionByName(disp(exactDropped, "exact_dup"))
        .unionByName(disp(nearDropped, "near_dup"))
        .unionByName(disp(survivors.select("id"), "ingested"))
        .unionByName(psi.select((-(col("bin") + 1)).cast("long").as("doc_id"),
          concat(lit("drift:"),
            format_string("%.6f", col("psi_contrib"))).as("status")))
        .unionByName(psi.limit(1).select(lit(-100L).as("doc_id"),
          concat(lit("psi_total:"),
            format_string("%.6f", col("psi_total"))).as("status")))
        .unionByName(ledgerRows)
        .unionByName(takedownRows)
        .orderBy("doc_id")
    }),
    "pipeline_resume_batch" -> ((s, d) => {
      // r16 (r15-verdict #1): the nightly composition's CRASH-RESUME
      // contract as a gate — attempt 1 stages the survivors and appends
      // to fingerprint + MinHash + BM25, then "crashes" between the BM25
      // and ANN appends (the judge's canonical window); attempt 2 re-runs
      // the WHOLE sequence under the same (tag, batchId). The staged
      // read-back + per-store marks must make the resume converge:
      // redelivered appends no-op, the missing ANN append and ledger
      // increment land once, and the final stores serve exactly as one
      // uninterrupted run (pinned in-gate by serve ≡ one-shot-over-union
      // equalities). Output = the disposition table + ledger rollups +
      // a resume-counters row, all DuckDB-re-derivable; the counters pin
      // the exactly-once behavior into the hash. The oracle's near-dup
      // set is EXACT Jaccard while the engine's is MinHash-LSH (64/16
      // defaults, ~2e-4 per-pair miss at J=0.8) — the same deliberate
      // channel as pipeline_crawl_batch, deterministic per dataset
      // (seeded hashes), and verified oracle-match at sf0.001/0.01/0.1.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      val fpDir = tmp("graft-rb-fp"); ext.FingerprintStore.build(hist, "text", fpDir)
      val mhDir = tmp("graft-rb-mh"); ext.Dedup.buildMinHashStore(hist, "doc_id", "text", mhDir)
      val bmDir = tmp("graft-rb-bm"); ext.Retrieval.buildIndex(hist, "doc_id", "text", bmDir)
      def embed(df: org.apache.spark.sql.DataFrame,
          id: org.apache.spark.sql.Column) = df.select(
        id.as("doc_id"), ext.TextAnalysis.hashVector(col("text"), 64).as("emb"))
      val histEmb = embed(hist, col("doc_id"))
      val annDir = tmp("graft-rb-ann")
      ext.AnnStore.create(histEmb, "doc_id", "emb",
        ext.Similarity.trainIvf(histEmb, "doc_id", "emb", nCentroids = 8), annDir)
      val ldir = tmp("graft-rb-led")
      val ledSch = DataFrameSchema(
        "doc_id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
        "text" -> ColumnSchema(Some(StringType), Seq(
          ColumnCheck("text_nonblank", c => length(trim(c)) > 0),
          ColumnCheck("text_short", c => length(c) <= 300)),
          nullable = false),
        "ds" -> ColumnSchema.of(StringType))
      ext.ValidationLedger.validateIncrement(ledSch,
        hist.withColumn("ds", lit("hist")), "ds", ldir, "hist"): Unit
      // tonight's batch: fresh docs, exact re-crawls, near-dup re-crawls.
      // Sub-batch ids are offset by (max doc_id + 1) × k — scale-free
      // (r17 advice: the old +1e6/+2e6/+3e6 offsets collide with each
      // other and with hist ids once max doc_id ≥ 1e6, i.e. sf ≥ ~1,
      // fanning out the disposition joins); the oracle mirrors the same
      // derivation via a scalar subquery
      val idBase = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select((col("doc_id") + idBase).as("id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(6)) === 0)
          .select((col("doc_id") + 2L * idBase).as("id"), col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(6)) === 2)
          .select((col("doc_id") + 3L * idBase).as("id"),
            concat(col("text"), lit(" r16 resume suffix")).as("text")))
      val sdir = tmp("graft-rb-staged")
      // the staged artifact carries the FULL disposition (every batch
      // row's fate), not just the survivors — the scrub verdicts are
      // computable only BEFORE the appends, so anything the output needs
      // from them must ride the staged bytes through the crash
      def stageDisposition() =
        ext.Pipeline.stageBatch(s, sdir, "night", 1L) {
          val afterExact = ext.FingerprintStore.scrub(batch, "text", fpDir)
          val surv = ext.Dedup.dropExistingNearDupStore(afterExact, "id",
            "text", mhDir)
          batch
            .join(afterExact.select(col("id"), lit(true).as("__pe")),
              Seq("id"), "left")
            .join(surv.select(col("id"), lit(true).as("__pn")),
              Seq("id"), "left")
            .select(col("id"), col("text"),
              when(col("__pe").isNull, "exact_dup")
                .when(col("__pn").isNull, "near_dup")
                .otherwise("ingested").as("stage_status"))
        }
      def survivorsOf(staged: org.apache.spark.sql.DataFrame) =
        staged.filter(col("stage_status") === "ingested")
          .select(col("id"), col("text"))
      // --- attempt 1: crash between the BM25 append and the ANN append
      val surv1 = survivorsOf(stageDisposition())
      require(ext.FingerprintStore.appendBatch(surv1, "text", fpDir,
        "night", 1L), "attempt 1: fp append must commit")
      require(ext.Dedup.appendBatchToMinHashStore(surv1, "id", "text",
        mhDir, "night", 1L), "attempt 1: minhash append must commit")
      require(ext.Retrieval.appendBatchToIndex(surv1, "id", "text", bmDir,
        "night", 1L), "attempt 1: bm25 append must commit")
      // <crash> — the ANN append and the ledger increment never ran
      // --- attempt 2: the resume re-runs the whole sequence, same tags.
      // Eager localCheckpoint: the disposition frame must outlive
      // retireStaged below (the gate's output materializes only at the
      // end), and the survivors feed five consumers
      val staged2 = stageDisposition().localCheckpoint(true)
      val surv2 = survivorsOf(staged2)
      require(surv2.count() == surv1.count() && surv2.count() > 0,
        "resume must read back the staged survivors, not re-derive " +
          "(a re-scrub against the already-appended stores would drop all)")
      val fpNoop = !ext.FingerprintStore.appendBatch(surv2, "text", fpDir,
        "night", 1L)
      val mhNoop = !ext.Dedup.appendBatchToMinHashStore(surv2, "id", "text",
        mhDir, "night", 1L)
      val bmNoop = !ext.Retrieval.appendBatchToIndex(surv2, "id", "text",
        bmDir, "night", 1L)
      require(fpNoop && mhNoop && bmNoop,
        "redelivered appends must no-op at the committed marks")
      val annDid = ext.AnnStore.appendBatch(embed(surv2, col("id")),
        "doc_id", "emb", annDir, "night", 1L)
      require(annDid, "the crashed-off ANN append must land on resume")
      val nightly = ext.ValidationLedger.validateIncrementBatch(ledSch,
        hist.withColumn("ds", lit("hist")).unionByName(
          surv2.select(col("id").as("doc_id"), col("text"))
            .withColumn("ds", lit("night1"))),
        "ds", ldir, "night1", "night", 1L,
        candidates = Some(Seq("night1")))
      require(nightly.select("partition").collect().map(_.getString(0))
        .toSeq == Seq("night1"), "resume ledger increment must validate " +
        "exactly the night1 partition")
      ext.Pipeline.retireStaged(s, sdir, "night", 1L)
      // convergence pins: the resumed stores serve exactly as one
      // uninterrupted run would (≡ a one-shot build over the union)
      val union = hist.unionByName(
        surv2.select(col("id").as("doc_id"), col("text")))
      val queries = hist.filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id").as("query_id"), concat_ws(" ",
          slice(ext.TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
      // score rounded to 1e-9 (r17 advice): PipelineResumeSpec pins the
      // same identity at that tolerance — exact Double equality could
      // flake on a different aggregation/merge order between the index
      // serve and the direct path
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          math.round(r.getDouble(3) * 1e9)))
        .sorted.toSeq
      require(rows(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)) ==
        rows(ext.Retrieval.bm25TopK(union, "doc_id", "text", queries,
          "query_id", "qtext", k = 5)),
        "resumed BM25 store diverged from one-shot over union")
      require(ext.AnnStore.codes(s, annDir).count() == union.count(),
        "resumed ANN store must hold exactly the union's codes (a " +
          "redelivery double-append would inflate this)")
      // disposition output (exact_dup / near_dup / ingested re-derived by
      // the oracle) comes from the STAGED verdict — a post-append re-scrub
      // would drop every batch text and misreport the fates
      val ledgerRows = ext.ValidationLedger.status(s, ldir).select(
        when(col("partition") === "hist", -200L).otherwise(-201L)
          .as("doc_id"),
        concat(lit("ledger:"), col("partition"),
          lit(":rows="), col("n_rows"), lit(",failed="), col("n_failed"),
          lit(",passed="), col("passed")).as("status"))
      staged2.select(col("id").as("doc_id"),
          col("stage_status").as("status"))
        .unionByName(ledgerRows)
        .unionByName(surv2.limit(1).select(lit(-400L).as("doc_id"),
          concat(lit("resume:noops="),
            lit(Seq(fpNoop, mhNoop, bmNoop).count(identity)),
            lit(",appends="), lit(if (annDid) 1 else 0)).as("status")))
        .orderBy("doc_id")
    }),
    "pipeline_resume_takedown" -> ((s, d) => {
      // r17 (r16-verdict #3): the TAKEDOWN composition's crash-resume as
      // a gate — the erasure-side sibling of pipeline_resume_batch.
      // Attempt 1 retracts from fingerprint + MinHash and deletes from
      // BM25, then "crashes" between the BM25 delete and the ANN delete
      // (the canonical window); attempt 2 re-runs the WHOLE sequence
      // under the same (tag, batchId): the three redelivered retracts
      // no-op at their committed marks, the ANN delete and the ledger
      // revalidate land once, and the converged stores serve exactly as
      // one uninterrupted takedown (pinned in-gate: masked BM25 serve ≡
      // one-shot over the survivors, live ANN codes = survivor count).
      // Output = the post-takedown RE-CRAWL disposition — the
      // masked-phase semantics the oracle re-derives from the shared
      // parquet alone: re-crawls of taken-down texts re-admitted (the
      // fingerprint store is a SET of normalized texts, retraction is
      // set difference), surviving texts still exact-dup, near-dups
      // still caught against surviving IDS only (the MinHash mask is
      // id-keyed) — plus the post-revalidate ledger rollup and the
      // resume-counters row. Near-dup channel: exact 3-shingle Jaccard
      // ≥ 0.8 in the oracle vs MinHash-LSH in the engine, the same
      // deliberate channel as pipeline_resume_batch; verified
      // oracle-match at sf0.001/0.01/0.1.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val hist = docs
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      val fpDir = tmp("graft-rt-fp"); ext.FingerprintStore.build(hist, "text", fpDir)
      val mhDir = tmp("graft-rt-mh"); ext.Dedup.buildMinHashStore(hist, "doc_id", "text", mhDir)
      val bmDir = tmp("graft-rt-bm"); ext.Retrieval.buildIndex(hist, "doc_id", "text", bmDir)
      val histEmb = hist.select(col("doc_id"),
        ext.TextAnalysis.hashVector(col("text"), 64).as("emb"))
      val annDir = tmp("graft-rt-ann")
      ext.AnnStore.create(histEmb, "doc_id", "emb",
        ext.Similarity.trainIvf(histEmb, "doc_id", "emb", nCentroids = 8), annDir)
      val ldir = tmp("graft-rt-led")
      val ledSch = DataFrameSchema(
        "doc_id" -> ColumnSchema(Some(LongType), Nil, nullable = false),
        "text" -> ColumnSchema(Some(StringType), Seq(
          ColumnCheck("text_nonblank", c => length(trim(c)) > 0),
          ColumnCheck("text_short", c => length(c) <= 300)),
          nullable = false),
        "ds" -> ColumnSchema.of(StringType))
      ext.ValidationLedger.validateIncrement(ledSch,
        hist.withColumn("ds", lit("hist")), "ds", ldir, "hist"): Unit
      val tdocs = hist.filter(pmod(col("doc_id"), lit(7)) === 0)
      val tIds = tdocs.select("doc_id")
      val nTd = tIds.count()
      require(nTd > 0, "takedown set must be non-empty")
      // --- attempt 1: crash between the BM25 delete and the ANN delete
      require(ext.FingerprintStore.retractBatch(tdocs, "text", fpDir,
        "td", 1L) > 0L, "attempt 1: fp retract must commit")
      require(ext.Dedup.retractBatchFromMinHashStore(tIds, "doc_id",
        mhDir, "td", 1L) == nTd, "attempt 1: minhash retract must commit")
      require(ext.Retrieval.deleteDocsBatch(tIds, "doc_id", bmDir,
        "td", 1L) == nTd, "attempt 1: bm25 delete must commit")
      // <crash> — the ANN delete and the ledger revalidate never ran
      // --- attempt 2: the resume re-runs the whole sequence, same tags
      val fpN = ext.FingerprintStore.retractBatch(tdocs, "text", fpDir,
        "td", 1L)
      val mhN = ext.Dedup.retractBatchFromMinHashStore(tIds, "doc_id",
        mhDir, "td", 1L)
      val bmN = ext.Retrieval.deleteDocsBatch(tIds, "doc_id", bmDir,
        "td", 1L)
      require(fpN == 0L && mhN == 0L && bmN == 0L,
        "redelivered retracts must no-op at the committed marks " +
          "(tombstones must never double)")
      val annN = ext.AnnStore.deleteBatch(tIds, "doc_id", annDir, "td", 1L)
      require(annN == nTd, "the crashed-off ANN delete must land on resume")
      val survivors = hist.join(tIds, Seq("doc_id"), "left_anti")
      val reval = ext.ValidationLedger.revalidateBatch(ledSch,
        survivors.withColumn("ds", lit("hist")), "ds", ldir, "hist2",
        "td", 1L, Seq("hist"))
      require(reval.select("partition").collect().map(_.getString(0))
        .toSeq == Seq("hist"), "resume revalidate must re-verdict " +
        "exactly the hist partition from the masked data")
      // convergence pins. BM25 masked phase keeps the FULL corpus stats
      // by design (mask-then-heal, text_bm25_delete's contract), so the
      // masked pin is exclusion + tombstone mass; the one-shot identity
      // holds only AFTER the heal re-derives df/counters from survivors.
      val queries = hist.filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id").as("query_id"), concat_ws(" ",
          slice(ext.TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          math.round(r.getDouble(3) * 1e9)))
        .sorted.toSeq
      require(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)
        .join(tIds, Seq("doc_id"), "left_semi").isEmpty,
        "masked BM25 serve must exclude every tombstoned id")
      require(ext.Retrieval.tombstoneCount(s, bmDir) == nTd,
        "BM25 tombstones must equal the takedown set exactly (a " +
          "redelivered delete would double them)")
      ext.Retrieval.compactIndex(s, bmDir)
      require(rows(ext.Retrieval.bm25TopKFromIndex(s, bmDir, queries,
          "query_id", "qtext", k = 5)) ==
        rows(ext.Retrieval.bm25TopK(survivors, "doc_id", "text", queries,
          "query_id", "qtext", k = 5)),
        "healed BM25 store diverged from one-shot over the survivors")
      require(ext.AnnStore.codes(s, annDir).count() == survivors.count(),
        "live ANN codes must equal the survivor count (a redelivered " +
          "delete would over-mask; a dropped one would under-mask)")
      // post-takedown re-crawl: taken-down texts, surviving texts, fresh
      // content — scale-free id offsets, same derivation the oracle uses
      val idBase = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val recrawl = tdocs
        .select((col("doc_id") + idBase).as("id"), col("text"))
        .unionByName(hist.filter(pmod(col("doc_id"), lit(7)) === 1)
          .select((col("doc_id") + 2L * idBase).as("id"), col("text")))
        .unionByName(hist.filter(pmod(col("doc_id"), lit(7)) === 2)
          .select((col("doc_id") + 3L * idBase).as("id"),
            concat(col("text"), lit(" r17 takedown fresh tail")).as("text")))
      val afterExact = ext.FingerprintStore.scrub(recrawl, "text", fpDir)
      val afterNear = ext.Dedup.dropExistingNearDupStore(afterExact, "id",
        "text", mhDir)
      val disposition = recrawl
        .join(afterExact.select(col("id"), lit(true).as("__pe")),
          Seq("id"), "left")
        .join(afterNear.select(col("id"), lit(true).as("__pn")),
          Seq("id"), "left")
        .select(col("id").as("doc_id"),
          when(col("__pe").isNull, "exact_dup")
            .when(col("__pn").isNull, "near_dup")
            .otherwise("ingested").as("status"))
      val ledgerRows = ext.ValidationLedger.status(s, ldir).select(
        lit(-200L).as("doc_id"),
        concat(lit("ledger:"), col("partition"),
          lit(":rows="), col("n_rows"), lit(",failed="), col("n_failed"),
          lit(",passed="), col("passed")).as("status"))
      disposition
        .unionByName(ledgerRows)
        .unionByName(tIds.limit(1).select(lit(-400L).as("doc_id"),
          concat(lit("resume:noops="),
            lit(Seq(fpN, mhN, bmN).count(_ == 0L)),
            // landed = ANN delete + ledger revalidate, both require-pinned
            // above, so the literal is honest (r17 review: a conditional
            // here implied a data-dependence that the requires preclude)
            lit(",landed="), lit(2)).as("status")))
        .orderBy("doc_id")
    }),
    "events_sessions" -> ((s, d) =>
      // round-5: gap-timeout sessionization via native session_window
      // (one user-keyed shuffle; streaming-compatible shape)
      ext.Sessions.sessionize(t(s, d, "events"), "user_id", "ts", "value",
        gap = "30 minutes")
        .orderBy("user_id", "session_start_us")),
    "events_sessions_stream" -> ((s, d) =>
      // round-7: batch ≡ streaming — replay the events table as
      // micro-batches through sessionize(watermark=...) in APPEND mode;
      // the emitted union must match the SAME DuckDB oracle as the batch
      // events_sessions gate
      streaming.StreamingValidation.sessionizeReplay(
        t(s, d, "events"), "user_id", "ts", "value", gap = "30 minutes")
        .orderBy("user_id", "session_start_us")),
    "stream_quarantine" -> ((s, d) =>
      // round-7: batch ≡ streaming quarantine — replay lineitem as
      // micro-batches through quarantineWriter (per-batch codegen'd
      // predicate split); the tagged union of both sinks must equal the
      // batch split computed by the SQL oracle
      streaming.StreamingValidation.quarantineReplay(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_tax"),
        DataFrameSchema(
          "l_quantity" -> ColumnSchema(Some(DoubleType), Seq(Check.inRange(5.0, 45.0))),
          "l_tax" -> ColumnSchema(Some(DoubleType), Seq(Check.le(0.05)))))
        .select("side", "l_orderkey", "l_linenumber", "l_quantity", "l_tax")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // the value columns complete the deterministic sort key
        .orderBy("side", "l_orderkey", "l_linenumber", "l_quantity", "l_tax")),
    "stream_dedup" -> ((s, d) =>
      // round-7: batch ≡ streaming exact dedup — replay events through
      // dropDuplicatesWithinWatermark keyed on (user_id, event_type) with
      // the watermark spanning the full event-time range; the emitted key
      // set must equal SELECT DISTINCT
      streaming.StreamingValidation.dedupReplay(
        t(s, d, "events").select("user_id", "event_type", "ts"),
        Seq("user_id", "event_type"), "ts")
        .orderBy("user_id", "event_type")),
    "stream_scrub" -> ((s, d) => {
      // round-7: batch ≡ streaming incremental-ingest scrub — the SAME
      // synthetic crawl batch as dedup_incremental_bloom, replayed as
      // micro-batches against the static corpus's Bloom+fingerprint
      // filter; the union of kept rows must equal the batch anti-join
      // (same oracle SQL, doc_id projection)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" graft batch-2 tail")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 2)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      streaming.StreamingValidation.scrubReplay(incoming, docs, "text")
        .select("doc_id").orderBy("doc_id")
    }),
    "events_trending" -> ((s, d) =>
      // round-8: exact heavy hitters per event-time window — "trending
      // users per day": one windowed Misra-Gries + count aggregation,
      // then a broadcast-pruned exact recount cut at phi·N_window; the
      // oracle recomputes the exact per-window cut in SQL. Explicit
      // null-ts filter on BOTH engines: Spark's window() silently drops
      // null event times while DuckDB's date_trunc would emit a NULL
      // window_start group — pin the shared semantics instead of relying
      // on the data having no null ts (r8 ADVICE).
      ext.HeavyHitters.frequentItemsByWindow(
        t(s, d, "events").filter(col("ts").isNotNull), "ts",
        "user_id", phi = 0.015, windowDur = "1 day")),
    "events_hourly" -> ((s, d) => {
      val ev = t(s, d, "events")
      ev
        .withColumn("ets", graft.functions.EventTime.eventTime(ev, "ts"))
        .groupBy(date_format(date_trunc("hour", col("ets")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("total_value"))
        .orderBy("hour", "event_type")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "events_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t FROM events " +
        "WHERE event_type = 'signup' AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY e.user_id) " +
        "SELECT * FROM (" +
        "SELECT 1 AS step, 'signup' AS step_name, (SELECT count(*) FROM s1) AS n_users " +
        "UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2) " +
        "UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)) ORDER BY step"),
    "events_rolling" ->
      ("SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, " +
        "CAST(count(*) OVER w AS BIGINT) AS n_1h, " +
        "round(sum(value) OVER w, 3) AS sum_1h FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    "stream_asof" -> asofOracle,
    "stats_distinct_store" ->
      ("SELECT event_type, CAST(count(user_id) AS BIGINT) AS n_rows, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "ledger_incremental" ->
      // the committed ledger re-derived cell-by-cell from orders.parquet:
      // per-partition n_rows + each check slot's failure count (the exact
      // slot LABELS the engine builds — column:described / column:unique),
      // n_failed over hard slots, passed = (n_failed = 0). Batch lineage
      // follows the increments: the two b1 priorities, the rest b2.
      ("WITH p AS (SELECT o_orderpriority AS part, " +
        "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'b1' ELSE 'b2' END AS batch, " +
        "CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(*) FILTER (WHERE NOT (o_totalprice >= 0.0)) AS BIGINT) AS f_ge, " +
        "CAST(count(*) FILTER (WHERE NOT (len(o_orderpriority) BETWEEN 1 AND 10)) AS BIGINT) AS f_len, " +
        "CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS f_uni " +
        "FROM orders GROUP BY 1, 2), " +
        "x AS (SELECT part, batch, n_rows, 'o_totalprice:greater_than_or_equal_to(0.0)' AS check_label, f_ge AS failures, f_ge + f_len + f_uni AS n_failed FROM p " +
        "UNION ALL SELECT part, batch, n_rows, 'o_orderpriority:str_length(10, 1)', f_len, f_ge + f_len + f_uni FROM p " +
        "UNION ALL SELECT part, batch, n_rows, 'o_orderkey:unique', f_uni, f_ge + f_len + f_uni FROM p) " +
        "SELECT part, batch, n_rows, check_label, failures, CAST(n_failed AS BIGINT) AS n_failed, (n_failed = 0) AS passed, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM p) AS n_partitions, " +
        "(SELECT CAST(count(*) FILTER (WHERE f_ge + f_len + f_uni > 0) AS BIGINT) FROM p) AS n_failed_partitions, " +
        "(SELECT CAST(sum(n_rows) AS BIGINT) FROM p) AS sum_rows, " +
        "(SELECT CAST(sum(f_ge + f_len + f_uni) AS BIGINT) FROM p) AS sum_failures " +
        "FROM x ORDER BY part, check_label"),
    "ledger_invalidate" ->
      // the post-revalidation ledger re-derived from the CLEAN orders —
      // the corrupted 5-LOW verdict was invalidated and revalidated, so
      // no corrupt cell survives; batch lineage marks the rewrite
      ("WITH p AS (SELECT o_orderpriority AS part, " +
        "CASE WHEN o_orderpriority = '5-LOW' THEN 'b2' ELSE 'b1' END AS batch, " +
        "CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(*) FILTER (WHERE NOT (o_totalprice >= 0.0)) AS BIGINT) AS f_ge, " +
        "CAST(count(*) FILTER (WHERE NOT (len(o_orderpriority) BETWEEN 1 AND 10)) AS BIGINT) AS f_len, " +
        "CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS f_uni " +
        "FROM orders GROUP BY 1, 2), " +
        "x AS (SELECT part, batch, n_rows, 'o_totalprice:greater_than_or_equal_to(0.0)' AS check_label, f_ge AS failures, f_ge + f_len + f_uni AS n_failed FROM p " +
        "UNION ALL SELECT part, batch, n_rows, 'o_orderpriority:str_length(10, 1)', f_len, f_ge + f_len + f_uni FROM p " +
        "UNION ALL SELECT part, batch, n_rows, 'o_orderkey:unique', f_uni, f_ge + f_len + f_uni FROM p) " +
        "SELECT part, batch, n_rows, check_label, failures, CAST(n_failed AS BIGINT) AS n_failed, (n_failed = 0) AS passed " +
        "FROM x ORDER BY part, check_label"),
    "pipeline_crawl_batch" ->
      // the full store-backed nightly flow re-derived from the shared
      // parquet alone: batch construction (fresh/re-crawl/near-dup/blank/
      // corrupt) → quarantine → blank-drop → exact membership vs the
      // historical corpus (the fingerprint store's semantics) → exact
      // 3-shingle Jaccard ≥ 0.8 vs the historical corpus (the MinHash
      // store's semantics) → token-count PSI of the ingested docs vs the
      // historical 5-bin profile
      ("WITH docs AS (SELECT doc_id, text FROM documents), " +
        "hist AS (SELECT doc_id, text FROM docs WHERE doc_id % 3 != 1), " +
        "ba AS (SELECT doc_id + 1000000 AS id, text, (doc_id % 30 = 1) AS corrupt FROM docs WHERE doc_id % 3 = 1), " +
        "bb AS (SELECT doc_id + 2000000 AS id, text, false AS corrupt FROM docs WHERE doc_id % 6 = 0), " +
        "bc AS (SELECT doc_id + 3000000 AS id, text || ' r10 crawl suffix' AS text, false AS corrupt FROM docs WHERE doc_id % 6 = 2), " +
        "bd AS (SELECT doc_id + 4000000 AS id, '   ' AS text, false AS corrupt FROM docs WHERE doc_id % 6 = 3), " +
        "batch AS (SELECT * FROM ba UNION ALL SELECT * FROM bb UNION ALL SELECT * FROM bc UNION ALL SELECT * FROM bd), " +
        "quarantined AS (SELECT id FROM batch WHERE corrupt), " +
        "parsed AS (SELECT id, text FROM batch WHERE NOT corrupt), " +
        // NULL text must land in `invalid` on BOTH engines (the Spark
        // side's nullable=false validation marks it invalid; a bare
        // len(trim(NULL)) predicate would drop the row from both CTEs)
        "invalid AS (SELECT id FROM parsed WHERE text IS NULL OR len(trim(text)) = 0), " +
        "valid AS (SELECT id, text FROM parsed WHERE text IS NOT NULL AND len(trim(text)) > 0), " +
        "seen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM hist), " +
        "exact_dup AS (SELECT id FROM valid WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) IN (SELECT ntext FROM seen)), " +
        "surv1 AS (SELECT id, text FROM valid WHERE id NOT IN (SELECT id FROM exact_dup)), " +
        "ta AS (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM surv1), " +
        "sa AS (SELECT id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM ta), " +
        "tb AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM hist), " +
        "sb AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM tb), " +
        // inverted shingle index instead of the r13 all-pairs theta-join
        // (identical at threshold 0.8 > 0; sf0.1-tractable)
        "nea AS (SELECT id, unnest(sh) AS g FROM sa), " +
        "neb AS (SELECT doc_id, unnest(sh) AS g FROM sb), " +
        "nsa AS (SELECT id, len(sh) AS n FROM sa), " +
        "nsb AS (SELECT doc_id, len(sh) AS n FROM sb), " +
        "ni AS (SELECT nea.id, neb.doc_id, count(*) AS i " +
        "FROM nea JOIN neb ON nea.g = neb.g GROUP BY 1, 2), " +
        "near AS (SELECT DISTINCT ni.id FROM ni " +
        "JOIN nsa ON nsa.id = ni.id JOIN nsb ON nsb.doc_id = ni.doc_id " +
        "WHERE round(i::DOUBLE / (nsa.n + nsb.n - i), 4) >= 0.8), " +
        "ingested AS (SELECT id, text FROM surv1 WHERE id NOT IN (SELECT id FROM near)), " +
        "tcr AS (SELECT (CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE AS v FROM hist), " +
        "tcc AS (SELECT (CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE AS v FROM ingested), " +
        "edges AS (SELECT list_transform(quantile_cont(v, [0.2, 0.4, 0.6, 0.8]), e -> round(e, 6)) AS es FROM tcr), " +
        "refb AS (SELECT CAST(list_sum(list_transform((SELECT es FROM edges), e -> CASE WHEN v > e THEN 1 ELSE 0 END)) AS INTEGER) AS bin FROM tcr WHERE v IS NOT NULL), " +
        "curb AS (SELECT CAST(list_sum(list_transform((SELECT es FROM edges), e -> CASE WHEN v > e THEN 1 ELSE 0 END)) AS INTEGER) AS bin FROM tcc WHERE v IS NOT NULL), " +
        "refc AS (SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM refb) AS ref_frac FROM refb GROUP BY bin), " +
        "curc AS (SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM curb) AS cur_frac FROM curb GROUP BY bin), " +
        "bins AS (SELECT CAST(i AS INTEGER) AS bin FROM range(0, 5) t(i)), " +
        "jj AS (SELECT bin, greatest(coalesce(ref_frac, 0), 1e-6) AS rf, greatest(coalesce(cur_frac, 0), 1e-6) AS cf " +
        "FROM bins LEFT JOIN refc USING (bin) LEFT JOIN curc USING (bin)), " +
        "kk AS (SELECT bin, round((cf - rf) * ln(cf / rf), 6) AS pc FROM jj), " +
        // r15 takedown leg: historical docs with doc_id % 30 == 2 are
        // retracted from all five stores mid-pipeline; the ledger's hist
        // verdict revalidates against the LIVE hist. The re-crawl
        // dispositions model the fingerprint store's documented contract:
        // a retraction masks its TEXT fingerprint STORE-WIDE (the store
        // holds fps, not per-doc refcounts), so the masked live set is
        // the historical fps MINUS every taken-down text's fp — a
        // normalized text shared between a taken-down and a surviving
        // doc is masked too, and its re-crawl passes (at sf0.1 exactly
        // one such boundary doc exists; modeling liveseen from the
        // surviving docs alone diverges there — r15 review)
        "takedown AS (SELECT doc_id, text FROM hist WHERE doc_id % 30 = 2), " +
        "histlive AS (SELECT doc_id, text FROM hist WHERE doc_id % 30 <> 2), " +
        "tdseen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM takedown), " +
        "liveseen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM histlive " +
        "WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) NOT IN (SELECT ntext FROM tdseen)), " +
        "recrawl AS (SELECT doc_id + 7000000 AS id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM takedown), " +
        "rc_pass AS (SELECT id FROM recrawl WHERE ntext NOT IN (SELECT ntext FROM liveseen)), " +
        "rc_dup AS (SELECT id FROM recrawl WHERE ntext IN (SELECT ntext FROM liveseen)), " +
        // r13: the validation-ledger rollup rows — per-partition n_rows and
        // hard-failure count under the ledger schema (text_nonblank passes
        // everywhere by construction, text_short counts len(text) > 300);
        // hist reads the POST-takedown live partition (r15)
        "ledhist AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE len(text) > 300) AS BIGINT) AS f FROM histlive), " +
        "ledcur AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE len(text) > 300) AS BIGINT) AS f FROM ingested), " +
        "disp AS (SELECT id AS doc_id, 'quarantined' AS status FROM quarantined " +
        "UNION ALL SELECT id, 'invalid' FROM invalid " +
        "UNION ALL SELECT id, 'exact_dup' FROM exact_dup " +
        "UNION ALL SELECT id, 'near_dup' FROM near " +
        "UNION ALL SELECT id, 'ingested' FROM ingested " +
        "UNION ALL SELECT doc_id, 'taken_down' FROM takedown " +
        "UNION ALL SELECT id, 'recrawl_pass' FROM rc_pass " +
        "UNION ALL SELECT id, 'recrawl_dup' FROM rc_dup " +
        "UNION ALL SELECT CAST(-(bin + 1) AS BIGINT), 'drift:' || printf('%.6f', pc) FROM kk " +
        "UNION ALL SELECT CAST(-100 AS BIGINT), 'psi_total:' || printf('%.6f', (SELECT round(sum(pc), 6) FROM kk)) " +
        "UNION ALL SELECT CAST(-200 AS BIGINT), 'ledger:hist:rows=' || n || ',failed=' || f || ',passed=' || (f = 0) FROM ledhist " +
        "UNION ALL SELECT CAST(-201 AS BIGINT), 'ledger:night1:rows=' || n || ',failed=' || f || ',passed=' || (f = 0) FROM ledcur " +
        "UNION ALL SELECT CAST(-300 AS BIGINT), 'takedown:ids=' || (SELECT count(*) FROM takedown) || ',fp=' || (SELECT count(DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) FROM takedown)) " +
        "SELECT doc_id, status FROM disp ORDER BY doc_id"),
    "pipeline_resume_batch" ->
      // r16: the crash-resume gate's converged output re-derived from the
      // shared parquet alone — batch construction (fresh/exact-recrawl/
      // near-dup) → exact membership vs the historical corpus (the
      // fingerprint store's normalized-text semantics) → exact 3-shingle
      // Jaccard ≥ 0.8 vs the historical corpus (the MinHash store's
      // semantics) → ledger rollups; the resume-counters row is the
      // engine-pinned exactly-once invariant (3 redelivered appends
      // no-opped, 1 crashed-off append landed), emitted as a literal so
      // any redelivery misbehavior breaks the hash
      ("WITH docs AS (SELECT doc_id, text FROM documents), " +
        "hist AS (SELECT doc_id, text FROM docs WHERE doc_id % 3 != 1), " +
        "mx AS (SELECT max(doc_id) + 1 AS b FROM docs), " +
        "ba AS (SELECT doc_id + (SELECT b FROM mx) AS id, text FROM docs WHERE doc_id % 3 = 1), " +
        "bb AS (SELECT doc_id + 2 * (SELECT b FROM mx) AS id, text FROM docs WHERE doc_id % 6 = 0), " +
        "bc AS (SELECT doc_id + 3 * (SELECT b FROM mx) AS id, text || ' r16 resume suffix' AS text FROM docs WHERE doc_id % 6 = 2), " +
        "batch AS (SELECT * FROM ba UNION ALL SELECT * FROM bb UNION ALL SELECT * FROM bc), " +
        "seen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM hist), " +
        "exact_dup AS (SELECT id FROM batch WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) IN (SELECT ntext FROM seen)), " +
        "surv1 AS (SELECT id, text FROM batch WHERE id NOT IN (SELECT id FROM exact_dup)), " +
        "ta AS (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM surv1), " +
        "sa AS (SELECT id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM ta), " +
        "tb AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM hist), " +
        "sb AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM tb), " +
        "nea AS (SELECT id, unnest(sh) AS g FROM sa), " +
        "neb AS (SELECT doc_id, unnest(sh) AS g FROM sb), " +
        "nsa AS (SELECT id, len(sh) AS n FROM sa), " +
        "nsb AS (SELECT doc_id, len(sh) AS n FROM sb), " +
        "ni AS (SELECT nea.id, neb.doc_id, count(*) AS i " +
        "FROM nea JOIN neb ON nea.g = neb.g GROUP BY 1, 2), " +
        "near AS (SELECT DISTINCT ni.id FROM ni " +
        "JOIN nsa ON nsa.id = ni.id JOIN nsb ON nsb.doc_id = ni.doc_id " +
        "WHERE round(i::DOUBLE / (nsa.n + nsb.n - i), 4) >= 0.8), " +
        "ingested AS (SELECT id, text FROM surv1 WHERE id NOT IN (SELECT id FROM near)), " +
        "ledhist AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE len(text) > 300) AS BIGINT) AS f FROM hist), " +
        "ledcur AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE len(text) > 300) AS BIGINT) AS f FROM ingested), " +
        "disp AS (SELECT id AS doc_id, 'exact_dup' AS status FROM exact_dup " +
        "UNION ALL SELECT id, 'near_dup' FROM near " +
        "UNION ALL SELECT id, 'ingested' FROM ingested " +
        "UNION ALL SELECT CAST(-200 AS BIGINT), 'ledger:hist:rows=' || n || ',failed=' || f || ',passed=' || (f = 0) FROM ledhist " +
        "UNION ALL SELECT CAST(-201 AS BIGINT), 'ledger:night1:rows=' || n || ',failed=' || f || ',passed=' || (f = 0) FROM ledcur " +
        "UNION ALL SELECT CAST(-400 AS BIGINT), 'resume:noops=3,appends=1') " +
        "SELECT doc_id, status FROM disp ORDER BY doc_id"),
    "pipeline_resume_takedown" ->
      // r17: the takedown crash-resume gate's converged output re-derived
      // from the shared parquet alone. The fingerprint store is a SET of
      // normalized texts, so retraction is set difference (a text shared
      // by a taken-down and a surviving doc is removed ENTIRELY — its
      // re-crawl passes the exact scrub and is then caught by the
      // id-keyed near-dup mask against the surviving copy); the MinHash
      // mask is id-keyed, so near-dup candidates come from surviving IDS
      // only. Ledger rollup reflects the post-revalidate verdict over the
      // survivors; the resume-counters row is the engine-pinned
      // exactly-once invariant (3 redelivered retracts no-opped, the ANN
      // delete + ledger revalidate landed once).
      ("WITH docs AS (SELECT doc_id, text FROM documents), " +
        "mx AS (SELECT max(doc_id) + 1 AS b FROM docs), " +
        "td AS (SELECT doc_id, text FROM docs WHERE doc_id % 7 = 0), " +
        "sv AS (SELECT doc_id, text FROM docs WHERE doc_id % 7 != 0), " +
        "ra AS (SELECT doc_id + (SELECT b FROM mx) AS id, text FROM docs WHERE doc_id % 7 = 0), " +
        "rb AS (SELECT doc_id + 2 * (SELECT b FROM mx) AS id, text FROM docs WHERE doc_id % 7 = 1), " +
        "rc AS (SELECT doc_id + 3 * (SELECT b FROM mx) AS id, text || ' r17 takedown fresh tail' AS text FROM docs WHERE doc_id % 7 = 2), " +
        "batch AS (SELECT * FROM ra UNION ALL SELECT * FROM rb UNION ALL SELECT * FROM rc), " +
        "seen AS (SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM docs " +
        "EXCEPT SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) FROM td), " +
        "exact_dup AS (SELECT id FROM batch WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) IN (SELECT ntext FROM seen)), " +
        "surv1 AS (SELECT id, text FROM batch WHERE id NOT IN (SELECT id FROM exact_dup)), " +
        "ta AS (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM surv1), " +
        "sa AS (SELECT id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM ta), " +
        "tb AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM sv), " +
        "sb AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3 " +
        "THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) " +
        "ELSE [array_to_string(toks, ' ')] END) AS sh FROM tb), " +
        "nea AS (SELECT id, unnest(sh) AS g FROM sa), " +
        "neb AS (SELECT doc_id, unnest(sh) AS g FROM sb), " +
        "nsa AS (SELECT id, len(sh) AS n FROM sa), " +
        "nsb AS (SELECT doc_id, len(sh) AS n FROM sb), " +
        "ni AS (SELECT nea.id, neb.doc_id, count(*) AS i " +
        "FROM nea JOIN neb ON nea.g = neb.g GROUP BY 1, 2), " +
        "near AS (SELECT DISTINCT ni.id FROM ni " +
        "JOIN nsa ON nsa.id = ni.id JOIN nsb ON nsb.doc_id = ni.doc_id " +
        "WHERE round(i::DOUBLE / (nsa.n + nsb.n - i), 4) >= 0.8), " +
        "ingested AS (SELECT id FROM surv1 WHERE id NOT IN (SELECT id FROM near)), " +
        "led AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE len(text) > 300) AS BIGINT) AS f FROM sv), " +
        "disp AS (SELECT id AS doc_id, 'exact_dup' AS status FROM exact_dup " +
        "UNION ALL SELECT id, 'near_dup' FROM near " +
        "UNION ALL SELECT id, 'ingested' FROM ingested " +
        "UNION ALL SELECT CAST(-200 AS BIGINT), 'ledger:hist:rows=' || n || ',failed=' || f || ',passed=' || (f = 0) FROM led " +
        "UNION ALL SELECT CAST(-400 AS BIGINT), 'resume:noops=3,landed=2') " +
        "SELECT doc_id, status FROM disp ORDER BY doc_id"),
    "pipeline_corpus" ->
      // r17: the stopword floor counts hits over the NORMALIZED text
      // (lowercased tokens; zh by per-character occurrences), mirroring
      // the engine's langHits — the other gopher signals stay raw
      ("WITH t AS (SELECT doc_id, text, " +
        "CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks, " +
        "lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt, " +
        "CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), '\\s+') END AS ltoks, " +
        "list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS ls FROM documents), " +
        "s AS (SELECT doc_id, len(toks) AS n, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(list_aggregate(list_transform(toks, x -> len(x)), 'sum')::DOUBLE / len(toks), 4) END AS mean_len, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(((len(text) - len(replace(text, '#', ''))) + (len(text) - len(replace(text, '...', ''))) / 3)::DOUBLE / len(toks), 4) END AS sym, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 4) END AS dup_frac, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE round(len(list_filter(ls, x -> starts_with(trim(x), '-') OR starts_with(trim(x), '*') OR starts_with(trim(x), '•')))::DOUBLE / len(ls), 4) END AS bullet_frac, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE round(len(list_filter(ls, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…')))::DOUBLE / len(ls), 4) END AS ell_frac, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(toks), 4) END AS alpha_frac, " +
        "greatest(len(list_filter(ltoks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))), " +
        "len(list_filter(ltoks, x -> list_contains(['the','a','of','and','to','in','is','it'], x))), " +
        "len(list_filter(ltoks, x -> list_contains(['el','la','de','que','y','en','un','es'], x))), " +
        "len(list_filter(ltoks, x -> list_contains(['le','la','les','et','est','un','une','dans'], x))), " +
        "(len(nt) - len(replace(nt, '的', ''))) + (len(nt) - len(replace(nt, '是', ''))) + (len(nt) - len(replace(nt, '在', ''))) + (len(nt) - len(replace(nt, '了', ''))) + " +
        "(len(nt) - len(replace(nt, '和', ''))) + (len(nt) - len(replace(nt, '有', ''))) + (len(nt) - len(replace(nt, '我', ''))) + (len(nt) - len(replace(nt, '不', '')))) AS hits FROM t), " +
        "g AS (SELECT doc_id FROM s WHERE n BETWEEN 50 AND 100000 AND mean_len BETWEEN 3.0 AND 10.0 " +
        "AND sym <= 0.1 AND dup_frac <= 0.3 AND bullet_frac <= 0.9 AND ell_frac <= 0.3 " +
        "AND alpha_frac >= 0.8 AND hits >= 2), " +
        "kd AS (SELECT d.doc_id, d.lang, lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g')) AS nt FROM documents d JOIN g USING (doc_id)), " +
        "fd AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY nt), " +
        "dd AS (SELECT kd.doc_id, kd.lang FROM kd JOIN fd USING (doc_id)), " +
        "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || chr(1) || '7'), 1, 8))::BIGINT, doc_id) AS rn FROM dd), " +
        "c AS (SELECT doc_id, lang FROM r WHERE rn <= 30), " +
        "h AS (SELECT doc_id, lang, ('0x' || substr(md5(doc_id::VARCHAR || chr(1) || '11'), 1, 8))::BIGINT / 4294967296.0 AS hh FROM c) " +
        "SELECT doc_id, lang, CASE WHEN hh < 0.5 THEN 'train' WHEN hh < 0.75 THEN 'val' ELSE 'test' END AS split FROM h ORDER BY doc_id"),
    "events_sessions" -> sessionsOracleSql,
    // batch ≡ streaming: the replay gate answers to the SAME oracle
    "events_sessions_stream" -> sessionsOracleSql,
    "stream_quarantine" ->
      ("SELECT CASE WHEN (l_quantity IS NULL OR (l_quantity >= 5.0 AND l_quantity <= 45.0)) " +
        "AND (l_tax IS NULL OR l_tax <= 0.05) THEN 'valid' ELSE 'quarantined' END AS side, " +
        "l_orderkey, l_linenumber, l_quantity, l_tax FROM lineitem " +
        "ORDER BY side, l_orderkey, l_linenumber, l_quantity NULLS FIRST, l_tax NULLS FIRST"),
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
    "stream_scrub" ->
      ("WITH docs AS (SELECT doc_id, text FROM documents), " +
        "inc AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, text || ' graft batch-2 tail' FROM docs WHERE doc_id % 5 = 1 " +
        "UNION ALL SELECT doc_id + 2000000, text FROM docs WHERE doc_id % 5 = 2), " +
        "seen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM docs) " +
        "SELECT doc_id FROM inc WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) " +
        "NOT IN (SELECT ntext FROM seen) ORDER BY doc_id"),
    "stats_distinct_compacted" ->
      ("SELECT event_type, CAST(count(user_id) AS BIGINT) AS n_rows, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "stats_distinct_retract" ->
      // batch_1 (event_id % 3 = 1) recalled wholesale, then users with
      // user_id % 7 = 0 taken down inside 'click' via rebuild-from-live
      ("WITH live AS (SELECT * FROM events WHERE event_id % 3 <> 1), " +
        "fin AS (SELECT * FROM live WHERE NOT (event_type = 'click' " +
        "AND user_id % 7 = 0)) " +
        "SELECT event_type, CAST(count(user_id) AS BIGINT) AS n_rows, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct " +
        "FROM fin GROUP BY event_type ORDER BY event_type"),
    "stream_scrub_store" -> fpStoreOracle,
    "events_hourly" ->
      "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, round(sum(value), 3) AS total_value FROM events GROUP BY 1, 2 ORDER BY hour, event_type",
    // exact per-window heavy-hitter cut recomputed in SQL; Spark's tumbling
    // 1-day window and date_trunc('day') share UTC midnight boundaries
    "events_trending" ->
      ("WITH w AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start, user_id, count(*) AS cnt FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT window_start, CAST(sum(cnt) AS BIGINT) AS n_group FROM w GROUP BY 1) " +
        "SELECT w.window_start, user_id, cnt, n_group FROM w JOIN t USING(window_start) " +
        "WHERE cnt >= 0.015 * n_group ORDER BY window_start, cnt DESC, user_id"),

    // ---- §2.A custom check / §2.B structural / §2.E / §2.F additions ----
  )
}
