package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.DataFrameSchema
import graft.backend.Validator

/** Partition-incremental validation — validate each partition of a growing
  * corpus ONCE, persist the per-partition verdict, and answer every later
  * "is the corpus clean?" question from the KB-sized ledger instead of
  * re-scanning the data.
  *
  * At 100 TB this is the difference between a validation run that costs a
  * full corpus scan and one that costs a scan of the new day's partition:
  * the ledger records which partition values have already been validated,
  * `validateIncrement` subtracts them, reads ONLY the unseen partitions
  * (inlined as literals when few — static partition pruning at the file
  * listing — else a broadcast semi-join), and runs the engine's fused
  * check pass GROUPED by partition: one scan of the increment produces
  * per-partition n_rows + per-check failure counts, committed as one
  * manifest generation.
  *
  * The reference has no incremental form — its model validates a
  * container in memory per call (pandera/api/pyspark/container.py); this
  * is the store-protocol extension of that model, sibling to
  * [[DriftProfile]] (fractions), [[SketchStore]] (distinct counts) and the
  * fingerprint store (membership): reduce each increment once, persist the
  * bounded summary, serve later questions from the store.
  *
  * Scope contract (loud, not silent): row-level checks (column checks,
  * wide checks, nullable, coercion failures) and per-column uniqueness
  * (WITHIN the partition — the partition is the validation unit, as in
  * "validate the new day's batch") are counted. Aggregate-class checks and
  * table-level joint uniqueness are refused at call time — the former are
  * not row-decomposable, the latter is cross-partition by construction;
  * run `schema.validate` on the increment for those. Schema-level
  * (metadata) validation runs once per increment via
  * `validate(depth = SchemaOnly)` and THROWS on hard errors — a ledger
  * must not quietly record data that failed structural validation.
  *
  * Warning-only checks (`raiseWarning`) are counted in `failures` but do
  * not fail the partition — `passed` mirrors `ValidationResult.passed`.
  *
  * Layout: the shared [[GenerationLog]] protocol (`manifest.json` +
  * `rows/<gen>/` parquet; atomic visibility, cooling-ledger GC on compact)
  * — one crash-safety story with the BM25/ANN/fingerprint/sketch stores.
  * Single-writer per ledger, like every store in this family.
  *
  * Re-validation is deliberate, not a flag: corrected partitions are new
  * partition VALUES (e.g. `ds=2026-08-15.v2`) or a new ledger. A ledger
  * row is an audit record; silently replacing one would make the rollup
  * lie about what was checked. */
object ValidationLedger {

  private def q(n: String): Column = col("`" + n.replace("`", "``") + "`")

  private def rowsRoot(path: String) = s"$path/rows"
  private def genPath(path: String, gen: String) = s"$path/rows/$gen"

  /** Payload key `contract` (r14): the canonical names of the ledgered
    * check surface, recorded at the first commit and required equal on
    * every later increment — see [[incrementPreflight]]. Absent in
    * pre-r14 manifests (reads as Nil; adopted at the next commit). */
  private def genLog(path: String) = GenerationLog(s"$path/manifest.json",
    "graft-validation-ledger", 1, s"validation ledger at $path",
    Seq(rowsRoot(path)), None)

  private def exists(spark: SparkSession, path: String): Boolean =
    genLog(path).exists(spark)

  /** The committed ledger rows: (partition, batch, n_rows, failures
    * map<check,count>, n_failed, passed), one row per validated partition. */
  def rows(spark: SparkSession, path: String): DataFrame = {
    val m = genLog(path).read(spark)
    require(m.gens.nonEmpty, s"validation ledger at $path has no rows")
    m.gens.map(g => spark.read.parquet(genPath(path, g)))
      .reduce(_.unionByName(_))
  }

  /** Partition values already validated — the skip set. Bounded collect:
    * the ledger is the small side BY CONTRACT (one row per partition;
    * `graft.ledger.maxPartitions` caps it loudly). */
  def validatedPartitions(spark: SparkSession, path: String): Set[String] =
    if (!exists(spark, path)) Set.empty
    else {
      val m = genLog(path).read(spark)
      if (m.gens.isEmpty) Set.empty
      else StoreFiles.collectBounded(
        rows(spark, path).select("partition").distinct(),
        s"validation ledger at $path",
        "graft.ledger.maxPartitions", 1000000)
        .map(_.getString(0)).toSet
    }

  /** Validate the UNSEEN partitions of `data` and append their verdicts.
    *
    * One grouped fused pass over the increment: every row-level check of
    * `schema` (plus per-column uniqueness, counted within the partition)
    * becomes a `sum(when(fail, 1))` slot under `GROUP BY partitionCol` —
    * cost is one scan of the new partitions regardless of check count,
    * the Validator's fused-aggregate design applied per partition. Each
    * per-column `unique` adds a distinct-aggregate branch (Spark Expand);
    * typical schemas carry 0-2.
    *
    * Partition values are compared as their CAST-TO-STRING form (the
    * ledger's uniform key); null partitions are refused loudly — an
    * unpartitionable row would otherwise be re-validated forever.
    *
    * Returns the newly appended verdict rows (empty when nothing new —
    * no generation is committed). Idempotent under re-runs.
    *
    * `candidates` (r13): the partition KEYS this increment may contain,
    * in the ledger's canonical cast-to-string form (for an uncoerced
    * partition column, simply the value's string form, e.g.
    * `Seq("2026-08-15")`). With candidates supplied the unseen-value
    * DISCOVERY SCAN is skipped entirely — the ScaleProbe `ledger` leg
    * measured discovery at ~the cost of touching EVERY file of the
    * corpus once (a distinct over the partition column schedules a scan
    * task per file: 10+ s at a toy 1001-file table, a full nightly
    * corpus walk at 100 TB), while the grouped pass itself stays at the
    * new partition's size. A nightly ingest KNOWS tonight's partition
    * values — pass them and the increment costs ledger-read +
    * one-partition scan, flat in corpus and ledger size. Rows outside
    * the candidate set (including null partitions) are IGNORED this
    * call — safe here because nothing advances: a later call can still
    * validate them (the streamed twin, whose mark DOES advance, refuses
    * such rows loudly instead — see [[validateIncrementBatch]]). The
    * zero-knowledge default (None) keeps the discovery scan. */
  def validateIncrement(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String, batchLabel: String,
      candidates: Option[Seq[String]] = None): DataFrame =
    doIncrement(schema, data, partitionCol, path, batchLabel, None,
      candidates)

  /** The streaming twin of [[validateIncrement]] (r13 — the family shape
    * of SketchStore/FingerprintStore/BM25/ANN `appendBatch`): call from
    * `foreachBatch` with `(streamTag, batchId)`; the manifest's per-tag
    * high-water mark makes Spark's at-least-once re-deliveries
    * exactly-once — a redelivered batch returns empty BEFORE any data
    * scan. The generation is named `<tag>-b<id>`, so a crash between the
    * generation write and the manifest flip leaves an orphan the retry
    * overwrites before committing. The tag must be 1:1 with the stream's
    * CHECKPOINT. The ledger's own skip-set already makes re-validation
    * impossible; the mark makes redelivery FREE and pins the replay
    * horizon like every other store in the family.
    *
    * Candidates are ASSERTED here, not advisory (r14): because the mark
    * advances on commit, a batch row whose partition is outside
    * `candidates` and not already validated would be dropped with no
    * later chance to validate it — a silent audit hole. So the streamed
    * form runs its grouped pass over the WHOLE batch (one scan — the
    * batch is already the increment; there is no file listing to prune)
    * and REFUSES, before committing anything, if the batch contains such
    * a partition. The batch then retries with corrected candidates (or
    * None for discovery); exactly-once is preserved because neither the
    * generation nor the mark was committed. */
  def validateIncrementBatch(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String, batchLabel: String,
      streamTag: String, batchId: Long,
      candidates: Option[Seq[String]] = None): DataFrame = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    doIncrement(schema, data, partitionCol, path, batchLabel,
      Some((streamTag, batchId)), candidates)
  }

  private def doIncrement(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String, batchLabel: String,
      stream: Option[(String, Long)],
      candidates: Option[Seq[String]],
      pre: Option[(DataFrame, Seq[Validator.CheckSlot], Seq[String])] =
        None): DataFrame = {
    val spark = data.sparkSession
    require(data.columns.contains(partitionCol),
      s"partition column '$partitionCol' not in data")
    // streamed redelivery: the per-tag mark short-circuits before any
    // manifest-row or data scan. (No early `return` anywhere in this
    // method — a non-local return inside a closure rides
    // NonLocalReturnControl, which any future catch-all wrapper would
    // swallow silently; everything below is expression-structured.)
    val redelivered = stream.isDefined && exists(spark, path) &&
      genLog(path).read(spark).redelivered(stream)
    if (redelivered) emptyResult(spark)
    else doIncrementFresh(schema, data, partitionCol, path, batchLabel,
      stream, candidates, pre)
  }

  /** Exactly-once REVALIDATION of named partitions — the takedown
    * follow-up (invalidate stale verdicts, revalidate from the live
    * data) as ONE mark-guarded streamed step (r16). The naive
    * invalidate-then-increment pair is NOT redelivery-safe: the
    * increment no-ops at its `(streamTag, batchId)` mark, but a bare
    * [[invalidate]] on the redelivery would still run — permanently
    * removing the very verdicts the first delivery revalidated, with the
    * mark-guarded increment refusing to restore them. Here the mark
    * guards BOTH halves. Crash windows: after the invalidate but before
    * the increment, the resume re-runs the (now no-op) invalidate and
    * commits the increment; after the increment, the whole call no-ops.
    * Every metadata-only refusal the increment can raise (ledgerability,
    * structural schema, contract match) runs BEFORE the invalidate half
    * (r16 second-pass review: a post-invalidate refusal would have
    * destroyed the verdicts with nothing committed). The one refusal
    * that inherently needs a data scan — a batch row whose partition is
    * outside `partitions` ∪ already-validated — still fires inside the
    * increment: it leaves the named partitions
    * invalidated-but-unvalidated, LOUDLY, and a retry with corrected
    * arguments (same tag/batchId — the mark never advanced) revalidates
    * them; nothing is silently lost.
    *
    * A named partition with NO rows in `data` ends the call UNLEDGERED —
    * by design, not by accident: a takedown that empties a partition
    * wholesale leaves nothing to validate, and the correct converged
    * state is "verdict removed, no new verdict" (the same emptied-group
    * semantics as `SketchStore.rebuildKeys(affectedKeys)` — the r15
    * review that added it closed the opposite bug, stale state
    * surviving). A caller revalidating a partition it believes is still
    * LIVE should assert the returned frame covers it (the
    * `pipeline_resume_batch` gate does exactly that); mirroring
    * `reconcile` afterwards also surfaces it. Returns the increment's
    * verdict frame (empty on a redelivery no-op).
    * PipelineResumeSpec-covered as part of the takedown composition. */
  def revalidateBatch(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String, batchLabel: String,
      streamTag: String, batchId: Long,
      partitions: Seq[String]): DataFrame = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    require(partitions.nonEmpty,
      "revalidateBatch: name the partitions whose data was rewritten")
    val spark = data.sparkSession
    require(exists(spark, path),
      s"revalidateBatch: no validation ledger at $path — nothing to " +
        "revalidate; run validateIncrement to establish one")
    require(data.columns.contains(partitionCol),
      s"partition column '$partitionCol' not in data")
    if (genLog(path).read(spark).redelivered(Some((streamTag, batchId))))
      emptyResult(spark)
    else {
      val pre = incrementPreflight(schema, data, partitionCol, path)
      invalidate(spark, path, partitions): Unit
      doIncrement(schema, data, partitionCol, path, batchLabel,
        Some((streamTag, batchId)), Some(partitions), pre = Some(pre))
    }
  }

  /** The increment's metadata-only refusal checks, factored (r16 review)
    * so [[revalidateBatch]] can run them BEFORE its destructive
    * invalidate half: joint-uniqueness / aggregate-check ledgerability,
    * structural schema validation (zero data jobs), and the check-surface
    * contract match. Returns the pieces the increment needs
    * (pre-coerced frame, check slots, canonical contract). */
  private def incrementPreflight(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String):
      (DataFrame, Seq[Validator.CheckSlot], Seq[String]) = {
    val spark = data.sparkSession
    require(schema.unique.isEmpty,
      "validateIncrement: table-level joint uniqueness is cross-partition " +
        "by construction and cannot be ledgered per partition — run " +
        "schema.validate on the increment for it, or drop it from the " +
        "ledger schema")
    val (work, slots, aggLabels) = Validator.rowCheckSlots(schema, data)
    require(aggLabels.isEmpty,
      "validateIncrement: aggregate-class checks are not row-decomposable " +
        s"and cannot be ledgered per partition: ${aggLabels.mkString(", ")} " +
        "— run schema.validate on the increment for those, or drop them " +
        "from the ledger schema")

    // structural validation of the increment, once, before anything is
    // recorded — zero data jobs (metadata only), throws on hard errors
    Validator.validate(schema, data,
      depth = graft.errors.GraftConfig.SchemaOnly).orThrow: Unit

    // the ledgered check surface, canonically named (r14): recorded at
    // the first commit and REQUIRED equal on every later increment —
    // verdicts from different check sets in one ledger would make
    // status/statusSummary silently mean different things per partition
    // (a new check "passes" on partitions it never ran against). An
    // EMPTIED ledger (gens = Nil, e.g. after invalidate of everything)
    // may re-establish a new contract; a pre-r14 manifest (none
    // recorded) adopts the current one at its next commit.
    val contract = (slots.map(s =>
        if (s.isWarning) s"${s.label}:warn" else s.label) ++
      schema.resolveColumns(data.columns.toSeq)
        .collect { case (dn, (_, cs)) if cs.unique => s"$dn:unique" }
        .distinct ++
      Seq(s"__partition__:$partitionCol")).sorted
    if (exists(spark, path)) {
      val mc = genLog(path).read(spark)
      val recorded = mc.strs("contract")
      if (mc.gens.nonEmpty && recorded.nonEmpty && recorded != contract) {
        val added = contract.diff(recorded)
        val removed = recorded.diff(contract)
        sys.error(s"validateIncrement: the ledger at $path was built " +
          "under a DIFFERENT check contract — its per-partition verdicts " +
          "would not be comparable with this increment's (" +
          (if (added.nonEmpty) s"added: ${added.mkString(", ")}" else "") +
          (if (added.nonEmpty && removed.nonEmpty) "; " else "") +
          (if (removed.nonEmpty) s"removed: ${removed.mkString(", ")}"
           else "") +
          "). Start a new ledger for the new contract, or invalidate() " +
          "every partition to revalidate the corpus under it")
      }
    }
    (work, slots, contract)
  }

  private def doIncrementFresh(schema: DataFrameSchema, data: DataFrame,
      partitionCol: String, path: String, batchLabel: String,
      stream: Option[(String, Long)],
      candidates: Option[Seq[String]],
      pre: Option[(DataFrame, Seq[Validator.CheckSlot], Seq[String])]):
      DataFrame = {
    val spark = data.sparkSession
    // `pre` carries revalidateBatch's already-run preflight (it must run
    // BEFORE that caller's invalidate half, and running it again here
    // would duplicate the metadata work; data/schema are unchanged in
    // between, so the result is identical by construction)
    val (work, slots, contract) = pre.getOrElse(
      incrementPreflight(schema, data, partitionCol, path))
    val already = validatedPartitions(spark, path)
    val maxInline = spark.conf.getOption("graft.ledger.maxInlineParts")
      .map(_.toInt).getOrElse(1024)
    val key = q(partitionCol).cast("string")

    // the grouped fused pass over `inc`: one slot per row-level check,
    // plus a within-partition duplicate count per unique column — one
    // scan of `inc` regardless of check count
    def verdictFrame(inc: DataFrame): DataFrame = {
      val uniqueCols = schema.resolveColumns(data.columns.toSeq)
        .collect { case (dn, (_, cs)) if cs.unique => dn }.distinct
      val slotExprs = slots.zipWithIndex.map { case (s, i) =>
        coalesce(sum(when(s.failCond, 1L)), lit(0L)).as(s"__f_$i") }
      val uniqExprs = uniqueCols.zipWithIndex.map { case (c, i) =>
        (count(q(c)) - count_distinct(q(c))).as(s"__u_$i") }
      val aggExprs = (count(lit(1)).as("n_rows") +: slotExprs) ++ uniqExprs
      val grouped = inc
        .groupBy(q(partitionCol).cast("string").as("partition"))
        .agg(aggExprs.head, aggExprs.tail: _*)
      val labels = slots.map(_.label) ++ uniqueCols.map(c => s"$c:unique")
      val counts = slots.indices.map(i => col(s"__f_$i")) ++
        uniqExprs.indices.map(i => col(s"__u_$i"))
      val hardCounts = (slots.zipWithIndex.collect {
        case (s, i) if !s.isWarning => col(s"__f_$i") } ++
        uniqExprs.indices.map(i => col(s"__u_$i")))
      val failuresMap =
        if (labels.isEmpty) map().cast("map<string,long>")
        else map(labels.zip(counts).flatMap { case (l, c) => Seq(lit(l), c) }: _*)
      val nFailed = hardCounts.reduceOption(_ + _).getOrElse(lit(0L))
      grouped.select(
        col("partition"),
        lit(batchLabel).as("batch"),
        col("n_rows"),
        failuresMap.as("failures"),
        nFailed.as("n_failed"),
        (nFailed === 0L).as("passed"))
    }

    // commit as one generation: write (invisible), then one manifest flip
    def commit(verdicts: DataFrame): DataFrame = {
      val lg = genLog(path)
      val existed = lg.exists(spark)
      val m0 = if (existed) lg.read(spark) else GenerationLog.Manifest()
      val gen = lg.nextGen(spark, m0, stream)
      verdicts.write.mode("overwrite").parquet(genPath(path, gen))
      // row-presence from the parquet footers — zero read-back Spark jobs
      // (see StoreFiles.parquetRowsWritten)
      val wrote = StoreFiles.parquetRowsWritten(spark, genPath(path, gen)) > 0L
      if (!wrote) { // an all-filtered increment: nothing to record
        StoreFiles.fs(spark, path)
          .delete(new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
        lg.publish(spark, m0, stream.filter(_ => existed), None): Unit
        emptyResult(spark)
      } else {
        lg.publish(spark, m0, stream, Some(m0.copy(gens = m0.gens :+ gen)
          .set("contract" -> contract))): Unit
        spark.read.parquet(genPath(path, gen))
      }
    }

    // nothing unseen: no generation, but a streamed call still advances
    // its mark so redelivery short-circuits
    def skipAll(): DataFrame = {
      advanceMarkOnly(spark, path, stream)
      emptyResult(spark)
    }

    // tiny driver-local key frame for the broadcast semi-join fallback
    // (shared by all three too-many-keys-to-inline paths)
    def keyFrame(vals: Seq[Any],
        field: org.apache.spark.sql.types.StructField): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(vals.map(v =>
          org.apache.spark.sql.Row(v)): _*),
        org.apache.spark.sql.types.StructType(Seq(field)))
    val strKeyField = org.apache.spark.sql.types.StructField("__k",
      org.apache.spark.sql.types.StringType)

    candidates match {
      case Some(cs) =>
        // caller-asserted partition keys: zero discovery scan (the
        // ScaleProbe measured discovery at a full corpus file-touch).
        // Keys arrive in the ledger's canonical string form, so the
        // skip-set subtraction is driver-local; the isin filter runs on
        // the SAME cast expression the verdict groupBy keys on.
        require(cs.nonEmpty, "validateIncrement: empty candidates — pass " +
          "None for discovery-by-scan")
        require(!cs.contains(null),
          "validateIncrement: null candidate partition key")
        val csSet = cs.distinct
        val fresh = csSet.filterNot(already.contains)
        if (stream.isDefined) {
          // streamed: the mark advances on commit, so a batch partition
          // outside candidates ∪ validated would be dropped FOREVER with
          // no signal (r14 advice fix). Run the grouped pass over the
          // WHOLE batch — still one scan; a foreachBatch frame is already
          // the increment, there is no file listing to prune — persist
          // the tiny aggregated frame, and refuse loudly BEFORE any
          // commit if such a partition is present. Nothing was written
          // and no mark advanced, so the stream's retry stays
          // exactly-once.
          val grouped = verdictFrame(work)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val batchParts = StoreFiles.collectBounded(
              grouped.select("partition"),
              s"batch partitions for validation ledger at $path",
              "graft.ledger.maxPartitions", 1000000)
              .map(r => if (r.isNullAt(0)) null else r.getString(0))
            val dropped = batchParts.filterNot(p =>
              p != null && (csSet.contains(p) || already.contains(p)))
            require(dropped.isEmpty,
              "validateIncrementBatch: batch contains partitions outside " +
                "the candidate set: " +
                dropped.take(10).map(String.valueOf).mkString(", ") +
                (if (dropped.length > 10) s" (+${dropped.length - 10} more)"
                 else "") +
                " — committing would advance the stream mark and these " +
                "rows would never be validated; fix `candidates` (or pass " +
                "None for discovery) and let the batch retry")
            val freshInBatch = batchParts.filter(p =>
              p != null && fresh.contains(p))
            if (freshInBatch.isEmpty) skipAll()
            else if (freshInBatch.length <= maxInline)
              commit(grouped.filter(
                col("partition").isin(freshInBatch.toIndexedSeq: _*)))
            else {
              val keyDf = keyFrame(freshInBatch.toIndexedSeq, strKeyField)
              commit(grouped.join(broadcast(keyDf),
                col("partition") === keyDf("__k"), "left_semi"))
            }
          } finally grouped.unpersist(): Unit
        } else if (fresh.isEmpty) skipAll()
        else {
          // batch mode: restrict the scan to the UNSEEN candidates. Few
          // values inline as literals — STATIC partition pruning, the
          // scan lists only the new partitions; many values (a backfill)
          // ride a broadcast semi-join instead of exploding the plan.
          // Rows outside the candidate set are ignored WITHOUT hazard
          // here: no mark advances, a later call can still validate them.
          val inc =
            if (fresh.length <= maxInline)
              work.filter(key.isin(fresh.toIndexedSeq: _*))
            else {
              val keyDf = keyFrame(fresh, strKeyField)
              work.join(broadcast(keyDf), key === keyDf("__k"), "left_semi")
            }
          commit(verdictFrame(inc))
        }
      case None =>
        // discovery by scan: the STAGED frame's distinct values minus the
        // ledger's set. The collect runs over `work`, not raw `data`, and
        // carries BOTH the native value (for the filter below, which also
        // applies to `work`) and its cast-to-string form — the exact
        // expression the verdict groupBy keys on — so the skip-set and
        // the committed ledger keys share one canonical form (r13 advice
        // fix: comparing raw pre-coercion values would never match a
        // coerced key, e.g. string "01" declared LongType → stored "1",
        // and the partition would re-validate and re-append on every
        // run). Both sides are bounded collects; the data side is a
        // column-pruned distinct scan.
        val partRows = StoreFiles.collectBounded(
          work.select(q(partitionCol),
            q(partitionCol).cast("string").as("__k")).distinct(),
          s"distinct '$partitionCol' values",
          "graft.ledger.maxPartitions", 1000000)
        require(!partRows.exists(_.isNullAt(0)),
          s"validateIncrement: null '$partitionCol' values (raw or " +
            "coercion-failed) — a null partition has no ledger identity " +
            "and would re-validate forever; filter or fill it first")
        val freshRows = partRows.filterNot(r =>
          already.contains(r.getString(1)))
        val newVals = freshRows.map(_.get(0))
        if (newVals.isEmpty) skipAll()
        else {
          val inc =
            if (newVals.length <= maxInline)
              work.filter(q(partitionCol).isin(newVals.toIndexedSeq: _*))
            else {
              val keyDf = keyFrame(newVals.toIndexedSeq, work.schema(partitionCol))
              work.join(broadcast(keyDf),
                work(partitionCol) === keyDf(partitionCol), "left_semi")
            }
          commit(verdictFrame(inc))
        }
    }
  }

  private def emptyResult(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("partition", StringType, nullable = false),
        StructField("batch", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("failures", MapType(StringType, LongType), nullable = true),
        StructField("n_failed", LongType, nullable = false),
        StructField("passed", BooleanType, nullable = false))))
  }

  /** A streamed no-op increment still records its high-water mark (when
    * the store exists) so the NEXT redelivery returns before any scan. */
  private def advanceMarkOnly(spark: SparkSession, path: String,
      stream: Option[(String, Long)]): Unit =
    if (stream.isDefined && exists(spark, path)) {
      val m = genLog(path).read(spark)
      if (!m.redelivered(stream)) genLog(path).publish(spark, m, stream, None): Unit
    }

  /** Whole-corpus validation posture from the ledger alone — reads KBs,
    * never the data: one row per validated partition, ordered. */
  def status(spark: SparkSession, path: String): DataFrame =
    rows(spark, path).orderBy("partition")

  /** One-row rollup: partitions seen/failed, rows seen, total failures. */
  def statusSummary(spark: SparkSession, path: String): DataFrame =
    rows(spark, path).agg(
      count(lit(1)).as("n_partitions"),
      coalesce(sum(when(!col("passed"), 1L)), lit(0L)).as("n_failed_partitions"),
      coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
      coalesce(sum(col("n_failed")), lit(0L)).as("n_failures"))

  /** Ledger ↔ source consistency audit (r15, verdict #7 — the takedown
    * follow-up): one row per ledgered partition whose CURRENT row count
    * in `data` differs from the ledgered `n_rows`, i.e. whose verdict is
    * stale because the data changed after validation. A store takedown /
    * corpus retraction is the canonical cause — after retracting a
    * partition's documents its verdict still counts the removed rows by
    * construction (validate-once), and the REQUIRED follow-up is
    * `invalidate(stale partitions)` + a revalidating increment (pass the
    * same keys as `candidates`). This is that cross-check, mechanical:
    * run it after takedowns (or nightly) and feed the result into
    * invalidate.
    *
    * Columns: (partition, batch, n_rows [ledgered], current_rows [0 when
    * the partition vanished entirely]). Pass `data` in the same typed
    * shape the increments saw — partition identity is the canonical
    * cast-to-string. Cost without `candidates`: one grouped count over
    * `data` (a FULL audit scan by design — detecting in-place edits
    * anywhere needs a look at the whole source) joined against the
    * KB-sized ledger.
    *
    * `candidates` (r16, r15-verdict #3): the documented primary use is
    * "right after a takedown", where the touched partitions are KNOWN —
    * there the full scan is waste. With candidates supplied (the ledger's
    * canonical string keys, same contract as the increments'), BOTH sides
    * restrict to the named partitions: the grouped count carries an
    * `isin` on the partition column (static partition pruning — the scan
    * lists only those directories; a backfill-sized set rides a broadcast
    * semi-join instead of exploding the plan), and the ledger side
    * reports only their verdicts. A candidate the takedown EMPTIED still
    * surfaces (its ledger row left-joins to current_rows = 0); a drifted
    * partition OUTSIDE the set is deliberately not checked — run the
    * no-candidates audit nightly for that. */
  def reconcile(data: DataFrame, partitionCol: String, path: String,
      candidates: Option[Seq[String]] = None): DataFrame = {
    val spark = data.sparkSession
    val key = q(partitionCol).cast("string")
    val maxInline = spark.conf.getOption("graft.ledger.maxInlineParts")
      .map(_.toInt).getOrElse(1024)
    val (source, ledger) = candidates match {
      case Some(cs) =>
        require(cs.nonEmpty, "reconcile: empty candidates — pass None " +
          "for the full audit scan")
        require(!cs.contains(null), "reconcile: null candidate partition key")
        val csSet = cs.distinct
        if (csSet.length <= maxInline) {
          // r17 (advice): filter on the RAW partition column with the
          // candidate strings cast to ITS type — `cast(attr, string).isin`
          // wraps the attribute and defeats static partition pruning for
          // non-string partition columns (the scan the feature exists to
          // avoid). lit(s).cast(dt) constant-folds to a typed literal, so
          // the In lands directly on the attribute and the file index
          // lists only the named directories. try_cast (not cast): under
          // ANSI mode a candidate that does not round-trip must stay
          // INERT (null literal matches nothing — identical outcome to
          // the old string compare, since canonical ledger keys always
          // round-trip), not throw.
          val dt = data.schema(partitionCol).dataType
          (data.filter(q(partitionCol).isin(csSet.map(s =>
              lit(s).try_cast(dt)): _*)),
            rows(spark, path).filter(col("partition").isin(csSet: _*)))
        }
        else {
          val keyDf = spark.createDataFrame(
            java.util.Arrays.asList(csSet.map(v =>
              org.apache.spark.sql.Row(v)): _*),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__k",
                org.apache.spark.sql.types.StringType))))
          val led = rows(spark, path)
          (data.join(broadcast(keyDf), key === keyDf("__k"), "left_semi"),
            led.join(broadcast(keyDf), led("partition") === keyDf("__k"),
              "left_semi"))
        }
      case None => (data, rows(spark, path))
    }
    val current = source
      .groupBy(key.as("partition"))
      .agg(count(lit(1)).as("current_rows"))
    ledger.select("partition", "batch", "n_rows")
      .join(current, Seq("partition"), "left")
      .withColumn("current_rows", coalesce(col("current_rows"), lit(0L)))
      .filter(col("current_rows") =!= col("n_rows"))
      .orderBy("partition")
  }

  /** Forget the verdicts for the given partitions — the REVALIDATION
    * path (r14). Under the validate-once contract a partition whose
    * underlying data is REWRITTEN in place (a backfill correction, a
    * re-crawl replacing a day) keeps its stale verdict forever; the fix
    * is to invalidate it and let the next increment's unseen-partition
    * logic pick it up again (pass the same keys as `candidates` and the
    * revalidation costs zero discovery). Implementation is a filtered
    * compaction: the ledger is KB-sized BY CONTRACT, so the surviving
    * rows rewrite as one generation published by the same atomic
    * manifest flip; superseded generations cool on the shared grace
    * window. Stream marks are NOT touched — redeliveries of the old
    * data's batches must keep no-opping, and the rewritten data arrives
    * under a NEW batchId above the mark.
    *
    * Unknown partitions are fine (a no-op — the atomic flip is skipped
    * entirely when nothing matches). Returns the number of verdict rows
    * removed, so a caller that expects the partition to exist can assert
    * `> 0`. Empty/null partition lists refuse loudly. Single-writer
    * contract, like increments. */
  def invalidate(spark: SparkSession, path: String,
      partitions: Seq[String]): Long = {
    require(partitions.nonEmpty,
      "invalidate: empty partition list — name the partitions whose " +
        "data was rewritten")
    require(!partitions.contains(null), "invalidate: null partition key")
    val lg = genLog(path)
    val m0 = lg.read(spark)
    if (m0.gens.isEmpty) 0L
    else {
      val pset = partitions.distinct
      val all = rows(spark, path)
      val removed = all
        .filter(col("partition").isin(pset: _*)).count()
      if (removed == 0L) 0L
      else {
        val gen = lg.nextGen(spark, m0, None)
        all.filter(!col("partition").isin(pset: _*))
          .coalesce(1).write.mode("overwrite").parquet(genPath(path, gen))
        // everything invalidated: publish an empty ledger (gens = Nil),
        // not a schema-less directory
        val emptied =
          StoreFiles.parquetRowsWritten(spark, genPath(path, gen)) == 0L
        if (emptied) StoreFiles.fs(spark, path)
          .delete(new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
        lg.compact(spark, m0, if (emptied) None else Some(gen))(identity)
        removed
      }
    }
  }

  /** Rewrite the committed generations as one (rows are already one per
    * partition — this coalesces FILES, not semantics). Atomic flip;
    * superseded generations cool for `graft.store.gcGraceMs` (default
    * 15 min) before the sweep, so lock-free readers survive. */
  def compact(spark: SparkSession, path: String): Unit = {
    val lg = genLog(path)
    val m0 = lg.read(spark)
    val all = rows(spark, path)
    val gen = lg.nextGen(spark, m0, None)
    all.coalesce(1).write.mode("overwrite").parquet(genPath(path, gen))
    lg.compact(spark, m0, Some(gen))(identity)
  }
}
