package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distinct-count statistics via mergeable HLL sketches —
  * Spark's built-in Apache DataSketches HLL functions (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`, all codegen'd aggregates), so
  * the implementation is pure built-ins and the novelty is the STORE
  * protocol: each ingest batch reduces to one tiny (labels…, sketch)
  * parquet row, committed as one manifest generation; any later question
  * ("distinct users per event type across all crawls so far") is answered
  * by unioning the stored sketches — register-wise max, associative,
  * commutative and idempotent, reading bytes proportional to
  * #batches · 2^lgK, never the corpus. While every sketch is still in the
  * DataSketches coupon (sparse) phase the union estimate is EXACTLY the
  * single-pass estimate (and exactly the true cardinality); past that
  * phase a merged sketch drops the HIP estimator, so union and one-shot
  * estimates agree only to the configured error class (~1.04/√2^lgK) —
  * both properties asserted in SketchStoreSpec, the sparse-phase equality
  * additionally in-gate.
  *
  * Layout (the shared [[GenerationLog]] protocol): `manifest.json` (committed
  * generation list + per-stream high-water marks + cooling ledger,
  * replaced atomically) and `rows/<gen>/` parquet. An append writes its
  * generation dir (invisible), then ONE manifest flip publishes it —
  * crash orphans are never served and are GC'd by the next compact; a
  * compaction publishes by the same flip with superseded generations
  * cooling for `graft.store.gcGraceMs` (default 15 min), so
  * lock-free serves survive back-to-back compactions. Streaming ingest
  * gets the same per-tag marks as the other stores (exactly-once under
  * foreachBatch re-delivery).
  *
  * This is the distinct-count sibling of [[DriftProfile]] (fractions) and
  * the MinHash store (membership): the 100 TB pattern is always the same —
  * reduce each increment once, persist the bounded summary, serve every
  * later question from the store. */
object SketchStore {

  private def q(n: String): org.apache.spark.sql.Column =
    col("`" + n.replace("`", "``") + "`")

  private def rowsRoot(path: String) = s"$path/rows"
  private def genPath(path: String, gen: String) = s"$path/rows/$gen"

  private def genLog(path: String) = GenerationLog(s"$path/manifest.json",
    "graft-sketch-store", 2, s"sketch store at $path", Seq(rowsRoot(path)),
    None)

  /** Per-key distinct sketches over `valueCol`: one row per key group —
    * (keys…, n_rows, sketch). `lgK` trades size (2^lgK bytes-ish) for
    * accuracy (~1.04/√2^lgK relative stderr); DataSketches HLL is exact
    * while the group's cardinality stays in the coupon phase. */
  def distinctSketch(df: DataFrame, keyCols: Seq[String], valueCol: String,
      lgK: Int = 14): DataFrame = {
    require(lgK >= 4 && lgK <= 21, "lgK in [4,21] (DataSketches bounds)")
    val grouped =
      if (keyCols.isEmpty) df.groupBy()
      else df.groupBy(keyCols.map(q): _*)
    grouped.agg(
      count(q(valueCol)).as("n_rows"),
      hll_sketch_agg(q(valueCol), lit(lgK)).as("sketch"))
  }

  /** The committed sketch rows: the union of the manifest's generations. */
  def rows(spark: SparkSession, path: String): DataFrame = {
    val m = genLog(path).read(spark)
    require(m.gens.nonEmpty, s"sketch store at $path has no rows")
    m.gens.map(g => spark.read.parquet(genPath(path, g)))
      .reduce(_.unionByName(_))
  }

  /** Append one batch's sketch rows, stamped with a batch label, as one
    * committed generation (manifest flip publishes it; a first append
    * creates the store). */
  def append(sketches: DataFrame, path: String, batchLabel: String): Unit =
    commitGen(sketches, path, batchLabel, None): Unit

  /** The streaming twin of [[append]] (the BM25/ANN/fingerprint store
    * shape): `(streamTag, batchId)` names the generation `<tag>-b<id>`
    * and the manifest's per-tag high-water mark makes foreachBatch's
    * at-least-once re-deliveries exactly-once. The tag must be 1:1 with
    * the stream's CHECKPOINT. */
  def appendBatch(sketches: DataFrame, path: String, batchLabel: String,
      streamTag: String, batchId: Long): Boolean = {
    StoreFiles.requireStreamTag(streamTag)
    require(batchId >= 0, s"batchId >= 0, got $batchId")
    commitGen(sketches, path, batchLabel, Some((streamTag, batchId)))
  }

  private def commitGen(sketches: DataFrame, path: String,
      batchLabel: String, stream: Option[(String, Long)]): Boolean = {
    require(sketches.columns.contains("sketch") &&
      sketches.columns.contains("n_rows"),
      "append expects distinctSketch output (needs n_rows + sketch columns)")
    val spark = sketches.sparkSession
    val lg = genLog(path)
    val exists = lg.exists(spark)
    val m0 = if (exists) lg.read(spark)
      else {
        // a first append must not silently build on top of data files
        // with no manifest (a pre-manifest store, or a lost manifest)
        if (StoreFiles.dataFileCount(spark, path) > 0)
          throw new IllegalArgumentException(
            s"sketch store at $path holds data files but no manifest — " +
              "pre-manifest store layouts are not supported; refusing to " +
              "append over them")
        GenerationLog.Manifest()
      }
    if (m0.redelivered(stream)) return false
    val gen = lg.nextGen(spark, m0, stream)
    sketches.withColumn("batch", lit(batchLabel))
      .write.mode("overwrite").parquet(genPath(path, gen))
    // row-presence from the parquet FOOTERS, not file-presence (an empty
    // batch writes a schema-only part file that must not commit as a
    // generation) and not a read-back Spark job (see
    // StoreFiles.parquetRowsWritten)
    if (StoreFiles.parquetRowsWritten(spark, genPath(path, gen)) <= 0L) {
      StoreFiles.fs(spark, path)
        .delete(new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
      // no manifest yet: an empty first batch creates no store
      lg.publish(spark, m0, stream.filter(_ => exists), None)
    } else lg.publish(spark, m0, stream, Some(m0.copy(gens = m0.gens :+ gen)))
  }

  /** Retract one ingest BATCH's contribution from the store — the
    * takedown path for distinct-count statistics (r15, completing the
    * retraction story across all five persisted stores). HLL sketches
    * cannot subtract, so arbitrary per-document retraction is impossible
    * by construction — but the store keys every row by its batch label,
    * and a WHOLE-BATCH drop is exact: the surviving rows' union is
    * precisely the sketch of everything except that batch (the common
    * case — a crawl batch recalled wholesale). For retractions that are
    * not batch-aligned, use [[rebuildKeys]] with fresh sketches computed
    * from the live corpus.
    *
    * Implementation is a filtered compaction (the ledger `invalidate`
    * shape): sketch rows are KB-scale by contract, so the surviving rows
    * rewrite as one generation published by the same atomic manifest
    * flip; superseded generations cool on the shared grace window; stream
    * marks survive (redeliveries of the retracted batch must keep
    * no-opping — its data is gone, not its history).
    *
    * Refuses loudly whenever the store holds `__compacted` rows:
    * compaction collapses batch lineage, so the store can no longer
    * PROVE the batch's full contribution is absent — even rows found
    * under the label may be only the part appended AFTER the compaction,
    * and dropping them while the pre-compaction part stays merged would
    * report a partial retraction as success (r15 review). Rebuild from
    * the live corpus instead. A label absent from a never-compacted
    * store returns 0 (the batch was never appended). Returns the number
    * of sketch rows dropped. Single-writer contract. */
  def retractBatch(spark: SparkSession, path: String,
      batchLabel: String): Long = {
    require(batchLabel != null && batchLabel.nonEmpty &&
      batchLabel != "__compacted",
      "retractBatch: name a real ingest batch label")
    val m0 = genLog(path).read(spark)
    if (m0.gens.isEmpty) 0L
    else {
      val all = rows(spark, path)
      // one aggregation pass yields both the compaction-lineage refusal
      // and the label count (r15 review: two separate jobs scanned the
      // store twice)
      val counts = all.agg(
        coalesce(sum(when(col("batch") === "__compacted", 1L)), lit(0L)),
        coalesce(sum(when(col("batch") === batchLabel, 1L)), lit(0L))).head()
      require(counts.getLong(0) == 0L,
        s"sketch store at $path was compacted — batch lineage for " +
          s"'$batchLabel' is merged and cannot be subtracted (HLL " +
          "sketches cannot forget); rebuild the affected keys from the " +
          "live corpus with rebuildKeys()")
      val removed = counts.getLong(1)
      if (removed == 0L) 0L
      else {
        publishRewrite(spark, path, m0,
          all.filter(col("batch") =!= batchLabel))
        removed
      }
    }
  }

  /** Rebuild the store's rows for the affected key groups — the escape
    * hatch for retractions that are NOT batch-aligned (a takedown list of
    * individual documents): the caller recomputes [[distinctSketch]] over
    * the LIVE corpus restricted to the affected key groups, and this
    * replaces every stored row for those keys (across all batches) with
    * the fresh rows, stamped `batchLabel`. Unaffected keys keep their
    * incremental per-batch rows. One full KB-scale rewrite + atomic
    * manifest flip, like [[compact]]. Returns the number of stored rows
    * replaced. Single-writer contract.
    *
    * The affected-key set defaults to the keys PRESENT in `fresh` — but a
    * key group whose live corpus the takedown EMPTIED has no fresh row at
    * all, so under the default its stale rows would silently survive
    * (r15 review). Pass `affectedKeys` (one row per key group, the key
    * columns only) whenever the takedown may empty a group: every listed
    * key's stored rows drop, whether or not `fresh` re-adds it. */
  def rebuildKeys(fresh: DataFrame, path: String, batchLabel: String,
      affectedKeys: Option[DataFrame] = None): Long = {
    require(fresh.columns.contains("sketch") && fresh.columns.contains("n_rows"),
      "rebuildKeys expects distinctSketch output (n_rows + sketch columns)")
    val spark = fresh.sparkSession
    val m0 = genLog(path).read(spark)
    val store = rows(spark, path)
    val keyCols = store.columns
      .filterNot(Set("n_rows", "sketch", "batch").contains).toSeq
    require(keyCols.nonEmpty,
      "rebuildKeys needs key columns — a keyless (whole-corpus) store " +
        "rebuilds by retractBatch of every batch or a fresh build")
    require(keyCols.forall(fresh.columns.contains),
      s"fresh sketches must carry the store's key columns ${keyCols.mkString(", ")}")
    // affected-key set is takedown-scale by contract — broadcast it
    val freshKeys = fresh.select(keyCols.map(q): _*).distinct()
    // NULL key groups cannot ride the key equi-join below (null never
    // equals null there), so a null-keyed affected group's stale store
    // rows would silently survive the rebuild — the silent-survival
    // class the affectedKeys parameter exists to close (r18 hunt).
    // Refuse loudly; coalesce null keys to a sentinel at sketch time.
    val nullKey = keyCols.map(q(_).isNull).reduce(_ || _)
    def requireViolationFree(violations: DataFrame): Unit = {
      // ONE action for every guard (the spec pins rebuildKeys at guard +
      // rewrite, two SQL executions total — the null-key check must ride
      // the same collect, not add a pass)
      val found = violations.distinct().collect().map(_.getString(0)).toSet
      require(!found.contains("undeclared"),
        "rebuildKeys: fresh sketches carry key groups not listed in " +
          "affectedKeys — every rebuilt key must be declared affected")
      require(!found.contains("null_key"),
        "rebuildKeys: affected/fresh key groups may not contain NULL key " +
          "values — the key equi-join cannot match them and their stale " +
          "store rows would silently survive")
    }
    val keys = affectedKeys.fold {
      requireViolationFree(
        freshKeys.filter(nullKey).select(lit("null_key").as("__v")))
      freshKeys
    } { ak =>
      require(keyCols.forall(ak.columns.contains),
        s"affectedKeys must carry the store's key columns ${keyCols.mkString(", ")}")
      val akDistinct = ak.select(keyCols.map(q): _*).distinct()
      // fresh rows outside the declared affected set would double-count
      // against the stored rows they failed to displace (a null-keyed
      // FRESH row can never be declared — it lands here too)
      requireViolationFree(
        freshKeys.join(akDistinct, keyCols, "left_anti")
          .select(lit("undeclared").as("__v"))
          .unionByName(akDistinct.filter(nullKey)
            .select(lit("null_key").as("__v"))))
      akDistinct
    }
    // The dropped-count rides the rewrite itself (r16, r15-verdict #3):
    // the former `left_semi ... count()` was a second pass over the
    // store — KB-scale by contract, but the rewrite already scans every
    // row, so a left-join tag + an `observe` aggregate yields the count
    // from the SAME job (CollectMetrics sits above the join, below the
    // surviving-rows filter; the write action populates it).
    val obs = org.apache.spark.sql.Observation("rebuildKeys.dropped")
    val tagged = store
      .join(org.apache.spark.sql.functions.broadcast(
        keys.withColumn("__aff", lit(true))), keyCols, "left")
      .observe(obs, coalesce(sum(when(col("__aff"), 1L)), lit(0L)).as("dropped"))
    val freshRows = fresh.withColumn("batch", lit(batchLabel))
      .select(store.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    publishRewrite(spark, path, m0,
      tagged.filter(col("__aff").isNull).drop("__aff").unionByName(freshRows))
    obs.get("dropped").asInstanceOf[Long]
  }

  /** Shared rewrite-and-flip for [[retractBatch]] / [[rebuildKeys]]: the
    * surviving rows land as ONE generation; an all-rows-removed rewrite
    * publishes an EMPTY store (gens = Nil — reads refuse loudly) instead
    * of a schema-less dir. */
  private def publishRewrite(spark: SparkSession, path: String,
      m0: GenerationLog.Manifest, surviving: DataFrame): Unit = {
    val lg = genLog(path)
    val gen = lg.nextGen(spark, m0, None)
    surviving.coalesce(1).write.mode("overwrite").parquet(genPath(path, gen))
    val emptied =
      StoreFiles.parquetRowsWritten(spark, genPath(path, gen)) <= 0L
    if (emptied) StoreFiles.fs(spark, path)
      .delete(new org.apache.hadoop.fs.Path(genPath(path, gen)), true)
    lg.compact(spark, m0, if (emptied) None else Some(gen))(identity)
  }

  /** Data files the CURRENT manifest lists — the store's live footprint. */
  def liveFileCount(spark: SparkSession, path: String): Long =
    genLog(path).read(spark).gens.map(g =>
      StoreFiles.dataFileCountRecursive(spark, genPath(path, g)).toLong).sum

  /** Compact the store: the per-batch (keys…, n_rows, sketch) rows merge
    * into ONE row per key group — n_rows summed, sketches unioned
    * (register-wise max: associative, commutative, idempotent, so the
    * merged sketch serves every later union exactly as the originals
    * did — same error class, gate-asserted equal estimates). The `batch`
    * lineage column collapses to the literal `"__compacted"`; subsequent
    * appends keep stacking on top and can be compacted again.
    *
    * Key columns are discovered from the store schema (everything except
    * n_rows/sketch/batch). Publishes by the same atomic manifest flip as
    * appends; superseded generations cool for
    * `graft.store.gcGraceMs` before the sweep; crash orphans
    * delete immediately. Stream marks survive. */
  def compact(spark: SparkSession, path: String): Unit = {
    val lg = genLog(path)
    val m0 = lg.read(spark)
    val store = rows(spark, path)
    val special = Set("n_rows", "sketch", "batch")
    val keyCols = store.columns.filterNot(special.contains).toSeq
    require(store.columns.contains("sketch") && store.columns.contains("n_rows"),
      s"not a sketch store at $path")
    val grouped =
      if (keyCols.isEmpty) store.groupBy()
      else store.groupBy(keyCols.map(q): _*)
    val merged = grouped.agg(
        sum("n_rows").as("n_rows"),
        hll_union_agg(col("sketch"), lit(true)).as("sketch"))
      .withColumn("batch", lit("__compacted"))
      // original column order, so compacted and appended files stay
      // schema-aligned
      .select(store.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    val gen = lg.nextGen(spark, m0, None)
    merged.coalesce(1).write.mode("overwrite").parquet(genPath(path, gen))
    lg.compact(spark, m0, Some(gen))(identity)
  }

  /** Merged per-key estimates from everything in the store: (keys…,
    * n_rows summed, n_distinct estimated via the unioned sketch). Reads
    * only sketch rows — the corpora they summarize are not touched. */
  def estimate(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame = {
    val store = rows(spark, path)
    val grouped =
      if (keyCols.isEmpty) store.groupBy()
      else store.groupBy(keyCols.map(q): _*)
    // allowDifferentLgConfigK=true: batches appended at different lgK
    // settings union by downgrading to the smallest lgK present (that
    // batch's error class bounds the merged estimate) instead of failing
    // the whole serve — the store itself never validates lgK on append
    grouped.agg(
      sum("n_rows").as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
        .as("n_distinct"))
  }
}
