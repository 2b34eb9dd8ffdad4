package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem plumbing shared by the six persisted stores, which all
  * commit through [[GenerationLog]]: the MinHash store in [[Dedup]],
  * [[FingerprintStore]], [[SketchStore]], [[ValidationLedger]], the BM25
  * index in [[Retrieval]] and the [[AnnStore]] codes.
  *
  * Why compaction exists at all: every store is append-only by contract —
  * each crawl batch ADDS parquet files and never rewrites history. After
  * hundreds of appends a serve reads hundreds of small files, and on an
  * object store the LIST + per-file GET overhead dominates the actual
  * bytes — the classic small-files deployment killer. `compact()` rewrites
  * the accumulated files into size-targeted ones (and collapses
  * re-aggregable rows, e.g. bucket-count deltas) WITHOUT changing the
  * served results — every compaction gate asserts hash-identity against
  * the uncompacted store.
  *
  * All paths go through the Hadoop FileSystem API, so the same code runs
  * on local disk, HDFS, or s3a/gcs connectors. Every visibility flip is
  * a single atomic manifest replace. */
object StoreFiles {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run INDEPENDENT Spark actions concurrently and wait for all of them
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially — overlapping lets one job's tasks back-fill the
    * scheduling/commit tail of another). Used by the store append paths,
    * whose per-batch cost is dominated by 3-5 sequential small jobs'
    * fixed scheduling + commit latency, not executor work (r19 verdict
    * #1b; jobs-per-append evidence in tools/R20Probe). Runs the caller's
    * thread directly for 0/1 tasks. Failure semantics match the
    * sequential form: the first failure propagates after every submitted
    * task has finished (a mode=append batch that fails mid-write leaves
    * the same partial-files window either way). */
  def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
      var firstFailure: Option[Throwable] = None
      futs.foreach { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure.isEmpty)
              firstFailure = Some(Option(e.getCause).getOrElse(e))
        }
      }
      firstFailure.foreach(throw _)
    } finally pool.shutdown()
  }

  /** Recursive LOCAL-path delete (java.nio — harness/temp hygiene, not
    * store data; store-side deletes go through the Hadoop FS above). One
    * shared copy (r18 review: Bench, StreamingValidation, Similarity and
    * a spec each grew an identical walk-and-delete). Missing path is a
    * no-op. */
  def deleteLocalDirRec(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(path)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      finally walk.close()
    }

  /** Visible data files under `dir` (non-recursive; skips _SUCCESS/.crc
    * style hidden entries) — the quantity compaction collapses. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) 0
    else f.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Recursive walk over the VISIBLE data files under `p` — hidden
    * entries (_ / . prefixes) are skipped at EVERY level, directories
    * included, exactly as Spark's own file index does (r15: the earlier
    * flat `listFiles(recursive)` filtered only the leaf file name, so
    * files inside a hidden staging dir — a crashed writer's `_temporary`,
    * a tombstone commit's `.stage-*` — were counted as live data). */
  private def walkVisible(f: FileSystem, p: Path)(
      action: org.apache.hadoop.fs.FileStatus => Unit): Unit =
    f.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walkVisible(f, st.getPath)(action)
        else action(st)
      }
    }

  /** Recursive variant of [[dataFileCount]] — for partitioned layouts
    * (e.g. cell=N subdirectories) where the files live one level down. */
  def dataFileCountRecursive(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return 0
    var n = 0
    walkVisible(f, p)(_ => n += 1)
    n
  }

  /** Row count of a just-written parquet generation from the file FOOTERS
    * (r13, verdict #4): the store commit protocol must refuse to publish
    * an empty generation (an empty batch still writes a schema-only part
    * file), and the former `spark.read.parquet(gen).isEmpty` re-read cost
    * a whole extra Spark job per append — listing + schema inference +
    * task launch. Each parquet footer already carries its exact row count;
    * summing them reads a few KB per file with zero jobs and zero
    * listener races. Returns -1 only if no visible parquet files exist.
    * One traversal implementation for both footer readers (r15):
    * delegates to [[parquetRowsAndNulls]] with a column name no schema
    * can contain, so the visible-file rules can never drift apart. */
  def parquetRowsWritten(spark: SparkSession, genDir: String): Long =
    parquetRowsAndNulls(spark, genDir, "")._1

  /** Footer-summed rows over a manifest's COMMITTED tombstone
    * generations, refusing loudly when a listed generation is missing on
    * disk (a damaged store must never satisfy a cap or an
    * erasure-deadline policy with a silent 0). ONE implementation for
    * every caller — the tombstone-cap check here, and the
    * erasure-deadline faces of the store cadences (r17 third-pass
    * review: three inline copies of this loop had started to drift).
    * The footer sum can double-count an id retracted in two batches —
    * an upper bound on distinct ids, which only triggers a deadline
    * policy EARLIER (cadence-grade accuracy). */
  def committedTombstoneRows(spark: SparkSession, tombsRoot: String,
      gens: Seq[String], what: String): Long =
    gens.map { g =>
      val r = parquetRowsWritten(spark, s"$tombsRoot/$g")
      require(r >= 0L, s"$what: committed tombstone generation '$g' " +
        s"under $tombsRoot is missing on disk — refusing to evaluate " +
        "the policy against a damaged store")
      r
    }.sum

  /** [[parquetRowsWritten]] plus the NULL COUNT of one column, both from
    * the parquet footers (r15, verdict #4): the takedown paths must refuse
    * null ids, and the former `filter(isNull).isEmpty` pre-check cost one
    * extra Spark job per call — the footers' column-chunk statistics
    * already carry the null count. Returns (rows, nulls); rows -1 when no
    * visible parquet files exist; nulls -1 when any chunk lacks the
    * statistic (the caller falls back to an explicit check — Spark-written
    * parquet always has it, so the fallback never fires in practice). */
  def parquetRowsAndNulls(spark: SparkSession, genDir: String,
      colName: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, genDir)
    val p = new Path(genDir)
    if (!f.exists(p)) return (-1L, -1L)
    var rows = 0L
    var nulls = 0L
    var sawFile = false
    var statsKnown = true
    walkVisible(f, p) { st =>
      sawFile = true
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(st.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        rows += r.getRecordCount
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala
            .filter(_.getPath.toDotString == colName)
            .foreach { cc =>
              val s: org.apache.parquet.column.statistics.Statistics[_] =
                cc.getStatistics
              if (s == null || !s.isNumNullsSet) statsKnown = false
              else nulls += s.getNumNulls
            }
        }
      } finally r.close()
    }
    if (!sawFile) (-1L, -1L)
    else (rows, if (statsKnown) nulls else -1L)
  }

  /** Shared tombstone/retraction commit for the persisted stores' takedown
    * paths — r14 shipped four copies of this distinct → null-check → cap →
    * publish shape (AnnStore.delete, Retrieval.deleteDocs,
    * FingerprintStore.retract, Dedup.retractFromMinHashStore); this is the
    * one implementation (r15, verdict #5). Mechanics:
    *
    *   1. the ids (already projected to ONE column named `idName`) are
    *      distinct'd and written as ONE generation dir under `tombsRoot`
    *      (overwrite reclaims a crashed attempt's orphan at the same name);
    *   2. row count AND null count come from the parquet FOOTERS in one
    *      pass — zero read-back Spark jobs; a null id refuses loudly
    *      (it would be inert in every serve's non-null-safe anti-join yet
    *      count toward the cap and the returned n — a caller asserting
    *      n > 0 would see a false success);
    *   3. the broadcast-small cap (`capConfKey`, default 10M) is enforced
    *      against the LIVE committed rows; each committed generation is
    *      asserted present on disk before counting — a lost generation
    *      refuses loudly instead of silently skewing the cap (r14 ADVICE);
    *   4. the batch is written to a HIDDEN staging dir and renamed to its
    *      generation name only after every check passes, so a refused
    *      batch never lands at a generation name (visibility still waits
    *      for the caller's manifest). Stale `.stage-*` orphans from
    *      crashed attempts are swept first (single-writer contract);
    *   5. `publish(Some(gen))` hands the caller the generation to commit
    *      in its own manifest flip; `publish(None)` signals an empty batch
    *      (nothing written — the caller may still advance a stream mark).
    *
    * Returns the rows written (0 = nothing committed). The caller handles
    * stream redelivery BEFORE calling (it owns the manifest/marks). */
  def commitTombstones(ids: org.apache.spark.sql.DataFrame, idName: String,
      tombsRoot: String, committedGens: Seq[String],
      streamGen: Option[String], capConfKey: String, what: String,
      compactHint: String)(
      publish: Option[String] => Unit): Long = {
    val spark = ids.sparkSession
    val gen = streamGen.getOrElse(
      nextGenName(spark, Seq(tombsRoot), committedGens))
    val dir = s"$tombsRoot/$gen"
    val stage = s"$tombsRoot/.stage-$gen"
    val f = fs(spark, tombsRoot)
    val rootP = new Path(tombsRoot)
    if (f.exists(rootP)) f.listStatus(rootP).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".stage-"))
        f.delete(st.getPath, true)
    }
    // repartition(1), NOT coalesce(1): coalesce would collapse the
    // distinct's reduce side into that single task (the trap
    // the MinHash compaction documents); the extra shuffle moves only the
    // distinct OUTPUT — cap-bounded, so one write task is fine (r16)
    ids.distinct().repartition(1).write.mode("overwrite").parquet(stage)
    val (n, nulls) = parquetRowsAndNulls(spark, stage, idName)
    def dropStage(): Unit = { f.delete(new Path(stage), true); () }
    if (n <= 0L) {
      dropStage()
      publish(None)
      0L
    } else {
      val hasNull =
        if (nulls >= 0L) nulls > 0L
        // footer statistic unavailable (non-Spark writer) — one explicit
        // fallback job on the KB-scale tombstone file
        else !ids.sparkSession.read.parquet(stage)
          .filter(org.apache.spark.sql.functions.col(idName).isNull).isEmpty
      if (hasNull) {
        dropStage()
        sys.error(s"$what: null id in the tombstone batch — a null masks " +
          "nothing (serves anti-join with non-null-safe equality) but " +
          "would count toward the cap and the returned n; filter it out")
      }
      val live = committedTombstoneRows(spark, tombsRoot, committedGens, what)
      val cap = spark.conf.getOption(capConfKey).map(_.toLong)
        .getOrElse(10000000L)
      if (live + n > cap) {
        dropStage()
        sys.error(s"$what: $live live + $n new tombstone rows exceed " +
          s"$capConfKey=$cap — run $compactHint to retire the live " +
          "tombstones first (or raise the cap)")
      }
      // visibility flip: only a fully-checked batch ever appears at a
      // visible name; a same-named leftover is a crashed attempt's orphan
      // (never manifest-listed, or the caller would have no-opped the
      // redelivery before calling) — reclaim it
      f.delete(new Path(dir), true)
      require(f.rename(new Path(stage), new Path(dir)),
        s"$what: rename $stage -> $dir failed")
      publish(Some(gen))
      n
    }
  }

  /** The small marks files of the pipeline staging dir, which is not a
    * store and has no manifest (`{"format":"…","marks":{tag:long}}`), on
    * the [[GenerationLog]] JSON codec. Absent file = no marks. The format
    * tag is asserted so a foreign JSON file refuses loudly instead of
    * parsing as empty. */
  def readLongMarks(spark: SparkSession, path: String,
      format: String): Map[String, Long] = {
    if (!fs(spark, path).exists(new Path(path))) Map.empty
    else {
      val root = GenerationLog.decode(readUtf8(spark, path))
      require(root.get("format").contains(format),
        s"not a $format file: $path")
      GenerationLog.longMap(root.get("marks"))
    }
  }

  def writeLongMarks(spark: SparkSession, path: String, format: String,
      marks: Map[String, Long]): Unit =
    writeUtf8Atomic(spark, path,
      GenerationLog.encode(Seq("format" -> format, "marks" -> marks)))

  /** Publish a generation directory exactly once (r16 — the stage→rename
    * publish of the pipeline staging step, which has no manifest): if
    * `genDir` is already VISIBLE, a prior attempt completed it — the
    * rename is the publish, so a visible dir is complete by construction
    * — and this is a no-op (returns false);
    * otherwise `write` runs against the hidden stage path (its
    * mode("overwrite") semantics reclaim a crashed attempt's orphan) and
    * the rename flips it visible. Single-writer contract. */
  def publishDirOnce(spark: SparkSession, stagePath: String,
      genDir: String)(write: String => Unit): Boolean = {
    val f = fs(spark, genDir)
    val gen = new Path(genDir)
    if (f.exists(gen)) false
    else {
      write(stagePath)
      require(f.rename(new Path(stagePath), gen),
        s"publishDirOnce: rename $stagePath -> $genDir failed")
      true
    }
  }

  /** Total visible data bytes under `dir` (non-recursive). */
  def dataBytes(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) 0L
    else f.listStatus(p).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getLen
    }.sum
  }

  /** Recursive variant of [[dataBytes]] — for partitioned layouts where
    * the data files live under partition subdirectories. Shares
    * [[walkVisible]] with the row/footer counters (r16 advice), so bytes
    * inside hidden staging dirs (`_temporary`, `.stage-*`) never count as
    * live data and the two "visible data" definitions cannot drift. */
  def dataBytesRecursive(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return 0L
    var n = 0L
    walkVisible(f, p)(st => n += st.getLen)
    n
  }

  /** File count targeting ~`targetBytes` per file (default 128 MB — one
    * comfortable task/scan unit). Never 0. */
  def targetFileCount(bytes: Long, targetBytes: Long = 128L * 1024 * 1024): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** Read a small UTF-8 metadata file through the Hadoop FS — works for
    * local paths, HDFS and object-store connectors alike. */
  def readUtf8(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomically replace a small UTF-8 metadata file: write a hidden
    * sibling temp, then FileContext rename with OVERWRITE — atomic on
    * local and HDFS-style filesystems; object-store connectors implement
    * it as copy+delete of a KB-sized object (the narrowest practical
    * window). */
  def writeUtf8Atomic(spark: SparkSession, path: String, content: String): Unit =
    writeBytesAtomic(spark, path)(
      _.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** The bytes-level atomic replace under [[writeUtf8Atomic]] — shared so
    * binary artifacts (the fingerprint store's Bloom filter) get the same
    * tmp + FileContext rename(OVERWRITE) mechanics instead of their own
    * drift-prone copy. */
  def writeBytesAtomic(spark: SparkSession, path: String)(
      write: java.io.OutputStream => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val f = dst.getFileSystem(conf)
    if (dst.getParent != null) f.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, "." + dst.getName + ".tmp")
    val out = f.create(tmp, true)
    try write(out)
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Data files of a manifest-committed generation directory, refusing
    * loudly when it is missing on disk (r18 review: missing-path counted
    * as 0, so footprint stats silently SHRANK on external damage and the
    * compaction cadences under-triggered). */
  def committedGenFiles(spark: SparkSession, genDir: String): Int = {
    require(fs(spark, genDir).exists(new Path(genDir)),
      s"manifest-committed generation missing on disk: $genDir — the " +
        "store was externally damaged; restore the generation or rebuild")
    dataFileCountRecursive(spark, genDir)
  }

  /** Delete every generation directory under `root` that is not in
    * `keep`: crash orphans (never listed in any manifest — invisible to
    * every reader) and cooled-out grace copies. Non-directories and
    * hidden entries are left alone. */
  def sweepGenerations(spark: SparkSession, root: String,
      keep: Set[String]): Unit = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (f.exists(p)) f.listStatus(p).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && !keep.contains(nm) && !nm.startsWith("."))
        f.delete(st.getPath, true)
    }
  }

  /** Next numeric generation name for a generational store: strictly
    * above both the committed gens AND anything on disk under the given
    * roots — a crashed append's orphan dir must never be adopted by a
    * later writer. */
  def nextGenName(spark: SparkSession, roots: Seq[String],
      committed: Seq[String]): String = {
    val onDisk = roots.flatMap { root =>
      val f = fs(spark, root)
      val p = new Path(root)
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    }
    val nums = (onDisk ++ committed)
      .collect { case s if s.matches("g\\d+") => s.drop(1).toLong }
    "g" + (if (nums.isEmpty) 0L else nums.max + 1L)
  }

  /** Stream-tag contract shared by the generational stores: tags name
    * `<tag>-b<id>` generation dirs, so they must not collide with the
    * `g<N>` auto-generation namespace and must not start with a dot or
    * underscore (hidden to both Spark and the GC sweep — a dot-leading
    * tag's dirs would leak forever). */
  def requireStreamTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9][A-Za-z0-9_\\-.]*") && !tag.matches("g\\d+"),
      s"bad stream tag '$tag' (must start with a letter/digit, then " +
        "letters/digits/dot/dash/underscore; the g<N> auto-generation " +
        "namespace is reserved)")

  /** Driver-side collect for a side that is broadcast-small BY CONTRACT
    * (a serve's query tokens, an ANN probe table): the contract is
    * enforced, not conventional — the plan is `limit(cap + 1)`-bounded so
    * the driver never materializes more than cap+1 rows, and crossing the
    * cap fails LOUDLY with the knob to turn instead of OOMing the driver.
    * `confKey` (e.g. `graft.bm25.maxQueryTokens`) overrides `default` via
    * `spark.conf.set`. */
  def collectBounded(df: org.apache.spark.sql.DataFrame, what: String,
      confKey: String, default: Int): Array[org.apache.spark.sql.Row] = {
    val cap = df.sparkSession.conf.getOption(confKey)
      .map(_.toInt).getOrElse(default)
    require(cap >= 1, s"$confKey must be >= 1, got $cap")
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what exceeds $cap rows — this side must stay broadcast-small " +
        s"(driver-collected); split the batch or raise spark.conf " +
        s"'$confKey' deliberately")
    rows
  }
}

/** The one commit protocol of the six persisted stores — the MinHash
  * store in [[Dedup]], the [[FingerprintStore]], [[SketchStore]],
  * [[ValidationLedger]], the BM25 index in [[Retrieval]] and the
  * [[AnnStore]] codes — in the shape of
  * Delta Lake's single log of table metadata (Armbrust et al., VLDB 2020).
  *
  * A store's state is ONE small JSON manifest, `file`:
  *
  *   - keys: `format` (the store's tag, asserted on every read) and
  *     `version`, then the store's own payload keys (filter geometry,
  *     corpus counters, check contract — read by key), then `gens` (the
  *     committed data generations under `roots`), `marks` (per-stream
  *     high-water batch ids), `cooling` (superseded generation → epoch
  *     ms), and, for stores with takedown, `tombs` / `tombcooling` (the
  *     same two ledgers for tombstone generations under `tombsRoot`);
  *   - commit: a writer stages its generation's data under a name no
  *     manifest lists (invisible to every reader), then ONE atomic
  *     manifest replace ([[StoreFiles.writeUtf8Atomic]]) publishes it. A
  *     crash before the replace leaves an orphan the next compaction
  *     sweeps; there is no window in which a reader sees part of a commit;
  *   - marks: a streamed batch `(tag, id)` names its generation
  *     `<tag>-b<id>` and folds its id into `marks` in the same replace; a
  *     redelivery at or below the mark is a no-op, even after compaction
  *     removed its generation, and an empty batch still advances its mark;
  *   - GC: a compaction publishes its one new generation and moves every
  *     generation it supersedes — data and tombstones — into the cooling
  *     ledgers; the sweep deletes every directory that is neither live
  *     nor younger than `graft.store.gcGraceMs` (default 15 min), so
  *     lock-free serves planned against an older manifest keep their files
  *     across any number of back-to-back compactions.
  *
  * A missing manifest refuses loudly: the pre-manifest layouts of earlier
  * store versions are not supported. Single-writer contract per store. */
private[ext] final case class GenerationLog(file: String, format: String,
    version: Int, what: String, roots: Seq[String],
    tombsRoot: Option[String]) {
  import GenerationLog._

  def exists(spark: SparkSession): Boolean =
    StoreFiles.fs(spark, file).exists(new Path(file))

  def read(spark: SparkSession): Manifest = {
    val text =
      try StoreFiles.readUtf8(spark, file)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"$what has no manifest " +
            s"($file) — pre-manifest store layouts are not supported; " +
            "re-create the store from its source (or restore the manifest " +
            "if it was lost)")
      }
    val root = decode(text)
    require(root.get("format").contains(format),
      s"$what: $file is not a $format manifest")
    Manifest(strList(root.get("gens")), longMap(root.get("marks")),
      longMap(root.get("cooling")), strList(root.get("tombs")),
      longMap(root.get("tombcooling")), root -- Reserved)
  }

  def write(spark: SparkSession, m: Manifest): Unit =
    StoreFiles.writeUtf8Atomic(spark, file, encode(
      Seq("format" -> format, "version" -> version) ++
        m.payload.toSeq.sortBy(_._1) ++
        Seq("gens" -> m.gens, "marks" -> m.marks, "cooling" -> m.cooling) ++
        (if (tombsRoot.isEmpty) Nil
         else Seq("tombs" -> m.tombs, "tombcooling" -> m.tombCooling))))

  /** The generation a commit stages: `<tag>-b<id>` for a streamed batch,
    * else the next `g<N>` above everything committed or on disk (a
    * crashed writer's orphan is never adopted). */
  def nextGen(spark: SparkSession, m: Manifest, stream: Stream): String =
    streamGen(stream).getOrElse(StoreFiles.nextGenName(spark, roots, m.gens))

  /** The one publish: `next` (holding the staged generation) with the
    * stream's mark folded in, in ONE manifest replace. `None` is an empty
    * batch: nothing commits, but a streamed batch still advances its mark
    * (else its redelivery would retry forever). Returns whether a
    * generation committed. */
  def publish(spark: SparkSession, m0: Manifest, stream: Stream,
      next: Option[Manifest]): Boolean = next match {
    case Some(m1) => write(spark, m1.marked(stream)); true
    case None =>
      if (stream.isDefined) write(spark, m0.marked(stream))
      false
  }

  /** Tombstone commit: redelivery no-op, then the shared
    * stage/null-check/cap/flip of [[StoreFiles.commitTombstones]], then
    * one [[publish]] appending the tombstone generation. Returns the
    * tombstone rows written (0 = redelivered or empty). */
  def commitTombstones(ids: org.apache.spark.sql.DataFrame, idName: String,
      stream: Stream, capConfKey: String, caller: String,
      compactHint: String): Long = {
    val spark = ids.sparkSession
    val m0 = read(spark)
    if (m0.redelivered(stream)) 0L
    else StoreFiles.commitTombstones(ids, idName, tombsRoot.get, m0.tombs,
        streamGen(stream), capConfKey, caller, compactHint) { gen =>
      publish(spark, m0, stream, gen.map(g => m0.copy(tombs = m0.tombs :+ g)))
      ()
    }
  }

  /** Migration path for stream tags the tag rule no longer accepts at
    * writer construction (pre-r11 tags could start with '_' or '.'):
    * moves `oldTag`'s mark to `newTag` in one manifest replace, so the
    * stream restarts under the new tag with its replay horizon intact.
    * Refuses when `oldTag` has no mark or `newTag` already has one. */
  def renameMark(spark: SparkSession, oldTag: String, newTag: String): Unit = {
    StoreFiles.requireStreamTag(newTag)
    val m = read(spark)
    require(m.marks.contains(oldTag), s"no stream mark for '$oldTag' in " +
      s"$what (have: ${m.marks.keys.toSeq.sorted.mkString(", ")})")
    require(!m.marks.contains(newTag), s"stream mark for '$newTag' already " +
      s"exists in $what — refusing to overwrite")
    write(spark, m.copy(marks = m.marks - oldTag + (newTag -> m.marks(oldTag))))
  }

  /** The one compaction/GC step: every generation `m0` lists — data and
    * tombstones alike, compaction being each store's erasure point —
    * starts cooling now, entries older than the grace drop out, and ONE
    * manifest replace publishes `edit` of the result with `newGen` as the
    * only live data generation (None: the store emptied). Then every
    * directory under `roots` / `tombsRoot` that is neither live nor
    * cooling is swept — cooled-out copies and crash orphans alike. Stream
    * marks survive. */
  def compact(spark: SparkSession, m0: Manifest, newGen: Option[String])(
      edit: Manifest => Manifest): Unit = {
    val graceMs = spark.conf.getOption("graft.store.gcGraceMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)
    val now = System.currentTimeMillis()
    def cool(ledger: Map[String, Long], retired: Seq[String]) =
      ledger.filter { case (_, t) => now - t < graceMs } ++
        (retired.toSet -- newGen).map(_ -> now)
    val m1 = edit(m0.copy(gens = newGen.toSeq,
      cooling = cool(m0.cooling, m0.gens), tombs = Nil,
      tombCooling = cool(m0.tombCooling, m0.tombs)))
    write(spark, m1)
    roots.foreach(StoreFiles.sweepGenerations(spark, _,
      m1.gens.toSet ++ m1.cooling.keySet))
    tombsRoot.foreach(StoreFiles.sweepGenerations(spark, _,
      m1.tombCooling.keySet))
  }

  /** Compaction of an EMPTIED store (a full-tombstone compaction left no
    * data): nothing to rewrite, but later tombstones still retire here
    * (else a tombstone-deadline policy reports the store due forever) and
    * the grace copies of the emptying compaction still cool out. No-op
    * when there is nothing to retire. */
  def retireEmptied(spark: SparkSession, m0: Manifest): Unit =
    if (m0.tombs.nonEmpty || m0.tombCooling.nonEmpty || m0.cooling.nonEmpty)
      compact(spark, m0, None)(identity)
}

private[ext] object GenerationLog {

  /** A streamed batch's `(tag, batchId)`; None for a batch append. */
  type Stream = Option[(String, Long)]

  /** A store's manifest. `payload` holds the store's own keys — numbers
    * and string lists — read by key. */
  final case class Manifest(gens: Seq[String] = Nil,
      marks: Map[String, Long] = Map.empty,
      cooling: Map[String, Long] = Map.empty, tombs: Seq[String] = Nil,
      tombCooling: Map[String, Long] = Map.empty,
      payload: Map[String, Any] = Map.empty) {

    /** A streamed batch at or below its tag's committed mark. */
    def redelivered(stream: Stream): Boolean =
      stream.exists { case (tag, id) => marks.get(tag).exists(id <= _) }

    def marked(stream: Stream): Manifest =
      stream.fold(this) { case (tag, id) => copy(marks = marks + (tag -> id)) }

    def long(key: String): Long = number(key).longValue()
    def double(key: String): Double = number(key).doubleValue()
    def strs(key: String): Seq[String] = strList(payload.get(key))
    def set(kvs: (String, Any)*): Manifest = copy(payload = payload ++ kvs)

    private def number(key: String): Number = payload.get(key) match {
      case Some(n: Number) => n
      case other => throw new IllegalArgumentException(
        s"manifest key '$key' is missing or not a number: $other")
    }
  }

  def streamGen(stream: Stream): Option[String] =
    stream.map { case (tag, id) => s"$tag-b$id" }

  private val Reserved =
    Set("format", "version", "gens", "marks", "cooling", "tombs", "tombcooling")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The JSON codec: an ordered object of strings, numbers, string
    * sequences and string → long maps (maps written key-sorted). Jackson
    * escapes every string, so any tag, label or check name round-trips. */
  def encode(fields: Seq[(String, Any)]): String = {
    import scala.jdk.CollectionConverters._
    def toJava(v: Any): Any = v match {
      case xs: Seq[_] => xs.asJava
      case m: Map[_, _] =>
        new java.util.TreeMap[String, Any](
          m.map { case (k, x) => String.valueOf(k) -> x }.asJava)
      case x => x
    }
    val obj = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => obj.put(k, toJava(v)) }
    mapper.writeValueAsString(obj)
  }

  /** Top-level object of a JSON document; arrays decode to Seq. */
  def decode(text: String): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    mapper.readValue(text, classOf[java.util.Map[String, Any]]).asScala
      .map {
        case (k, xs: java.util.List[_]) => k -> xs.asScala.toSeq
        case kv => kv
      }.toMap
  }

  /** A decoded string list; absent = empty. */
  def strList(v: Option[Any]): Seq[String] = v match {
    case Some(xs: Seq[_]) => xs.map(String.valueOf)
    case _ => Nil
  }

  /** A decoded string → long object; absent = empty. */
  def longMap(v: Option[Any]): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    v match {
      case Some(m: java.util.Map[_, _]) => m.asScala.map { case (k, x) =>
        String.valueOf(k) -> x.asInstanceOf[Number].longValue() }.toMap
      case _ => Map.empty
    }
  }
}
