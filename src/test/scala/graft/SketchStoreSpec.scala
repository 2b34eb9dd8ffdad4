package graft

import org.apache.spark.sql.functions._
import graft.ext.SketchStore

class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sketchstore").toString

  test("sparse-phase store union equals the single-pass estimate exactly; dense union stays in the error class") {
    // sparse phase (few hundred distinct per key): union == one-shot == truth
    val small = spark.range(2000)
      .select((col("id") % 4).cast("string").as("k"), (col("id") % 500).as("v"))
    val sDir = tmp()
    SketchStore.append(SketchStore.distinctSketch(
      small.filter(col("id") % 2 === 0), Seq("k"), "v"), sDir, "a")
    SketchStore.append(SketchStore.distinctSketch(
      small.filter(col("id") % 2 === 1), Seq("k"), "v"), sDir, "b")
    val sServed = SketchStore.estimate(spark, sDir, Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sServed.toSeq == Seq(("0", 500L, 125L), ("1", 500L, 125L),
      ("2", 500L, 125L), ("3", 500L, 125L)))
    // dense phase: a merged sketch loses the HIP estimator, so union and
    // one-shot agree only to the lgK error class — but the union itself
    // is deterministic (recomputing from the store reproduces it)
    val big = spark.range(20000)
      .select((col("id") % 4).cast("string").as("k"), (col("id") % 3777).as("v"))
    val dir = tmp()
    SketchStore.append(SketchStore.distinctSketch(
      big.filter(col("id") % 3 === 0), Seq("k"), "v"), dir, "a")
    SketchStore.append(SketchStore.distinctSketch(
      big.filter(col("id") % 3 === 1), Seq("k"), "v"), dir, "b")
    SketchStore.append(SketchStore.distinctSketch(
      big.filter(col("id") % 3 === 2), Seq("k"), "v"), dir, "c")
    def served() = SketchStore.estimate(spark, dir, Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val a = served()
    assert(a.toSeq == served().toSeq)                    // deterministic
    val oneShot = SketchStore.distinctSketch(big, Seq("k"), "v")
      .select(col("k"), col("n_rows"),
        hll_sketch_estimate(col("sketch")).as("n_distinct"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    a.zip(oneShot).foreach { case ((k, nr, est), (k2, nr2, est2)) =>
      assert(k == k2 && nr == nr2)
      assert(math.abs(est - est2).toDouble / est2 < 0.02,
        s"key $k: union $est vs one-shot $est2 outside the error class")
      assert(math.abs(est - 3777.0) / 3777.0 < 0.02, s"key $k: union $est far from truth")
    }
  }

  test("re-appending an already-covered batch never changes the estimate (register max is idempotent)") {
    val df = spark.range(5000).select(col("id").as("v"))
    val dir = tmp()
    SketchStore.append(SketchStore.distinctSketch(df, Nil, "v"), dir, "full")
    val before = SketchStore.estimate(spark, dir, Nil).head().getLong(1)
    SketchStore.append(SketchStore.distinctSketch(
      df.filter(col("v") < 100), Nil, "v"), dir, "subset")
    val after = SketchStore.estimate(spark, dir, Nil).head()
    assert(after.getLong(1) == before)     // distinct unchanged
    assert(after.getLong(0) == 5100L)      // n_rows honestly sums batches
  }

  test("coupon-phase exactness at small cardinality; bounded error at large") {
    val small = spark.range(1000).select(col("id").as("v"))
    val sEst = SketchStore.distinctSketch(small, Nil, "v")
      .select(hll_sketch_estimate(col("sketch"))).head().getLong(0)
    assert(sEst == 1000L)
    val big = spark.range(300000).select(col("id").as("v"))
    val bEst = SketchStore.distinctSketch(big, Nil, "v", lgK = 14)
      .select(hll_sketch_estimate(col("sketch"))).head().getLong(0)
    assert(math.abs(bEst - 300000.0) / 300000.0 < 0.02,
      s"lgK=14 estimate $bEst off by more than 2%")
  }

  test("compaction merges per-batch rows to one per key; estimates unchanged; appends keep working") {
    val df = spark.range(30000)
      .select((col("id") % 3).cast("string").as("k"), (col("id") % 4111).as("v"))
    val dir = tmp()
    for (b <- 0 to 4)
      SketchStore.append(SketchStore.distinctSketch(
        df.filter(col("id") % 5 === b), Seq("k"), "v"), dir, s"batch_$b")
    def served() = SketchStore.estimate(spark, dir, Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val before = served()
    val rowsBefore = SketchStore.rows(spark, dir).count()
    val filesBefore = SketchStore.liveFileCount(spark, dir)
    SketchStore.compact(spark, dir)
    // one row per key, fewer files, identical estimates (register-max
    // union is associative: merging in two steps == merging once)
    assert(served().toSeq == before.toSeq)
    assert(SketchStore.rows(spark, dir).count() == 3L && rowsBefore == 15L)
    assert(SketchStore.liveFileCount(spark, dir) < filesBefore)
    // post-compaction appends stack and serve correctly
    val extra = spark.range(30000, 31000)
      .select((col("id") % 3).cast("string").as("k"), (col("id") % 7919 + 100000).as("v"))
    SketchStore.append(SketchStore.distinctSketch(extra, Seq("k"), "v"), dir, "late")
    val after = served()
    before.zip(after).foreach { case ((k, nr, _), (k2, nr2, est2)) =>
      assert(k == k2 && nr2 > nr)
      assert(est2 > 4000L, s"key $k estimate $est2 lost mass after compaction+append")
    }
    // schema column order preserved for parquet append compatibility
    assert(SketchStore.rows(spark, dir).columns.toSeq ==
      Seq("k", "n_rows", "sketch", "batch"))
  }

  test("manifest protocol: orphan gens invisible, streamed appendBatch exactly-once, pre-manifest layout refused") {
    val df = spark.range(2000)
      .select((col("id") % 2).cast("string").as("k"), (col("id") % 300).as("v"))
    val dir = tmp()
    SketchStore.append(SketchStore.distinctSketch(df, Seq("k"), "v"), dir, "a")
    def est() = SketchStore.estimate(spark, dir, Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = est()
    // crash mid-append: a gen dir with no manifest entry must not serve,
    // and the next compact sweeps it
    SketchStore.distinctSketch(df.limit(10), Seq("k"), "v")
      .withColumn("batch", lit("orphan")).write.parquet(s"$dir/rows/g99")
    assert(est() == want, "orphan gen leaked into the serve")
    SketchStore.compact(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/rows/g99")), "orphan gen not GC'd")
    assert(est() == want)
    // streamed appends: re-delivered (tag, batchId) commits once
    val inc = SketchStore.distinctSketch(
      spark.range(5000, 5200).select(lit("0").as("k"), col("id").as("v")),
      Seq("k"), "v")
    assert(SketchStore.appendBatch(inc, dir, "b1", "s1", 0L))
    val after1 = est()
    assert(after1 != want)
    assert(!SketchStore.appendBatch(inc, dir, "b1", "s1", 0L))
    assert(est() == after1, "retried streamed batch double-committed")
    // legacy v1 layout (bare parquet dir, no manifest) refuses loudly
    val dir2 = tmp()
    SketchStore.distinctSketch(df, Seq("k"), "v")
      .withColumn("batch", lit("legacy")).write.mode("overwrite").parquet(dir2)
    val e = intercept[IllegalArgumentException] {
      SketchStore.estimate(spark, dir2, Seq("k")).count()
    }
    assert(e.getMessage.contains("pre-manifest store layouts are not supported"),
      e.getMessage)
  }

  test("retractBatch: whole-batch drop is exact; refuses after compaction; unknown labels honest (r15)") {
    // keys (id % 4) deliberately orthogonal to batches (id % 3), so every
    // batch generation carries one sketch row per key
    val df = spark.range(3000)
      .select((col("id") % 4).cast("string").as("k"), (col("id") % 700).as("v"))
    val dir = tmp()
    for (b <- 0 to 2)
      SketchStore.append(SketchStore.distinctSketch(
        df.filter(col("id") % 3 === b), Seq("k"), "v"), dir, s"b$b")
    def served() = SketchStore.estimate(spark, dir, Seq("k"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // drop b1: estimates must equal a fresh build over batches 0 and 2
    assert(SketchStore.retractBatch(spark, dir, "b1") == 4L)
    val live = df.filter(col("id") % 3 =!= 1)
    val fresh = SketchStore.distinctSketch(live, Seq("k"), "v")
      .select(col("k"), col("n_rows"),
        hll_sketch_estimate(col("sketch")).as("n_distinct"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served() == fresh,
      "post-retraction estimates must equal a fresh live-corpus build")
    // unknown label on a never-compacted store: honest 0 no-op
    assert(SketchStore.retractBatch(spark, dir, "b1") == 0L)
    assert(SketchStore.retractBatch(spark, dir, "never-appended") == 0L)
    // post-compaction the lineage is merged: retraction must REFUSE, not
    // silently no-op (the contribution cannot be proven absent)
    SketchStore.compact(spark, dir)
    val e = intercept[Exception](SketchStore.retractBatch(spark, dir, "b0"))
    assert(e.getMessage.contains("rebuildKeys"))
    // …and rebuildKeys is the escape: replace key '0' with a live rebuild
    // that excludes v % 10 == 0 (a non-batch-aligned takedown)
    val fin = live.filter(!(col("k") === "0" && col("v") % 10 === 0))
    assert(SketchStore.rebuildKeys(SketchStore.distinctSketch(
      fin.filter(col("k") === "0"), Seq("k"), "v"), dir, "rb") == 1L)
    val expect = SketchStore.distinctSketch(fin, Seq("k"), "v")
      .select(col("k"), col("n_rows"),
        hll_sketch_estimate(col("sketch")).as("n_distinct"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served() == expect,
      "rebuilt key must serve the live-corpus estimate; other keys untouched")
    // retracting EVERY batch empties the store honestly (gens = Nil)
    val dir2 = tmp()
    SketchStore.append(SketchStore.distinctSketch(df, Seq("k"), "v"), dir2, "only")
    assert(SketchStore.retractBatch(spark, dir2, "only") == 4L)
    intercept[Exception](SketchStore.rows(spark, dir2))
  }

  test("retractBatch: a label reused after compaction refuses (partial drop is not a retraction)") {
    // append b1, compact (merges b1's lineage into __compacted), append
    // MORE rows under the same label: dropping only the post-compaction
    // rows would leave b1's merged contribution serving while reporting
    // success — the store must refuse and point at rebuildKeys (r15)
    val df = spark.range(1000)
      .select((col("id") % 2).cast("string").as("k"), (col("id") % 300).as("v"))
    val dir = tmp()
    SketchStore.append(SketchStore.distinctSketch(
      df.filter(col("id") < 500), Seq("k"), "v"), dir, "b1")
    SketchStore.compact(spark, dir)
    SketchStore.append(SketchStore.distinctSketch(
      df.filter(col("id") >= 500), Seq("k"), "v"), dir, "b1")
    val e = intercept[Exception](SketchStore.retractBatch(spark, dir, "b1"))
    assert(e.getMessage.contains("rebuildKeys"))
  }

  test("rebuildKeys: affectedKeys drops a key group the takedown emptied") {
    // key '3' loses its ENTIRE live corpus: fresh has no row for it, so
    // the default (keys-from-fresh) would leave its stale rows serving —
    // the explicit affectedKeys list must drop it (r15)
    val df = spark.range(2000)
      .select((col("id") % 4).cast("string").as("k"), (col("id") % 500).as("v"))
    val dir = tmp()
    SketchStore.append(SketchStore.distinctSketch(df, Seq("k"), "v"), dir, "b0")
    val live = df.filter(col("k") =!= "3") // takedown removed every '3' row
    val affected = Seq("0", "3").toDF("k") // '0' rebuilt, '3' emptied
    val fresh = SketchStore.distinctSketch(
      live.filter(col("k") === "0"), Seq("k"), "v")
    // the dropped-count must ride the rewrite action itself (r16: an
    // `observe` aggregate on the tagged scan), not run as a second pass
    // over the store — count SQL EXECUTIONS (one per action; AQE splits
    // an action into a variable number of jobs, so jobs aren't a stable
    // signal) across the call: the affectedKeys guard's isEmpty + the
    // rewrite write = 2, the former left_semi count() would make 3
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.incrementAndGet(): Unit
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(jl)
    val dropped =
      try SketchStore.rebuildKeys(fresh, dir, "rb",
        affectedKeys = Some(affected))
      finally {
        // the listener bus is async: poll until the counter is stable
        // for 500 ms (same pattern as the ledger's listing-prune spec)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = jobs.get(); var stableSince = System.nanoTime()
        while (System.nanoTime() - stableSince < 500L * 1000 * 1000 &&
            System.nanoTime() < deadline) {
          Thread.sleep(50)
          val now = jobs.get()
          if (now != last) { last = now; stableSince = System.nanoTime() }
        }
        spark.sparkContext.removeSparkListener(jl)
      }
    assert(dropped == 2L, s"both affected keys' rows must drop, got $dropped")
    assert(jobs.get() <= 2L,
      s"rebuildKeys ran ${jobs.get()} SQL executions — the dropped-count " +
        "must ride the rewrite (guard + rewrite, no second store pass)")
    val servedKeys = SketchStore.estimate(spark, dir, Seq("k"))
      .select("k").collect().map(_.getString(0)).toSet
    assert(servedKeys == Set("0", "1", "2"),
      s"emptied key '3' must stop serving, got $servedKeys")
    // fresh keys NOT declared affected refuse loudly
    val e = intercept[Exception](SketchStore.rebuildKeys(
      SketchStore.distinctSketch(live.filter(col("k") === "1"), Seq("k"), "v"),
      dir, "rb2", affectedKeys = Some(Seq("0").toDF("k"))))
    assert(e.getMessage.contains("affectedKeys"))
    // NULL-keyed affected groups refuse loudly (r18 hunt: the key
    // equi-join can't match them, so their stale rows would silently
    // survive the rebuild — the exact silent-survival class affectedKeys
    // exists to close)
    val eNull = intercept[Exception](SketchStore.rebuildKeys(
      SketchStore.distinctSketch(live.filter(col("k") === "1"), Seq("k"), "v"),
      dir, "rb3",
      affectedKeys = Some(Seq(Some("1"), Option.empty[String]).toDF("k"))))
    assert(eNull.getMessage.contains("NULL key"), eNull.getMessage)
  }

  test("null values: counted by neither n_rows nor the sketch") {
    val df = Seq(Some(1L), Some(2L), None, Some(2L)).toDF("v")
    val r = SketchStore.distinctSketch(df, Nil, "v")
      .select(col("n_rows"), hll_sketch_estimate(col("sketch"))).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
  }
}
