package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, StoreFiles}

/** Every crash window of the MinHash store's generation-log commits. A
  * commit stages its generation directories and then replaces
  * `manifest.json` once (a compaction then sweeps), so a crash leaves the
  * pre-op directory plus SOME of the op's staged generation directories
  * under the pre-op manifest, or all of them under the post-op manifest
  * before the sweep. For the streamed append, the streamed retract and
  * compaction, each such state is rebuilt from a copy of the pre-op store
  * and must (1) serve a result equal to the pre-op or the post-op one,
  * (2) converge to the post-op result when the same `(tag, batchId)` is
  * redelivered or compact re-runs, and (3) stay there when that is
  * repeated. Tiny stores: the states multiply by 2^(staged dirs). */
class MinHashStoreLogSpec extends SparkSpec {

  private val tables = Seq("shingles", "rows", "bucket_counts", "tombs")

  private def docs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("doc_id"),
      concat(lit("alpha bravo charlie body "), pmod(col("id"), lit(5)),
        lit(" delta echo foxtrot "), col("id")).as("text"))

  private val batch = docs(100L, 108L)
  private val doomed = docs(0L, 4L).select("doc_id")
  // near-dup re-crawls of the history and of the appended batch
  private val probe = docs(0L, 12L).unionByName(docs(100L, 108L))
    .select((col("doc_id") + 5000L).as("doc_id"),
      concat(col("text"), lit(" re")).as("text"))

  private def build(): String = {
    val dir = Files.createTempDirectory("graft-mhlog").toString + "/mh"
    Dedup.buildMinHashStore(docs(0L, 24L), "doc_id", "text", dir,
      shingleK = 3, numHashes = 16, bands = 4)
    dir
  }

  private def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val to = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
  }

  private def copyStore(src: String): String = {
    val dst = Files.createTempDirectory("graft-mhlog-crash").toString + "/mh"
    copyTree(src, dst)
    dst
  }

  /** `table/gen` for every visible generation directory on disk. */
  private def genDirs(dir: String): Set[String] = tables.flatMap { t =>
    val p = Paths.get(dir, t)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.toSeq
      .filter(q => Files.isDirectory(q) && !q.getFileName.toString.startsWith("."))
      .map(q => s"$t/${q.getFileName}")
  }.toSet

  private def liveGens(dir: String): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(StoreFiles.readUtf8(spark, s"$dir/manifest.json"))
      .get("gens").elements().asScala.map(_.asText).toSeq

  /** What a reader observes: the served pairs and retraction count, plus
    * the live band-row and count-delta totals (a double commit that
    * happens to serve identically must still differ). */
  private def observe(dir: String): Seq[String] = {
    val pairs = Dedup.minhashPairsAgainstStore(probe, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def table(t: String) = liveGens(dir)
      .map(g => spark.read.parquet(s"$dir/$t/$g")).reduce(_.unionByName(_))
    Seq(s"pairs:${pairs.mkString(",")}",
      s"tombs:${Dedup.minhashRetractionCount(spark, dir)}",
      s"rows:${table("rows").count()}",
      s"counts:${table("bucket_counts").agg(sum("n")).head().getLong(0)}")
  }

  /** Runs `op` on a copy of `base`, then checks every crash window of it
    * against `redo` (the redelivery or the compact re-run). Returns the
    * number of windows checked. */
  private def everyWindow(base: String, op: String => Unit,
      redo: String => Unit, sweepsOrphans: Boolean): Int = {
    val pre = observe(base)
    val done = copyStore(base)
    op(done)
    val post = observe(done)
    val staged = genDirs(done) -- genDirs(base)
    assert(staged.nonEmpty, "the op must stage generation directories")
    assert(genDirs(base).subsetOf(genDirs(done)),
      "under the default grace the op deletes no generation it found")
    val postManifest = StoreFiles.readUtf8(spark, s"$done/manifest.json")
    val crashed = staged.subsets().toSeq.map { left =>
      val d = copyStore(base)
      left.foreach(r => copyTree(s"$done/$r", s"$d/$r"))
      (s"crash with {${left.toSeq.sorted.mkString(", ")}} staged", d, left)
    }
    val replaced = {
      val d = copyStore(base)
      staged.foreach(r => copyTree(s"$done/$r", s"$d/$r"))
      StoreFiles.writeUtf8Atomic(spark, s"$d/manifest.json", postManifest)
      ("crash after the manifest replace, before the sweep", d, Set.empty[String])
    }
    (crashed :+ replaced).foreach { case (window, d, orphans) =>
      val seen = observe(d)
      assert(seen == pre || seen == post, s"$window: serves $seen")
      redo(d)
      assert(observe(d) == post, s"$window: the redo did not converge")
      if (sweepsOrphans) orphans.foreach(r => assert(
        !Files.exists(Paths.get(d, r)), s"$window: orphan $r not swept"))
      redo(d)
      assert(observe(d) == post, s"$window: repeating the redo changed the store")
    }
    crashed.size + 1
  }

  test("minhash store: every crash window of a streamed append serves pre or post and a redelivery converges") {
    def append(d: String): Unit =
      Dedup.appendBatchToMinHashStore(batch, "doc_id", "text", d, "s", 0L): Unit
    val n = everyWindow(build(), append, append, sweepsOrphans = false)
    assert(n == 9, s"three staged tables → 8 subsets + the replace window, got $n")
  }

  test("minhash store: every crash window of a streamed retract serves pre or post and a redelivery converges") {
    def retract(d: String): Unit =
      Dedup.retractBatchFromMinHashStore(doomed, "doc_id", d, "td", 0L): Unit
    val n = everyWindow(build(), retract, retract, sweepsOrphans = false)
    assert(n == 3, s"one staged tombstone generation → 2 subsets + the replace window, got $n")
  }

  test("minhash store: every crash window of a compaction serves pre or post and a re-run converges and sweeps the orphans") {
    val base = build()
    Dedup.appendBatchToMinHashStore(batch, "doc_id", "text", base, "s", 0L): Unit
    Dedup.retractBatchFromMinHashStore(doomed, "doc_id", base, "td", 0L): Unit
    def compact(d: String): Unit = Dedup.compactMinHashStore(spark, d)
    val n = everyWindow(base, compact, compact, sweepsOrphans = true)
    assert(n == 9, s"three staged tables → 8 subsets + the replace window, got $n")
  }
}
