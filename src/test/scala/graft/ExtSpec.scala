package graft

import org.apache.spark.sql.functions._
import graft.ext.{BpeTrain, Dedup, ImageIODecoder, Multimodal, Similarity, TextAnalysis}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different text about spark distributed query processing engines"),
    (3L, "another unrelated document mentioning parquet files and shuffle services"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("text: token counts, quality, fingerprint") {
    val row = docs.select(
      TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.bpeTokenCount(col("text")).as("b"),
      TextAnalysis.alphaCount(col("text")).as("a"),
      TextAnalysis.fingerprintMd5(col("text")).as("f")).head()
    assert(row.getAs[Int]("t") == 14)
    assert(row.getAs[Int]("b") == 14)
    assert(row.getAs[String]("f").length == 32)
    // blank text → 0 tokens
    val z = Seq(("  ")).toDF("text")
      .select(TextAnalysis.tokenCount(col("text"))).head().getInt(0)
    assert(z == 0)
  }

  test("text: language id picks max-stopword language deterministically") {
    val d = Seq(
      ("the cat is in the house and it is big", "en"),
      ("el perro es de la casa y un gato", "es"),
      ("der hund ist nicht das problem und die katze", "de"),
      // r17: zero hits everywhere is UNDETERMINED, not confidently "de"
      // (the old first-tie-at-zero fallthrough labeled gibberish German
      // and made the "und" arm dead code)
      ("xyzzy qwerty asdf", "und"),
      ("12345 67890", "und"),
      // r17: all-caps/sentence-case text matches via the normalized
      // (lowercased) tokens — raw-case matching scored this at 0 hits
      ("THE CAT AND THE DOG IS IN THE HOUSE", "en"),
      // r17: unsegmented Chinese matches via per-character occurrence
      // counts — token equality against single-char stopwords never hit
      ("我是在了和有不的一个测试", "zh")
    ).toDF("text", "expected")
    val got = d.select(TextAnalysis.languageId(col("text")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("dedup: exact stats and drop") {
    val st = Dedup.exactStats(docs, Seq("text")).head()
    assert(st.getAs[Long]("n_total") == 5)
    assert(st.getAs[Long]("n_distinct") == 4)
    assert(st.getAs[Long]("n_dup_rows") == 1)
    assert(Dedup.dropExact(docs, Seq("text")).count() == 4)
  }

  test("multimodal: WAV codec round trip (meta, RMS features, clip)") {
    val ids = Seq(0L, 7L, 123L).toDF("doc_id")
    val wavs = Multimodal.syntheticWavs(ids, "doc_id")
    val meta = Multimodal.extractMeta(wavs, "id", "payload", ext.WavDecoder)
      .orderBy("id").collect()
    meta.zip(Seq(0L, 7L, 123L)).foreach { case (r, id) =>
      assert(r.getAs[Int]("width") == 8000)            // sample rate
      assert(r.getAs[Int]("height") == (800 + (id * 3) % 160).toInt)
      assert(r.getAs[Int]("channels") == 1)
      assert(r.getAs[String]("format") == "wav")
    }
    val feats = Multimodal.extractFeatures(wavs, "id", "payload", 4, ext.WavDecoder)
      .orderBy("id").collect()
    feats.zip(Seq(0L, 7L, 123L)).foreach { case (r, id) =>
      val expect = (((id * 37) % 1000 + 100) / 32768.0).toFloat
      assert(r.getSeq[Float](1).forall(_ == expect)) // constant signal: RMS exact
    }
    val clipped = Multimodal.resizePayload(wavs, "id", "payload", 512, ext.WavDecoder)
      .orderBy("id").collect()
    clipped.foreach(r => assert(r.getAs[Int]("height") == 512))
  }

  test("text: repetition and structure signals (Gopher-style)") {
    val d = Seq(
      (0L, "alpha beta\nalpha beta\ngamma delta"),           // 1 dup line of 3
      (1L, "- item one\n- item two\nplain line..."),         // bullets + ellipsis
      (2L, "spark spark spark spark"),                       // repeated bigram
      (3L, "   ")                                            // blank → all zeros
    ).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
      TextAnalysis.duplicateLineFraction(col("text")).as("dl"),
      TextAnalysis.bulletLineFraction(col("text")).as("bu"),
      TextAnalysis.ellipsisLineFraction(col("text")).as("el"),
      TextAnalysis.meanWordLength(col("text")).as("mw"),
      TextAnalysis.symbolWordRatio(col("text")).as("sy"))
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("dl") == 0.3333)
    assert(rows(1).getAs[Double]("bu") == 0.6667)
    assert(rows(1).getAs[Double]("el") == 0.3333)
    assert(rows(2).getAs[Double]("mw") == 5.0)
    assert(rows(1).getAs[Double]("sy") == 0.125) // one '...' over 8 tokens
    assert(rows(3).toSeq.drop(1) == Seq(0.0, 0.0, 0.0, 0.0, 0.0))
    val top = TextAnalysis.topNgramFraction(d, "doc_id", "text", 2)
      .orderBy("doc_id").collect().map(_.getAs[Double]("top_ngram_frac"))
    assert(top(2) == 1.0) // "spark spark" is every bigram
    assert(top(0) == 0.4) // "alpha beta" twice over 5 bigrams
    assert(top(3) == 0.0)
  }

  test("dedup: clusterPairs labels components with min id; drop keeps reps") {
    // components: {0,1,4} (chained near-dups) and a planted chain 5-6, 6-7
    // (transitivity: 5 and 7 never co-occur in a pair but share a cluster)
    val pairs = Seq((0L, 1L), (1L, 4L), (5L, 6L), (6L, 7L), (0L, 4L))
      .toDF("id_a", "id_b")
    val comp = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 4L -> 0L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
    val all = (0L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(all, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // reps 0 and 5 survive; unpaired 2 and 3 survive untouched
    assert(kept == Set(0L, 2L, 3L, 5L))
  }

  test("dedup: clusterPairs converges on a long path (diameter > 2)") {
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.clusterPairs(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 13 && comp.values.forall(_ == 0L))
  }

  test("dedup: clusterPairs keeps the pointer-doubling round bound after " +
      "the fused-join rewrite (r19 optimization)") {
    // a 128-node path has diameter 128: plain min-label propagation needs
    // ~128 rounds, pointer doubling O(log n). The r19 rewrite fuses the
    // shortcut into the neighbor join (one join per round); a tight
    // maxIterations budget of 16 only converges if the label-forest
    // edges really ride that join.
    val path = (0L until 128L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.clusterPairs(path, maxIterations = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 129 && comp.values.forall(_ == 0L))
  }

  test("dedup: clusterPairs handles STRING ids — multi-round chains converge (r18 review)") {
    // the former decimal(38,0) label-sum convergence check crashed under
    // ANSI for non-numeric ids (and under non-ANSI silently "converged"
    // after one round, under-merging chains) — string URL keys are an
    // advertised id type on the store paths. Chain c-e, e-d, d-a needs
    // >1 round for c to receive label a.
    val pairs = Seq(("c", "e"), ("e", "d"), ("d", "a"), ("x", "y"))
      .toDF("id_a", "id_b")
    val comp = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("a" -> "a", "c" -> "a", "d" -> "a", "e" -> "a",
      "x" -> "x", "y" -> "x"), s"got $comp")
    // non-integer numeric ids: 5.2 vs 4.8 must not collapse via rounding
    val dp = Seq((5.2, 9.9), (4.8, 9.9)).toDF("id_a", "id_b")
    val dcomp = Dedup.clusterPairs(dp).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(dcomp == Map(5.2 -> 4.8, 4.8 -> 4.8, 9.9 -> 4.8), s"got $dcomp")
  }

  test("dedup: exactStats keys agree with dropExact on transposed-null tuples (r18 review)") {
    // xxhash64 skips null children, so ('x', null) and (null, 'x') used
    // to collide — stats claimed a duplicate dropDuplicates would never
    // remove; the null flags now anchor column positions
    val df = Seq((Some("x"), Option.empty[String]),
      (Option.empty[String], Some("x")), (Some("x"), Some("x")))
      .toDF("a", "b")
    val st = Dedup.exactStats(df, Seq("a", "b")).head()
    assert((st.getLong(0), st.getLong(1), st.getLong(2)) == ((3L, 3L, 0L)),
      s"3 distinct tuples, got $st")
    assert(Dedup.dropExact(df, Seq("a", "b")).count() == 3L)
  }

  test("dedup: dedupLinesAcross refuses null ids instead of vanishing shared lines (r18 review)") {
    val bad = Seq((Some(1L), "shared line\nown line"),
      (Option.empty[Long], "shared line\nother own")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Dedup.dedupLinesAcross(bad, "doc_id", "text").collect())
    assert(e.getMessage.contains("null id"), e.getMessage)
  }

  test("dedup: incremental paths refuse bands not dividing numHashes (r18 review)") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    // bands > numHashes used to band NOTHING (empty slices, one giant
    // bucket, dropped by the cap) — scrubs then dropped zero rows silently
    val e = intercept[IllegalArgumentException](
      Dedup.minhashPairsAgainst(docs, docs, "doc_id", "text",
        numHashes = 8, bands = 16))
    assert(e.getMessage.contains("divide"), e.getMessage)
  }

  test("dedup: clusterPairs frees every intermediate checkpoint's blocks") {
    // r14 verdict #2: each round localCheckpoints its label table; before
    // r15 every round's blocks stayed resident until the caller's session
    // hygiene ran, pressuring the old gen on long-converging corpora. Only
    // the RETURNED frame's own blocks may remain (a local checkpoint
    // cannot be recomputed — freeing those would break the caller).
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pathPairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusterPairs(pathPairs) // path graph: multi-round
    val comp = labels.collect()
    assert(comp.length == 65 && comp.forall(_.getLong(1) == 0L))
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.size <= 1,
      s"clusterPairs left ${leaked.size} persisted RDDs (want <= 1: the result)")
  }

  test("dedup: minhash LSH finds planted near-dup and exact dup") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("dedup: simhash pairs for exact dup; distances order near vs far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue()))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 4L)))
    assert(pairs.find(p => p._1 == 0L && p._2 == 4L).get._3 == 0L) // identical → hamming 0
    assert(!keys.contains((2L, 3L)))
    // raw distances: near-dup (0,1) must be closer than unrelated (0,2)
    val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("dedup: ngram jaccard inverted-index pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleK = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((0L, 4L))) == 1.0)
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("similarity: brute-force top-k self-query returns self as rank 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5)
    val self = topk.filter(col("rank") === 1)
      .select("query_id", "corpus_id").collect()
    self.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(topk.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("similarity: MMR lambda=1 equals plain top-k; lower lambda diversifies") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // lambda = 1: penalty term vanishes, selection = relevance order
    val plain = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5))
    val mmr1 = rows(Similarity.mmrTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, lambda = 1.0, oversample = 4))
    assert(mmr1 == plain)
    // deterministic under repartitioning (collect_list order must not leak)
    val mmrA = Similarity.mmrTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, lambda = 0.3, oversample = 4)
    val mmrB = Similarity.mmrTopK(emb.repartition(13), "vec_id", "embedding",
      queries, "qid", "qv", k = 5, lambda = 0.3, oversample = 4)
    val a = mmrA.collect().map(_.toString).sorted.toSeq
    assert(a == mmrB.collect().map(_.toString).sorted.toSeq)
    // rank 1 is always the plain nearest neighbor; picks are distinct and
    // drawn from the candidate pool
    val byQ = mmrA.collect().groupBy(_.getLong(0))
    val top1 = plain.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).distinct.length == rs.length)
      assert(rs.find(_.getInt(2) == 1).get.getLong(1) == top1(qid))
    }
    // diversification: mean pairwise cosine within the lambda=0.3 pick set
    // must not exceed the plain top-k's (it trades relevance for spread)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosL(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot / math.sqrt(x.map(v => v.toDouble * v).sum) /
        math.sqrt(y.map(v => v.toDouble * v).sum)
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cosL(vecs(ids(i)), vecs(ids(j)))
      ps.sum / ps.size
    }
    val plainByQ = plain.groupBy(_._1)
    byQ.keys.foreach { qid =>
      val dMmr = meanPairSim(byQ(qid).map(_.getLong(1)).toSeq)
      val dPlain = meanPairSim(plainByQ(qid).map(_._2).toSeq)
      assert(dMmr <= dPlain + 1e-9, s"q=$qid mmr=$dMmr plain=$dPlain")
    }
  }

  test("similarity: MMR supports string ids + double vectors; anti-correlated penalty is negative (r18 review)") {
    import spark.implicits._
    // string ids and array<double> vectors crashed the old long/float
    // hard-coded UDF; ids now never enter the UDF (index selection)
    val corpus = Seq(
      ("docA", Seq(1.0, 0.0)), ("docB", Seq(0.9, 0.1)),
      ("docC", Seq(-0.95, 0.05)), ("docD", Seq(0.8, 0.2))
    ).toDF("id", "emb")
    val qs = Seq(("q1", Seq(1.0, 0.0))).toDF("qid", "qv")
    val got = Similarity.mmrTopK(corpus, "id", "emb", qs, "qid", "qv",
      k = 2, lambda = 0.5, oversample = 4).collect()
      .map(r => (r.getInt(2), r.getString(1))).sorted.toSeq
    // rank1 = docA (relevance 1.0). For rank 2 the true objective rewards
    // docC's NEGATIVE max-cosine to the selected set
    // (0.5·cos(q,C) − 0.5·(−0.95) ≈ 0.0) over docB
    // (0.5·0.994 − 0.5·0.994 ≈ 0) vs docD... compute exactly: the pick
    // must be the candidate maximizing λ·rel − (1−λ)·maxSim — the old
    // 0-clamped penalty picked by pure relevance instead
    assert(got.head == ((1, "docA")), s"got $got")
    val cosQ = (v: Seq[Double]) => {
      val d = v.head * 1.0 + v(1) * 0.0
      d / math.sqrt(v.map(x => x * x).sum)
    }
    val simToA = Map(
      "docB" -> (0.9 * 1.0 + 0.1 * 0.0) / math.sqrt(0.82),
      "docC" -> (-0.95 * 1.0 + 0.05 * 0.0) / math.sqrt(0.905),
      "docD" -> (0.8 * 1.0 + 0.2 * 0.0) / math.sqrt(0.68))
    val objs = Seq("docB", "docC", "docD").map { id =>
      val rel = math.rint(cosQ(Map(
        "docB" -> Seq(0.9, 0.1), "docC" -> Seq(-0.95, 0.05),
        "docD" -> Seq(0.8, 0.2))(id)) * 1e4) / 1e4
      id -> (0.5 * rel - 0.5 * simToA(id))
    }
    val expected2 = objs.maxBy(_._2)._1
    assert(got(1)._2 == expected2,
      s"rank2 must maximize the UNclamped objective: got ${got(1)._2}, " +
        s"want $expected2 (objs=$objs)")
  }

  test("similarity: a NaN corpus embedding never outranks real neighbors (r18 review)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (666L, Seq(Double.NaN, 1.0))).toDF("id", "emb")
    val qs = Seq((0L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val got = Similarity.bruteForceTopK(corpus, "id", "emb",
      qs, "qid", "qv", k = 2).collect()
      .map(r => r.getLong(1)).toSeq
    assert(!got.contains(666L),
      s"the poisoned row ranked (old behavior: rank 1 everywhere): $got")
    assert(got == Seq(1L, 2L))
  }

  test("similarity: LSH top-k recall >= 0.6 vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
      bits = 16, bands = 8)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")
  }

  test("similarity: IVF top-k recall >= 0.6 vs brute force, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
      nCentroids = 16, nProbe = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run()
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    assert(run() == ivf) // seeded k-means → stable results
  }

  test("similarity: PQ top-k recall >= 0.6 vs brute force, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
      m = 8, ksub = 16, refineFactor = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = run()
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall too low: $recall")
    assert(run() == pq) // seeded subspace k-means → stable results
    // the exact re-rank means rank-1 for a self-query is the query itself
    val self = Similarity.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 1,
      m = 8, ksub = 16, refineFactor = 4).filter(col("rank") === 1)
      .select("query_id", "corpus_id").collect()
    assert(self.nonEmpty && self.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("similarity: IVF-PQ recall >= plain PQ recall, deterministic, window-free") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
      m = 8, ksub = 16, refineFactor = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.ivfPqTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
      nCentroids = 16, nProbe = 12, m = 8, ksub = 16, refineFactor = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = run()
    val pqRecall = (brute intersect pq).size.toDouble / brute.size
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    // residual codebooks quantize tighter than raw-vector PQ — composition
    // must not cost recall vs the standalone PQ gate (r6 verdict #7)
    assert(recall >= pqRecall - 1e-9, s"IVF-PQ recall $recall < PQ recall $pqRecall")
    assert(recall >= 0.6, s"IVF-PQ recall too low: $recall")
    assert(run() == ivfpq) // seeded local k-means → stable results
    val plan = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", 5, nCentroids = 8, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "IVF-PQ plan must be window-free")
  }

  test("dedup: semanticDedupText drops exact and bag-of-words near-dups") {
    // docs: 4 = exact dup of 0; 1 = one-word edit of 0 (high cosine);
    // 2, 3 unrelated. Representative (min id) survives per cluster.
    val kept = Dedup.semanticDedupText(docs, "doc_id", "text",
      dim = 256, threshold = 0.9, useLsh = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L), s"got $kept")
  }

  test("text: feature-hash vectors — counts, sign trick, duplicate identity") {
    import graft.ext.{Similarity => Sim}
    val d = Seq((1L, "a a b"), (2L, "A  a b"), (3L, "x y z w")).toDF("doc_id", "text")
    val v = d.select(col("doc_id"), TextAnalysis.hashVector(col("text"), 64).as("hv"))
    val rows = v.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // |v|^2 = sum of squared token counts when no collisions (64 dims, 2-4 toks)
    assert(rows(1L).map(x => x * x).sum == 5.0f) // a:±2, b:±1
    // normalization (lowercase, whitespace) makes doc 2 an exact duplicate
    assert(rows(1L) == rows(2L))
    // duplicates rank at cosine 1.0 through the embedding ANN path
    val qs = v.filter(col("doc_id") === 1L).select(col("doc_id").as("qid"), col("hv").as("qv"))
    val top = Sim.bruteForceTopK(v, "doc_id", "hv", qs, "qid", "qv", 2)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(top.take(2).forall(_._2 == 1.0) &&
      top.map(_._1).toSet == Set(1L, 2L)) // self + normalized dup, both 1.0
  }

  test("text: BPE merge loop matches hand computation; detokenization invariant") {
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "e" -> "r")
    val d = Seq((1L, "the thinking brother!")).toDF("doc_id", "text")
    val toks = d.select(TextAnalysis.bpeTokens(col("text"), merges).as("t"))
      .head().getSeq[String](0)
    // lowest-rank adjacent merge first, word at a time (ranks: th=0,
    // the=1, in=2, ing=3, er=4):
    //   the:      t h e → th e → the
    //   thinking: t h i n k i n g → th i n k i n g → th in k in g → th in k ing
    //   brother:  b r o t h e r → b r o th e r → b r o the r (the=1 beats er=4)
    //   "!" is an isolated punctuation token
    assert(toks == Seq("the", "th", "in", "k", "ing", "b", "r", "o", "the", "r", "!"))
    // detokenization invariant on real corpus text: the pre-tokenizer keeps
    // every non-space char, so concatenating a doc's BPE tokens must equal
    // its lowercased text with whitespace removed
    val docs5 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val bad = docs5.select(
      concat_ws("", ext.TextAnalysis.bpeTokens(col("text"))).as("joined"),
      regexp_replace(lower(col("text")), "\\s+", "").as("expected"))
      .filter(col("joined") =!= col("expected")).count()
    assert(bad == 0, "BPE must re-segment, never rewrite")
  }

  test("bpe training: driver-local incremental loop ≡ job-per-merge reference") {
    // r8: the merge loop moved off the cluster (zero jobs per merge); it
    // must learn the EXACT same merges as the r7 one-job-per-merge
    // formulation, including argmax tie-breaks and rank-order re-encoding
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val local = BpeTrain.learnMerges(docs, "text", numMerges = 24)
    val ref = BpeTrain.learnMergesJobPerMerge(docs, "text", numMerges = 24)
    assert(local == ref, s"local=$local\nref=$ref")
    // repeated-symbol runs (aa|aa vs a|aa overlap bookkeeping) and
    // punctuation pre-tokens exercise the incremental count maintenance
    val tricky = Seq((1L, "aaaa aaaa aab!"), (2L, "baab aaaa a.a.a."),
      (3L, "ababab bababa !!")).toDF("doc_id", "text")
    val tl = BpeTrain.learnMerges(tricky, "text", numMerges = 10)
    val tr = BpeTrain.learnMergesJobPerMerge(tricky, "text", numMerges = 10)
    assert(tl == tr, s"local=$tl\nref=$tr")
    // exhaustion: asking for more merges than exist terminates cleanly
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(BpeTrain.learnMerges(tiny, "text", 50) ==
      BpeTrain.learnMergesJobPerMerge(tiny, "text", 50))
  }

  test("similarity: k-heap ranking matches window formulation, no Window in plan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 7)
    // round-1 VERDICT flagged the per-query row_number window as the scale
    // killer; the ranking must now be the bounded k-heap aggregate
    val plan = topk.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window still in plan:\n$plan")
    assert(plan.contains("graft_top_k_by_score"), s"k-heap agg missing:\n$plan")
    // bit-identical to the reference window formulation
    import org.apache.spark.sql.expressions.Window
    val scored = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(queries.select(col("qid").as("query_id"), col("qv"))))
      .withColumn("cosine", round(Similarity.cosine(col("cv"), col("qv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    val expected = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("query_id", "corpus_id", "rank", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val got = topk.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got == expected)
    // LSH and IVF plans are window-free too
    val lshPlan = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", 5, bits = 16, bands = 8)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("Window"))
    val ivfPlan = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "qid", "qv", 5, nCentroids = 8, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!ivfPlan.contains("Window"))
  }

  test("dedup: nearDupPipeline collapses exact dups then near-dups, keeps min-id reps") {
    // docs fixture: 0≈1 near-dups, 4 exact dup of 0, 2 and 3 distinct.
    // exact collapse keeps {0,1,2,3}; near-dup stage then drops 1 (dup of
    // 0 with rep min-id 0) → {0,2,3}.
    val kept = Dedup.nearDupPipeline(docs, "doc_id", "text",
      shingleK = 3, threshold = 0.5, maxDf = 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L), s"got $kept")
  }

  test("text: gopher composite keep predicate and C4 line cleaning") {
    val good = ("the excellent document contains many meaningful words and it is quite wonderful indeed " * 5).trim
    val short = "too few words here"
    val symbols = (("### " * 30) + "the of and to in is it a").trim
    val repeated = Seq.fill(10)("the same line of and the it is").mkString("\n") +
      "\nthe only unique line here of and it"
    val d = Seq((0L, good), (1L, short), (2L, symbols), (3L, repeated))
      .toDF("doc_id", "text")
    val kept = d.filter(TextAnalysis.gopherKeep(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L),
      s"expected only doc 0 to survive (short/symbol/repetition rules), got $kept")

    val multi = "A proper sentence ends with a period.\nshort.\nno terminal punct here\nAnother good line stays!"
    val cleaned = Seq((0L, multi)).toDF("doc_id", "text")
      .select(TextAnalysis.c4CleanLines(col("text")).as("c")).head().getString(0)
    assert(cleaned == "A proper sentence ends with a period.\nAnother good line stays!")
  }

  test("LSH skew guard rides the bucket-forming aggregation; no window, no self-join") {
    // 400 identical docs land whole bands in one bucket (size 400 > cap 50):
    // the bounded collect caps the bucket and the size filter drops it, so
    // no candidate pair among them survives — in the SAME aggregation that
    // forms buckets (round-4: the earlier guard formulations — window
    // count, then count-agg + broadcast anti join — each re-evaluated the
    // signature scan as a separate pass)
    val dup = (0 until 400).map(i =>
      (i.toLong, "the same exact document text repeated verbatim across the corpus"))
    val distinct = (400 until 420).map(i =>
      (i.toLong, s"unique document number $i carrying its own distinguishing content token$i"))
    val corpus = (dup ++ distinct).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", shingleK = 3,
      numHashes = 64, bands = 16, threshold = 0.8, maxBucketSize = 50)
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bounded_collect_items"),
      s"bucket former must be the bounded collect:\n$plan")
    assert(!plan.contains("Window"), s"guard must not window-sort the banded rows:\n$plan")
    // at most one evaluation of the minhash signature in the whole plan —
    // the guard and candidate generation share it (on a LocalRelation
    // input Catalyst constant-folds the scan away entirely, hence <= 1)
    assert("graft_minhash_sig".r.findAllIn(plan).size <= 1,
      s"signature scan must be evaluated at most once:\n$plan")
    assert(pairs.filter(col("id_a") < 400 && col("id_b") < 400).count() == 0)
    // with a permissive cap the identical docs pair up normally
    val unguarded = Dedup.minhashPairs(corpus, "doc_id", "text", shingleK = 3,
      numHashes = 64, bands = 16, threshold = 0.8, maxBucketSize = 1000000)
    assert(unguarded.filter(col("id_a") < 400 && col("id_b") < 400).count() > 0)
  }

  test("similarity: LSH multi-probe recall >= single-probe recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(mp: Boolean): Double = {
      val got = Similarity.lshTopK(emb, "vec_id", "embedding", queries, "qid", "qv", 10,
        bits = 16, bands = 4, multiProbe = mp)
        .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val single = recallOf(false); val multi = recallOf(true)
    assert(multi >= single, s"multi-probe recall $multi < single $single")
  }

  test("multimodal: binary payload + partition-wise stub decode") {
    val withBin = Multimodal.withBinaryPayload(docs, "text", "payload")
    assert(withBin.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val meta = Multimodal.extractMeta(withBin, "doc_id", "payload")
    val rows = meta.collect()
    assert(rows.length == 5)
    val r0 = rows.find(_.getLong(0) == 0L).get
    val n = r0.getLong(1)
    assert(n == docs.filter(col("doc_id") === 0).head().getString(1).length.toLong)
    assert(r0.getInt(2) == (64 + n % 512).toInt)
    assert(r0.getString(5) == "stub")
    val frames = Multimodal.sampleFrameIndices(withBin, "doc_id", "payload", 4)
    assert(frames.count() == 20)
  }

  test("multimodal: real javax.imageio codec decodes PNG and JPEG payloads") {
    // driver-side codec sanity on hand-built images
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val m = ImageIODecoder.decodeMeta(png(20, 10, 0x112233))
    assert(m == graft.ext.MediaMeta(20, 10, 3, "png"))
    // JPEG path through the same codec registry
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png(6, 4, 0)))
    val jb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jb)
    assert(ImageIODecoder.decodeMeta(jb.toByteArray).format == "jpeg")
    // resize: proportional downscale, max edge 8 → 20x10 becomes 8x4
    val resized = ImageIODecoder.resize(png(20, 10, 0x112233), 8)
    assert(ImageIODecoder.decodeMeta(resized) == graft.ext.MediaMeta(8, 4, 3, "png"))
    // features: uniform color → exact channel means
    val f = ImageIODecoder.features(png(5, 5, 0x406080), 3)
    assert(f.toSeq == Seq(0x40 / 255.0f, 0x60 / 255.0f, 0x80 / 255.0f))

    // distributed path: synthetic PNG fixtures → partition-wise decode
    val imgs = Multimodal.syntheticPngs(docs, "doc_id")
    val meta = Multimodal.extractMeta(imgs, "id", "payload", ImageIODecoder)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))).toMap
    (0L to 4L).foreach { id =>
      assert(meta(id) == (((8 + id % 32).toInt, (8 + id * 3 % 32).toInt, 3, "png")))
    }
  }

  test("text: PII counts and redaction per kind, in declaration order") {
    val d = Seq(
      (0L, "mail alice@example.org or bob.smith+x@sub.domain.co then done"),
      (1L, "server at 192.168.0.1 and 10.0.255.7 no mail"),
      (2L, "ssn 123-45-6789 phone 555-867-5309 mixed"),
      (3L, "clean text with no identifiers at all")
    ).toDF("id", "text")
    val got = d.select(col("id"),
      TextAnalysis.piiCount(col("text"), "email").as("e"),
      TextAnalysis.piiCount(col("text"), "ipv4").as("i"),
      TextAnalysis.piiCount(col("text"), "ssn").as("s"),
      TextAnalysis.piiCount(col("text"), "phone").as("p"),
      TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5)))).toMap
    assert(got(0L)._1 == 2 && got(0L)._5 ==
      "mail <EMAIL> or <EMAIL> then done")
    assert(got(1L)._2 == 2 && got(1L)._5 == "server at <IPV4> and <IPV4> no mail")
    assert(got(2L)._3 == 1 && got(2L)._4 == 1 &&
      got(2L)._5 == "ssn <SSN> phone <PHONE> mixed")
    assert(got(3L) == ((0, 0, 0, 0, "clean text with no identifiers at all")))
    // noPii check fails on PII rows only
    val res = graft.schema.DataFrameSchema(
      "text" -> graft.schema.ColumnSchema(checks = Seq(TextAnalysis.noPii())))
      .validate(d)
    assert(!res.passed && res.errors.map(_.failureCount).sum == 3)
  }

  test("dedup: cross-document line dedup keeps first (id, pos) occurrence") {
    val d = Seq(
      (0L, "shared boilerplate line\nunique alpha line"),
      (1L, "unique beta line\nshared boilerplate line\n  \nunique gamma line"),
      (2L, "shared boilerplate line") // all lines duplicated → doc drops out
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcross(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      0L -> "shared boilerplate line\nunique alpha line",
      1L -> "unique beta line\nunique gamma line"))
    // the hot-line aggregation must be a partial-agg groupBy, not a window
    val plan = Dedup.dedupLinesAcross(d, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"expected no Window in plan:\n$plan")
  }

  test("dedup: decontamination removes docs sharing an n-gram with benchmark") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "beta gamma delta something else"),   // shares 3-gram "beta gamma delta"
      (2L, "totally disjoint words only here"),
      (3L, "tiny doc")                           // shorter than n → whole-text gram
    ).toDF("doc_id", "text")
    val bench = Seq("zzz alpha beta gamma delta yyy", "tiny doc").toDF("text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", ngram = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L))
    val bad = Dedup.contaminatedIds(corpus, "doc_id", "text", bench, "text", ngram = 3)
      .collect().map(_.getLong(0)).sorted
    assert(bad.toSeq == Seq(0L, 1L, 3L))
    // benchmark gram set must broadcast: no shuffle on the corpus probe side
    val plan = Dedup.contaminatedIds(corpus, "doc_id", "text", bench, "text", 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast semi join:\n$plan")
  }

  test("sampling: deterministic, partition-independent, append-stable") {
    val ids = (0L until 2000L).toDF("id")
    val a = graft.ext.Sampling.sampleByKey(ids, "id", 0.3, seed = 11)
      .collect().map(_.getLong(0)).toSet
    // fraction lands near 0.3 (binomial 3σ ≈ 0.031)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05, s"got ${a.size}")
    // repartitioning must not change membership (df.sample would)
    val b = graft.ext.Sampling.sampleByKey(ids.repartition(7), "id", 0.3, seed = 11)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // append-stability: verdicts on the original keys survive corpus growth
    val c = graft.ext.Sampling.sampleByKey((0L until 4000L).toDF("id"), "id", 0.3, seed = 11)
      .collect().map(_.getLong(0)).toSet
    assert(c.filter(_ < 2000L) == a)
    // different seed → different sample
    val d2 = graft.ext.Sampling.sampleByKey(ids, "id", 0.3, seed = 12)
      .collect().map(_.getLong(0)).toSet
    assert(a != d2)
  }

  test("sampling: stratified fractions and exhaustive split assignment") {
    val d = (0L until 3000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = graft.ext.Sampling.stratifiedSampleByKey(
      d, "id", "lang", Map("en" -> 1.0, "de" -> 0.0), defaultFraction = 0.0, seed = 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.length == 1000 && kept.forall(_._2 == "en"))
    val splits = graft.ext.Sampling.assignSplits(d, "id",
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25), seed = 5)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == 3000L) // exhaustive — no null split
    assert(math.abs(splits("train") / 3000.0 - 0.5) < 0.05)
    // the decision is one scan: no exchange in the plan
    val plan = graft.ext.Sampling.sampleByKey(d, "id", 0.5, 5)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free sampling:\n$plan")
  }

  test("sampling: mixCorpora rates, upsampling replicas, determinism") {
    val web = (0L until 2000L).map(i => (i, s"web doc $i")).toDF("id", "text")
    val code = (0L until 1000L).map(i => (i, s"code doc $i")).toDF("id", "text")
    val mixed = graft.ext.Sampling.mixCorpora(
      Seq(("web", web, 0.5), ("code", code, 2.5)), "id", seed = 7)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySrc("web") / 2000.0 - 0.5) < 0.05)
    // rate 2.5 → two full copies + a ~half sample
    assert(bySrc("code") >= 2400 && bySrc("code") <= 2600, s"got ${bySrc("code")}")
    // replicas are distinguished by the copy ordinal → (id, source, copy) unique
    assert(mixed.select("id", "source", "copy").distinct().count() == mixed.count())
    // deterministic: same inputs → identical multiset
    val again = graft.ext.Sampling.mixCorpora(
      Seq(("web", web, 0.5), ("code", code, 2.5)), "id", seed = 7)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // the same id makes independent decisions in different sources
    val webKept = mixed.filter(col("source") === "web").select("id")
      .collect().map(_.getLong(0)).toSet
    val codeHalf = mixed.filter(col("source") === "code" && col("copy") === 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(webKept != codeHalf)
  }

  test("sampling: mixToTokenBudget derives epoch rates from the token shares") {
    // web: 100 tokens over 10 docs; code: 20 tokens over 5 docs.
    // budget 60 at 50/50 → 30 tokens each → rate_web 0.3, rate_code 1.5
    val web = (0L until 10L).map(i => (i, 10L)).toDF("id", "n_tok")
    val code = (100L until 105L).map(i => (i, 4L)).toDF("id", "n_tok")
    val mixed = graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", web, 0.5), ("code", code, 0.5)), "id", "n_tok", budget = 60L)
    val codeRows = mixed.filter(col("source") === "code")
    // rate 1.5: every code doc gets copy 0, a hash-drawn subset gets copy 1
    assert(codeRows.filter(col("copy") === 0).count() == 5)
    assert(codeRows.filter(col("copy") === 1).count() < 5)
    val webRows = mixed.filter(col("source") === "web")
    // rate 0.3: a strict subset of web docs, single copy
    assert(webRows.count() < 10 && webRows.agg(max(col("copy"))).head().getInt(0) == 0)
    // deterministic
    val again = graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", web, 0.5), ("code", code, 0.5)), "id", "n_tok", budget = 60L)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // a weighted source with zero tokens is an unfillable share → error
    val hollow = Seq((1L, 0L)).toDF("id", "n_tok")
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.mixToTokenBudget(
        Seq(("web", web, 0.5), ("hollow", hollow, 0.5)), "id", "n_tok", 60L)
    }
    // weight-0 sources are dropped, not scanned into the mixture
    val noCode = graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", web, 1.0), ("code", code, 0.0)), "id", "n_tok", budget = 30L)
    assert(noCode.filter(col("source") === "code").count() == 0)
  }

  test("sampling: mixByTemperature limits — alpha=1 natural, alpha=0 equal shares") {
    // web: 100 tokens over 10 docs; code: 20 tokens over 5 docs
    val web = (0L until 10L).map(i => (i, 10L)).toDF("id", "n_tok")
    val code = (100L until 105L).map(i => (i, 4L)).toDF("id", "n_tok")
    val srcs = Seq(("web", web), ("code", code))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "source", "copy").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    // alpha = 1: shares ∝ N → every source samples at the SAME uniform
    // rate budget/N_total — identical to mixToTokenBudget with w = N
    val nat = rows(graft.ext.Sampling.mixByTemperature(srcs, "id", "n_tok",
      budget = 60L, alpha = 1.0))
    val natRef = rows(graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", web, 100.0), ("code", code, 20.0)), "id", "n_tok", 60L))
    assert(nat == natRef)
    // alpha = 0: equal shares regardless of size — identical to equal
    // weights in mixToTokenBudget
    val eq = rows(graft.ext.Sampling.mixByTemperature(srcs, "id", "n_tok",
      budget = 60L, alpha = 0.0))
    val eqRef = rows(graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", web, 0.5), ("code", code, 0.5)), "id", "n_tok", 60L))
    assert(eq == eqRef)
    // 0 < alpha < 1 sits strictly between: the small source's expected
    // share rises above natural (20/120 of 60 = 10 tokens) toward equal
    // (30); with alpha=0.5, w_code/w_sum = sqrt(20)/(sqrt(100)+sqrt(20))
    // ≈ 0.309 → 18.5 tokens ≈ rate 0.93 — so SOME code docs drop (rate<1)
    // while at alpha=0 all survive with upsampling (rate 1.5)
    val mid = graft.ext.Sampling.mixByTemperature(srcs, "id", "n_tok",
      budget = 60L, alpha = 0.5)
    assert(mid.filter(col("source") === "code").agg(max("copy"))
      .head().getInt(0) == 0) // rate < 1: no second epoch
    // zero-token source refused
    val hollow = Seq((1L, 0L)).toDF("id", "n_tok")
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.mixByTemperature(Seq(("web", web), ("hollow", hollow)),
        "id", "n_tok", 60L)
    }
  }

  test("sampling/drift hardening: null WOR keys, duplicate mix names, sentinel-colliding profiles (r17 review)") {
    // weightedSampleWOR: null-key rows used to steal heap slots they
    // could never convert (null keys all hash to one constant and never
    // ===-rejoin) — the sample came back smaller than k. They are now
    // excluded outright; the full k comes from re-attachable rows.
    val df = ((1L to 50L).map(i => (java.lang.Long.valueOf(i), 1.0)) ++
      Seq.fill(3)((null.asInstanceOf[java.lang.Long], 100.0)))
      .toDF("doc_id", "w")
    val got = graft.ext.Sampling.weightedSampleWOR(df, "doc_id", "w", k = 5)
      .collect()
    assert(got.length == 5 && got.forall(!_.isNullAt(0)),
      s"want 5 non-null winners, got ${got.length}")
    // duplicate source names would silently merge token totals and miss
    // the budget — refuse loudly
    val a = Seq((1L, 10L)).toDF("doc_id", "ntok")
    intercept[IllegalArgumentException](graft.ext.Sampling.mixToTokenBudget(
      Seq(("web", a, 3.0), ("web", a, 1.0)), "doc_id", "ntok", budget = 10L))
    intercept[IllegalArgumentException](graft.ext.Sampling.mixByTemperature(
      Seq(("web", a), ("web", a)), "doc_id", "ntok", budget = 10L))
    // a reference whose top categories include the literal overflow
    // sentinel must refuse at FIT time (the serve-side monitors reject
    // such profiles — failing where it is fixable, not after save())
    val ref = (Seq.fill(5)("__other__") ++ Seq("a", "b")).toDF("c")
    val e = intercept[IllegalArgumentException](
      graft.ext.Drift.referenceCategoricalProfile(ref, "c", maxCategories = 3))
    assert(e.getMessage.contains("__other__"), e.getMessage)
    // ...the literal "__other__" must refuse even when it is NOT in the
    // top cells (r18: the old top-only check let it merge with the
    // overflow mass silently)
    val refTail = (Seq.fill(6)("x") ++ Seq.fill(5)("y") ++ Seq("__other__"))
      .toDF("c")
    val eTail = intercept[IllegalArgumentException](
      graft.ext.Drift.referenceCategoricalProfile(refTail, "c", maxCategories = 2))
    assert(eTail.getMessage.contains("__other__"), eTail.getMessage)
    // a REAL (non-null) "__null__" value collides with the null-category
    // sentinel — refuse at fit time (r17 advice); genuine nulls still fit
    val refLitNull = (Seq("a", "b", "__null__")).toDF("c")
    val eNull = intercept[IllegalArgumentException](
      graft.ext.Drift.referenceCategoricalProfile(refLitNull, "c", maxCategories = 3))
    assert(eNull.getMessage.contains("__null__"), eNull.getMessage)
    val (nCells, nFracs) = graft.ext.Drift.referenceCategoricalProfile(
      (Seq("a", "a", "a", null)).toDF("c"), "c", maxCategories = 3)
    assert(nCells.contains("__null__") && math.abs(nFracs.sum - 1.0) < 1e-9)
    // ...and a clean reference still profiles with exact fractions from
    // the ONE-job total (top-k heap + sum in a single aggregation)
    val (cells, fracs) = graft.ext.Drift.referenceCategoricalProfile(
      (Seq.fill(6)("x") ++ Seq.fill(3)("y") ++ Seq("z")).toDF("c"), "c",
      maxCategories = 2)
    assert(cells == Seq("x", "y") && fracs == Seq(0.6, 0.3, 0.1))
  }

  test("heavy hitters by group: the null group is a group (r17 review)") {
    // pass 1 sketches the null group; the old using-columns inner join
    // then never matched it (null = null is not true) and its heavy
    // hitters silently vanished — the join is null-safe on the group now
    val d = (Seq.fill(20)((null.asInstanceOf[String], "hot")) ++
      Seq(("en", "hot"), ("en", "hot"), ("en", "cold"), (null, "cold")))
      .toDF("lang", "item")
    val got = graft.ext.HeavyHitters.frequentItemsByGroup(
      d, "lang", "item", phi = 0.5)
      .collect().map(r => (Option(r.getString(0)), r.getString(1),
        r.getLong(2))).toSeq
    assert(got.contains((None, "hot", 20L)),
      s"the null group's heavy hitter must be reported, got $got")
    assert(got.contains((Some("en"), "hot", 2L)))
    // reserved internal names refuse
    intercept[IllegalArgumentException](
      graft.ext.HeavyHitters.frequentItemsByGroup(
        d.withColumn("__n", lit(1)), "lang", "item", phi = 0.5))
  }

  test("sampling: mixCorpora edge cases — all-zero rates and missing columns") {
    val web = (0L until 10L).map(i => (i, s"doc $i")).toDF("id", "text")
    val code = (0L until 10L).map(i => (i, s"code $i", "scala"))
      .toDF("id", "text", "lang")
    // every rate 0 → valid empty mixture with the output schema, not a crash
    val empty = graft.ext.Sampling.mixCorpora(
      Seq(("web", web, 0.0), ("code", code, 0.0)), "id")
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("id", "text", "copy", "source"))
    // heterogeneous schemas: explicit opt-in nulls the missing columns
    val mixed = graft.ext.Sampling.mixCorpora(
      Seq(("web", web, 1.0), ("code", code, 1.0)), "id",
      allowMissingColumns = true)
    assert(mixed.count() == 20)
    assert(mixed.filter(col("source") === "web" && col("lang").isNull).count() == 10)
    // without the opt-in, schema disagreement is an explicit error
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.ext.Sampling.mixCorpora(Seq(("web", web, 1.0), ("code", code, 1.0)), "id")
        .count()
    }
  }

  test("dedup: incremental exact + near-dup membership against a corpus") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "completely different text about spark distributed query processing engines")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (0L, "THE quick   brown fox jumps over the lazy dog near the river bank today"), // exact mod case/ws
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 100
      (2L, "a genuinely novel document about alpine meadows and goats")
    ).toDF("doc_id", "text")
    val afterExact = Dedup.dropExistingExact(incoming, corpus, "doc_id", "text")
    assert(afterExact.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val pairs = Dedup.minhashPairsAgainst(incoming, corpus, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7)
    val hit = pairs.select("id_new", "id_corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit.contains((1L, 100L)) && hit.contains((0L, 100L)))
    assert(!hit.exists(_._1 == 2L))
    val scrubbed = Dedup.dropExistingNearDup(afterExact, corpus, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7)
    assert(scrubbed.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("dedup: persisted MinHash store ≡ direct path, append ≡ build-once, params enforced") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" store spec tail")).as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("fresh spec content "), col("doc_id")).as("text")))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhstore").toString
    Dedup.buildMinHashStore(docs, "doc_id", "text", s"$tmp/full")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val direct = rows(Dedup.minhashPairsAgainst(incoming, docs, "doc_id", "text"))
    val stored = rows(Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text", s"$tmp/full"))
    assert(stored == direct && direct.nonEmpty)
    // append half the corpus to a store built from the other half
    Dedup.buildMinHashStore(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", s"$tmp/half")
    Dedup.appendToMinHashStore(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      "doc_id", "text", s"$tmp/half")
    assert(rows(Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text", s"$tmp/half")) == direct)
    // scrub wrapper equals the direct scrub
    val scrubStore = Dedup.dropExistingNearDupStore(incoming, "doc_id", "text", s"$tmp/full")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val scrubDirect = Dedup.dropExistingNearDup(incoming, docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(scrubStore == scrubDirect)
    // a non-store path is rejected
    intercept[Exception] {
      Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text", tmp)
    }
    // string ids (crawl URL keys) survive the store round-trip — a cast
    // to long would null them out and silently empty the store
    val sdocs = docs.select(concat(lit("url://"), col("doc_id")).as("url"), col("text"))
    val sinc = incoming.select(concat(lit("url://"), col("doc_id")).as("url"), col("text"))
    Dedup.buildMinHashStore(sdocs, "url", "text", s"$tmp/str")
    val sGot = Dedup.minhashPairsAgainstStore(sinc, "url", "text", s"$tmp/str")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted.toSeq
    val sWant = direct.map { case (a, b, j) => (s"url://$a", s"url://$b", j) }.sorted
    assert(sGot == sWant && sGot.nonEmpty)
  }

  test("dedup: streamed MinHash append reads a nondeterministic caller frame once — published generations agree") {
    // the batch text depends on rand(), so every evaluation of the
    // caller's frame draws different shingles: the three concurrent
    // staging writes agree only if they read ONE materialized frame
    val docs = spark.range(400).select(col("id").as("doc_id"),
      concat(lit("crawl page "), col("id"), lit(" on topic "),
        (col("id") % 7).cast("string"), lit(" with the usual boilerplate")
      ).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhrand").toString
    Dedup.buildMinHashStore(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", tmp)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), concat(col("text"), lit(" "),
        (rand() * 1e9).cast("long").cast("string")).as("text"))
    assert(Dedup.appendBatchToMinHashStore(batch, "doc_id", "text", tmp,
      "rnd", 0L))
    val sh = spark.read.parquet(s"$tmp/shingles/rnd-b0")
    val bandRows = spark.read.parquet(s"$tmp/rows/rnd-b0")
    val derived = sh
      .withColumn("sig", Dedup.minhashSignature(col("sh"), 64))
      .select(col("id"), explode(Dedup.bandKeys(col("sig"), 16, 4)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"))
    assert(bandRows.count() > 0L && bandRows.count() == derived.count())
    assert(bandRows.exceptAll(derived).isEmpty,
      "published rows disagree with the published shingles")
    val counts = spark.read.parquet(s"$tmp/bucket_counts/rnd-b0")
    assert(counts.exceptAll(bandRows.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n"))).isEmpty,
      "published bucket counts disagree with the published rows")
  }

  test("dedup: a MinHash store serve shingles each incoming row once") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("crawl page "), col("id"), lit(" on topic "),
        (col("id") % 7).cast("string"), lit(" with the usual boilerplate")
      ).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhonce").toString
    Dedup.buildMinHashStore(docs, "doc_id", "text", tmp)
    // a live retraction puts the serve in the window where the cap
    // decision reads the incoming band keys twice, besides the candidate
    // join and the verify
    Dedup.retractFromMinHashStore(docs.filter(col("doc_id") < 5)
      .select("doc_id"), "doc_id", tmp): Unit
    val evals = spark.sparkContext.longAccumulator("incoming rows evaluated")
    val seen = udf { (t: String) => evals.add(1L); t }.asNondeterministic()
    val incoming = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), seen(col("text")).as("text"))
    val pairs = Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text", tmp)
      .collect()
    assert(pairs.nonEmpty, "precondition: the re-crawls must match")
    assert(evals.value == 50L,
      s"50 incoming rows were evaluated ${evals.value} times in one serve")
  }

  test("dedup: MinHash store build bounds each table's file count (r20 — wide-input builds must not fragment)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" store spec tail")).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhbound").toString
    // a 16-partition input (the bench's r19 spread shape) would land 16
    // sub-MB files per table without the build-time bound; with it, a
    // KB-scale store's tables collapse to the compaction target
    Dedup.buildMinHashStore(docs.repartition(16, col("doc_id")),
      "doc_id", "text", s"$tmp/wide")
    Seq("shingles", "rows", "bucket_counts").foreach { t =>
      val files = graft.ext.StoreFiles.dataFileCountRecursive(spark, s"$tmp/wide/$t")
      assert(files <= 2, s"$t landed $files files — the build-time " +
        "file-count bound did not fire on a fragmented write")
    }
    // and the bounded store serves identically to the direct path
    val direct = Dedup.minhashPairsAgainst(incoming, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val stored = Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text",
      s"$tmp/wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(stored == direct && direct.nonEmpty)
  }

  /** A MinHash store table across the generations its manifest lists —
    * superseded generations stay on disk, cooling, after a compaction. */
  private def minhashLiveTable(dir: String, table: String) = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.ext.StoreFiles.readUtf8(spark, s"$dir/manifest.json"))
      .get("gens").elements().asScala.map(_.asText).toSeq
      .map(g => spark.read.parquet(s"$dir/$table/$g")).reduce(_.unionByName(_))
  }

  test("dedup: MinHash store retraction — retracted docs stop matching instantly, compaction erases and heals counts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // near-dup re-crawls of the doc_id % 5 == 0 slice
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" retract spec tail")).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhretract").toString
    Dedup.buildMinHashStore(docs, "doc_id", "text", tmp)
    def kept() = Dedup.dropExistingNearDupStore(incoming, "doc_id", "text", tmp)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def direct(corpus: org.apache.spark.sql.DataFrame) =
      Dedup.dropExistingNearDup(incoming, corpus, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept() == direct(docs))
    assert(kept().size < incoming.count(), "precondition: some near-dups must match")

    // retract HALF the matched sources: their re-crawls must pass through
    val doomed = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val n = Dedup.retractFromMinHashStore(doomed.select("doc_id"), "doc_id", tmp)
    assert(n == doomed.count())
    assert(Dedup.minhashRetractionCount(spark, tmp) == n)
    val live = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    assert(kept() == direct(live),
      "masked serve must equal the direct scrub against the live corpus")

    // compaction: physical erasure, count-snapshot heal, retirement
    Dedup.compactMinHashStore(spark, tmp)
    assert(Dedup.minhashRetractionCount(spark, tmp) == 0L)
    assert(kept() == direct(live))
    // rows/shingles physically scrubbed; counts recomputed from the
    // scrubbed rows (snapshot total == live row count)
    val doomedIds = doomed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minhashLiveTable(tmp, "rows")
      .filter(col("id").isin(doomedIds.toSeq: _*)).isEmpty)
    assert(minhashLiveTable(tmp, "shingles")
      .filter(col("id").isin(doomedIds.toSeq: _*)).isEmpty)
    val snapTotal = minhashLiveTable(tmp, "bucket_counts")
      .agg(sum("n")).head().getLong(0)
    assert(snapTotal == minhashLiveTable(tmp, "rows").count(),
      "healed count snapshot must equal the scrubbed row count")

    // tombstone retired: re-appending the retracted docs restores matches
    Dedup.appendToMinHashStore(doomed, "doc_id", "text", tmp)
    assert(kept() == direct(docs))

    // guards: null id refuses; empty retraction is a 0 no-op; the cap
    // names its knob and commits nothing
    intercept[Exception](Dedup.retractFromMinHashStore(
      spark.range(1).select(lit(null).cast("long").as("doc_id")),
      "doc_id", tmp))
    assert(Dedup.retractFromMinHashStore(
      docs.filter(lit(false)).select("doc_id"), "doc_id", tmp) == 0L)
    spark.conf.set("graft.minhash.maxTombstones", "2")
    try {
      val e = intercept[Exception](Dedup.retractFromMinHashStore(
        docs.limit(5).select("doc_id"), "doc_id", tmp))
      assert(e.getMessage.contains("graft.minhash.maxTombstones"))
      assert(Dedup.minhashRetractionCount(spark, tmp) == 0L)
    } finally spark.conf.unset("graft.minhash.maxTombstones")
  }

  test("dedup: MinHash store compaction collapses files, serve stays row-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" compact spec tail")).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhcompact").toString
    // build from one third, append the other two — three file generations
    Dedup.buildMinHashStore(docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text", tmp)
    Dedup.appendToMinHashStore(docs.filter(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "text", tmp)
    Dedup.appendToMinHashStore(docs.filter(pmod(col("doc_id"), lit(3)) === 2),
      "doc_id", "text", tmp)
    def serve() = Dedup.minhashPairsAgainstStore(incoming, "doc_id", "text", tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = serve()
    val filesBefore = Dedup.minhashStoreFileCount(spark, tmp)
    val deltasBefore = minhashLiveTable(tmp, "bucket_counts").count()
    Dedup.compactMinHashStore(spark, tmp)
    val after = serve()
    assert(after == before && before.nonEmpty)
    val filesAfter = Dedup.minhashStoreFileCount(spark, tmp)
    assert(filesAfter < filesBefore,
      s"compaction did not collapse files: $filesBefore -> $filesAfter")
    // count deltas merged into one snapshot row per (band, bucket)
    val deltasAfter = minhashLiveTable(tmp, "bucket_counts").count()
    val distinctBuckets = minhashLiveTable(tmp, "bucket_counts")
      .select("band", "bucket").distinct().count()
    assert(deltasAfter == distinctBuckets && deltasAfter <= deltasBefore)
    // appends after compaction still work and still serve identically
    val extra = docs.limit(0)
    Dedup.appendToMinHashStore(extra, "doc_id", "text", tmp)
    assert(serve() == before)
    // compaction is idempotent
    Dedup.compactMinHashStore(spark, tmp)
    assert(serve() == before)
    // a non-store path is refused before anything is rewritten
    intercept[Exception] {
      Dedup.compactMinHashStore(spark,
        java.nio.file.Files.createTempDirectory("graft-notastore").toString)
    }
  }

  test("outliers: MAD (Hampel) fences match hand computation and shrug off an extreme value") {
    import graft.ext.Outliers
    // 1..9 plus one extreme: median 5.5, MAD 2.5 — the extreme value
    // moves the fences by almost nothing (50% breakdown), and a
    // mean ± 3σ rule would have swallowed it entirely
    val d = ((1 to 9).map(_.toDouble) :+ 1e9).toDF("v")
    val (lo, hi) = Outliers.madFences(d, "v")
    assert(math.abs(lo - (5.5 - 3 * 1.4826 * 2.5)) < 1e-6, s"lo=$lo")
    assert(math.abs(hi - (5.5 + 3 * 1.4826 * 2.5)) < 1e-6, s"hi=$hi")
    val flagged = Outliers.flagOutliers(d, "v", fences = Some((lo, hi)))
      .filter(col("is_outlier")).collect().map(_.getDouble(0)).toSeq
    assert(flagged == Seq(1e9))
    // nulls pass through dropOutliers; empty column refused
    val withNull = (Seq(Some(1.0), Some(2.0), None)).toDF("v")
    assert(Outliers.dropOutliers(withNull, "v",
      fences = Some(Outliers.madFences(withNull, "v"))).count() == 3)
    intercept[IllegalArgumentException] {
      Outliers.madFences(Seq(Option.empty[Double]).toDF("v"), "v")
    }
  }

  test("drift: grid Wasserstein-1 is zero on identity, tracks a location shift, monotone in shift size") {
    val ref = spark.range(1000).select(col("id").cast("double").as("v"))
    def w1(cur: org.apache.spark.sql.DataFrame): Double =
      graft.ext.Drift.wasserstein1(ref, cur, "v", bins = 20)
        .select("w1_stat").head().getDouble(0)
    assert(w1(ref) == 0.0)
    // a +50 shift on uniform [0,1000): true W1 = 50; the grid estimate
    // integrates only between the reference's outer 5%-quantiles, so it
    // reads slightly under (~0.9 * 50 here) — never over
    val s50 = w1(ref.select((col("v") + 50).as("v")))
    assert(s50 > 35.0 && s50 <= 50.0, s"w1(+50)=$s50")
    val s100 = w1(ref.select((col("v") + 100).as("v")))
    assert(s100 > s50, s"w1(+100)=$s100 not > w1(+50)=$s50")
    // units: W1 reads on the value axis (unlike PSI/KS), so scaling the
    // axis scales the statistic
    val refK = ref.select((col("v") * 1000).as("v"))
    val sK = graft.ext.Drift.wasserstein1(refK,
      refK.select((col("v") + 50000).as("v")), "v", bins = 20)
      .select("w1_stat").head().getDouble(0)
    assert(sK > 35000.0, s"scaled w1=$sK")
  }

  test("retrieval: BM25 matches hand computation; missing terms contribute nothing") {
    val docs = Seq((1L, "apple banana"), (2L, "apple apple cherry"),
      (3L, "durian")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple"), (11L, "zzz")).toDF("qid", "qtext")
    val got = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // N=3 avgdl=2; df(apple)=2 -> idf=ln(1.6); doc2: tf=2,dl=3 ->
    // idf*4.4/3.65=0.5666; doc1: tf=1,dl=2 -> idf=0.47; doc3 & query zzz
    // produce nothing
    assert(got == Seq((10L, 2L, 1, 0.5666), (10L, 1L, 2, 0.47)), got.toString)
    // multi-term query: contributions add; repeated query term counts once
    val q2 = Seq((20L, "apple cherry cherry")).toDF("qid", "qtext")
    val got2 = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        q2, "qid", "qtext", k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2).toSeq
    // doc2 holds both terms -> rank 1; doc1 only apple -> rank 2
    assert(got2 == Seq((2L, 1), (1L, 2)), got2.toString)
  }

  test("retrieval: one-shot bm25TopK prunes the vocabulary BELOW both aggregations (broadcast semi-join feeds the tf groupBy)") {
    // r11 (r10 verdict #1): Spark has no rule that pushes a join below an
    // aggregation, so the broadcast query-token semi-join must be WRITTEN
    // below the tf/df groupBys — otherwise every query batch shuffles the
    // full corpus vocabulary. Parquet-backed input so nothing folds away.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.filter(col("doc_id") === 7)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 2)).as("qtext"))
    // plan shape inspected on the singleScan=false variant (the default's
    // local checkpoint hides the postings subtree behind an RDD scan)
    val exposed = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5, singleScan = false)
    val lines = exposed.queryExecution.executedPlan.toString.linesIterator.toSeq
    // the plan prints top-down (children BELOW parents): walking DOWN
    // from every (doc_id, token) aggregate, the broadcast LeftSemi join
    // must appear before the raw exploded token stream — i.e. the
    // semi-joined stream is each tf/df aggregation's input, never the
    // full-vocabulary explode
    val tfAggs = lines.zipWithIndex.collect {
      case (l, i) if l.matches(
        """.*HashAggregate\(keys=\[doc_id#\d+L?(, dl#\d+)?, token#\d+.*""") => i
    }
    assert(tfAggs.nonEmpty, s"no (doc_id, token) aggregate in the plan:\n${lines.mkString("\n")}")
    tfAggs.foreach { i =>
      val below = lines.drop(i + 1)
      val semi = below.indexWhere(_.contains("LeftSemi"))
      val rawExplode = below.indexWhere(_.contains("Generate explode"))
      assert(semi >= 0 && (rawExplode < 0 || semi < rawExplode),
        s"tf/df aggregate at line $i consumes the UNFILTERED exploded " +
          s"stream (semi@$semi explode@$rawExplode):\n${lines.mkString("\n")}")
    }
    // the default single-scan path: postings materialize once behind the
    // lazy checkpoint (an RDD scan in the plan), and the served rows are
    // identical to the exposed two-scan variant
    val served = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5)
    def rows5(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(rows5(served) == rows5(exposed) && rows5(served).nonEmpty)
    assert(served.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "default one-shot did not checkpoint the pruned postings")
  }

  test("retrieval: driver-collected query sides are cap-bounded and fail loud") {
    // r11 (r10 verdict #3): the serve's query side is broadcast-small BY
    // ENFORCED CONTRACT — crossing the cap must fail with the knob named,
    // never OOM the driver
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 40)
    val queries = docs.limit(4)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 6)).as("qtext"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25cap").toString
    graft.ext.Retrieval.buildIndex(docs, "doc_id", "text", dir)
    spark.conf.set("graft.bm25.maxQueryTokens", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
          queries, "qid", "qtext", k = 5).collect()
      }
      assert(e.getMessage.contains("graft.bm25.maxQueryTokens"),
        s"cap violation does not name the knob: ${e.getMessage}")
    } finally spark.conf.unset("graft.bm25.maxQueryTokens")
    // within the cap: serves normally
    assert(graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5).collect().nonEmpty)
  }

  test("retrieval: RRF fusion matches hand computation, rank-only, ties by id") {
    val a = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    val got = graft.ext.Retrieval.rrfFuse(Seq(a, b), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._2).toSeq
    // d20 = 1/61 + 1/62 = 0.032522; d10 = 1/61 = 0.016393; d30 = 1/62
    assert(got == Seq((20L, 1, 0.032522), (10L, 2, 0.016393),
      (30L, 3, 0.016129)), got.toString)
    // equal fused scores rank by doc id ascending
    val c = Seq((2L, 5L, 1), (2L, 4L, 1)).toDF("query_id", "doc_id", "rank")
    val tie = graft.ext.Retrieval.rrfFuse(Seq(c), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2).toSeq
    assert(tie == Seq((4L, 1), (5L, 2)))
  }

  test("retrieval: persisted BM25 index ≡ direct, append ≡ build-once, compaction serve-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val direct = rows(graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    // build from half, append the other half — ≡ one-shot over the union
    graft.ext.Retrieval.buildIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", dir)
    graft.ext.Retrieval.appendToIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", dir)
    def serve() = rows(graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5))
    assert(serve() == direct && direct.nonEmpty)
    // compaction: df deltas collapse, the LIVE (manifest-listed) file
    // footprint collapses, serve identical. Raw dir walks would also see
    // the deferred-GC grace copies of the superseded generations.
    val filesBefore = graft.ext.Retrieval.liveFileCount(spark, dir)
    graft.ext.Retrieval.compactIndex(spark, dir)
    assert(serve() == direct)
    val filesAfter = graft.ext.Retrieval.liveFileCount(spark, dir)
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    // post-compaction appends still serve (delta rows stack on the snapshot)
    graft.ext.Retrieval.appendToIndex(
      docs.limit(0), "doc_id", "text", dir)
    assert(serve() == direct)
    // non-index directory refused
    intercept[Exception] {
      graft.ext.Retrieval.bm25TopKFromIndex(spark,
        java.nio.file.Files.createTempDirectory("graft-notidx").toString,
        queries, "qid", "qtext", k = 5)
    }
  }

  test("retrieval: deleteDocs masks instantly with unchanged live scores; compaction heals stats and erases physically") {
    import graft.ext.Retrieval
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25del").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val doomed = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
    val doomedIds = doomed.select("doc_id").collect().map(_.getLong(0)).toSet
    def serve() = rows(Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5))
    assert(serve().exists(r => doomedIds.contains(r._2)),
      "precondition: the takedown set must appear in the pre-delete top-k")

    val n = Retrieval.deleteDocs(doomed.select("doc_id"), "doc_id", dir)
    assert(n == doomedIds.size.toLong)
    assert(Retrieval.tombstoneCount(spark, dir) == n)
    assert(Retrieval.indexStats(spark, dir)("tombstone_rows") == n)

    // MASKED phase: deleted docs vanish from results while every OTHER
    // document keeps its full-corpus-stats score — the masked top-5 must
    // equal the full-stats ranking minus the deleted docs, re-ranked.
    // Derive the expectation from a deep one-shot ranking (k > |deleted|
    // bounds how far a live doc can climb).
    val deepK = doomedIds.size + 5
    val deep = Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = deepK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expectMasked = deep.toSeq
      .filterNot(r => doomedIds.contains(r._2))
      .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.sortBy(r => (-r._4, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (qid, r._2, i + 1, r._4) } }
      .sortBy(t => (t._1, t._3))
    val masked = serve()
    assert(!masked.exists(r => doomedIds.contains(r._2)))
    assert(masked == expectMasked,
      "masked serve must equal the full-stats ranking minus deleted docs")

    // APPEND-DURING-MASK window (r18 review): an append BETWEEN the
    // delete and the healing compaction must keep the tombstones — the
    // old positional-manifest write silently defaulted tombs to empty,
    // RESURRECTING every masked doc and losing the takedown ids forever
    // at the next sweep
    Retrieval.appendToIndex(doomed.select(
      (col("doc_id") + 9000000L).as("doc_id"),
      concat(col("text"), lit(" r18 mask-window append")).as("text")),
      "doc_id", "text", dir)
    assert(Retrieval.tombstoneCount(spark, dir) == n,
      "an append must not drop the takedown tombstones")
    assert(!serve().exists(r => doomedIds.contains(r._2)),
      "masked docs must STAY masked across an append")
    // undo the window append's effect on the healed-phase expectation by
    // deleting the appended ids too (exercises delete-after-append)
    assert(Retrieval.deleteDocs(doomed.select(
      (col("doc_id") + 9000000L).as("doc_id")), "doc_id", dir) ==
      doomedIds.size.toLong)

    // HEALED phase: compaction scrubs postings/dlen, recomputes df and
    // the counters, retires the tombstones — equivalent to an index
    // built without the deleted docs
    val live = docs.filter(pmod(col("doc_id"), lit(5)) =!= 2)
    val healedExpect = rows(Retrieval.bm25TopK(live, "doc_id", "text",
      queries, "qid", "qtext", k = 5))
    Retrieval.compactIndex(spark, dir)
    assert(Retrieval.tombstoneCount(spark, dir) == 0L)
    assert(serve() == healedExpect,
      "healed serve must equal a fresh live-only build")
    assert(Retrieval.indexStats(spark, dir)("n_docs") == live.count(),
      "n_docs counter must heal at compaction")
    // post-heal appends still work and serve the union
    Retrieval.appendToIndex(doomed.select(
      (col("doc_id") + 5000000L).as("doc_id"), col("text")),
      "doc_id", "text", dir)
    assert(serve().nonEmpty)

    // guards: null id refuses; empty takedown is a 0 no-op; the cap
    // names its knob and rolls back
    intercept[Exception](Retrieval.deleteDocs(
      spark.range(1).select(lit(null).cast("long").as("doc_id")),
      "doc_id", dir))
    assert(Retrieval.deleteDocs(docs.filter(lit(false)).select("doc_id"),
      "doc_id", dir) == 0L)
    spark.conf.set("graft.bm25.maxTombstones", "2")
    try {
      val e = intercept[RuntimeException](Retrieval.deleteDocs(
        docs.limit(5).select("doc_id"), "doc_id", dir))
      assert(e.getMessage.contains("graft.bm25.maxTombstones"))
      assert(Retrieval.tombstoneCount(spark, dir) == 0L)
    } finally spark.conf.unset("graft.bm25.maxTombstones")

    // erasure-deadline policy: growth thresholds alone would never heal
    // this small index, but maxTombstoneRows=0 compacts on the first
    // nightly run after any takedown (default -1 keeps growth-only)
    Retrieval.deleteDocs(docs.limit(3).select("doc_id"), "doc_id", dir): Unit
    assert(!Retrieval.compactIndexIfNeeded(spark, dir),
      "growth-only policy must not trigger on tombstones")
    assert(Retrieval.compactIndexIfNeeded(spark, dir, maxTombstoneRows = 0L))
    assert(Retrieval.tombstoneCount(spark, dir) == 0L)

    // pre-r14 manifest compatibility: a manifest without the tombstone
    // fields must read as tombstone-free (no KeyNotFound, no null NPE)
    val mp = s"$dir/manifest.json"
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mp)), "UTF-8")
    val stripped = txt
      .replaceAll(""","tombs":\[[^\]]*\]""", "")
      .replaceAll(""","tombcooling":\{[^}]*\}""", "")
    assert(stripped != txt, "test must actually strip the new fields")
    java.nio.file.Files.write(java.nio.file.Paths.get(mp),
      stripped.getBytes("UTF-8"))
    // NIO bypassed the Hadoop local FS — drop its stale checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/.manifest.json.crc"))
    assert(Retrieval.tombstoneCount(spark, dir) == 0L)
    assert(serve().nonEmpty)
  }

  test("retrieval: an emptied index retires later tombstones at compaction — the nightly deadline policy cannot loop") {
    // r14 ADVICE: deleteDocs against an index emptied by a full-tombstone
    // compaction used to commit tombstones the gens-empty early return
    // could never retire, so compactIndexIfNeeded(maxTombstoneRows = 0)
    // reported "due" and ran a no-op compaction every nightly run forever
    import graft.ext.Retrieval
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(20)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25empty").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    // full takedown, then heal: the index is now EMPTY (gens = Nil)
    Retrieval.deleteDocs(docs.select("doc_id"), "doc_id", dir): Unit
    Retrieval.compactIndex(spark, dir)
    assert(Retrieval.indexStats(spark, dir)("n_docs") == 0L)
    assert(Retrieval.tombstoneCount(spark, dir) == 0L)
    // a takedown list naming never-ingested ids still commits (the mask
    // must survive a future re-ingest) …
    assert(Retrieval.deleteDocs(docs.limit(4).select("doc_id"),
      "doc_id", dir) == 4L)
    // … and the deadline policy retires it in ONE run
    assert(Retrieval.compactIndexIfNeeded(spark, dir, maxTombstoneRows = 0L))
    assert(Retrieval.tombstoneCount(spark, dir) == 0L)
    assert(!Retrieval.compactIndexIfNeeded(spark, dir, maxTombstoneRows = 0L),
      "the second nightly run must see nothing due — no infinite loop")
    // r15 review: the emptying compaction left its superseded DATA
    // generations cooling as grace copies — the gens-empty branch must
    // keep cooling them out, or an emptied store leaks them forever
    def genDirs(side: String): Int = {
      val f = graft.ext.StoreFiles.fs(spark, s"$dir/$side")
      val p = new org.apache.hadoop.fs.Path(s"$dir/$side")
      if (!f.exists(p)) 0
      else f.listStatus(p).count(st => st.isDirectory &&
        !st.getPath.getName.startsWith("."))
    }
    assert(Seq("postings", "dlen", "dfd").map(genDirs).sum > 0,
      "precondition: grace copies still cooling under the default window")
    spark.conf.set("graft.store.gcGraceMs", "0")
    try {
      Retrieval.compactIndex(spark, dir)
      assert(Seq("postings", "dlen", "dfd").map(genDirs).sum == 0,
        "cooled-out data generations must sweep on an emptied index")
    } finally spark.conf.unset("graft.store.gcGraceMs")
  }

  test("dedup: MinHash tombstone stage orphans are invisible and swept") {
    // a crashed (or check-refused) attempt's stage dir never becomes a
    // committed retraction — no manifest lists it — and the next commit
    // sweeps it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhstage").toString
    graft.ext.Dedup.buildMinHashStore(docs, "doc_id", "text", dir)
    Seq(5L, 6L).toDF("id").write.parquet(s"$dir/tombs/.stage-g44")
    assert(graft.ext.Dedup.minhashRetractionCount(spark, dir) == 0L,
      "a crashed attempt's stage dir must never serve as a retraction")
    assert(graft.ext.Dedup.retractFromMinHashStore(
      docs.filter(col("doc_id") === 1L).select("doc_id"), "doc_id", dir) == 1L)
    assert(graft.ext.Dedup.minhashRetractionCount(spark, dir) == 1L)
    val f = graft.ext.StoreFiles.fs(spark, dir)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/tombs/.stage-g44")),
      "the next commit must sweep the stale stage orphan")
  }

  test("dedup: MinHash store serve stays exact when a bucket straddles the cap between retraction and compaction") {
    // r14 ADVICE: the oversized-bucket cap used to be computed from the
    // stale stored counts (retracted rows included), so a bucket whose
    // LIVE size is under the cap could be skipped and the masked serve
    // diverged from the direct path over the live corpus. The serve now
    // subtracts the retracted rows' bucket membership.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(10)
    // 6 byte-identical copies of one text (deterministic seed row): every
    // band bucket for that text holds exactly 6 rows
    val seed = base.orderBy("doc_id").limit(1)
    val boiler = (0 until 6).map(i => seed
      .select(lit(9000L + i).as("doc_id"), col("text")))
      .reduce(_.unionByName(_))
    val corpus = base.unionByName(boiler)
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhstraddle").toString
    graft.ext.Dedup.buildMinHashStore(corpus, "doc_id", "text", tmp)
    val incoming = seed.select(lit(77777L).as("doc_id"), col("text"))
    def served() = graft.ext.Dedup.minhashPairsAgainstStore(
      incoming, "doc_id", "text", tmp, maxBucketSize = 4L)
      .select("id_corpus").collect().map(_.getLong(0)).sorted.toSeq
    // stored bucket size 6 > cap 4 → skipped, no matches (both paths agree)
    assert(served().isEmpty)
    // retract 3 of the 6: live bucket size 3 <= 4 → the bucket must COUNT
    val doomed = boiler.filter(col("doc_id") < 9003L).select("doc_id")
    graft.ext.Dedup.retractFromMinHashStore(doomed, "doc_id", tmp): Unit
    val live = corpus.join(doomed.withColumnRenamed("doc_id", "__d"),
      col("doc_id") === col("__d"), "left_anti").select("doc_id", "text")
    val direct = graft.ext.Dedup.minhashPairsAgainst(incoming, live,
      "doc_id", "text", maxBucketSize = 4L)
      .select("id_corpus").collect().map(_.getLong(0)).sorted.toSeq
    assert(direct.nonEmpty, "precondition: the live bucket must match")
    assert(served() == direct,
      "masked serve must equal the direct path when a bucket straddles the cap")
    // after compaction the counts heal physically and nothing changes
    graft.ext.Dedup.compactMinHashStore(spark, tmp)
    assert(served() == direct)
  }

  test("retrieval: streamed takedown batches — per-tag marks make redelivery exactly-once") {
    import graft.ext.Retrieval
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25sdel").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    def tc() = Retrieval.tombstoneCount(spark, dir)
    assert(Retrieval.deleteDocsBatch(docs.limit(3).select("doc_id"),
      "doc_id", dir, "kill", 0L) == 3L)
    assert(tc() == 3L)
    // redelivery no-ops even with a DIFFERENT payload (the mark, not the
    // content, decides)
    assert(Retrieval.deleteDocsBatch(docs.limit(7).select("doc_id"),
      "doc_id", dir, "kill", 0L) == 0L)
    assert(tc() == 3L)
    // an empty batch advances the mark: its id is then a no-op forever
    assert(Retrieval.deleteDocsBatch(
      docs.filter(lit(false)).select("doc_id"), "doc_id", dir,
      "kill", 1L) == 0L)
    assert(Retrieval.deleteDocsBatch(docs.limit(7).select("doc_id"),
      "doc_id", dir, "kill", 1L) == 0L)
    assert(Retrieval.deleteDocsBatch(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 105)
        .select("doc_id"), "doc_id", dir, "kill", 2L) == 5L)
    assert(tc() == 8L)
    // marks survive compaction: the tombstones retire, yet a replay of a
    // long-retired takedown batch still no-ops
    Retrieval.compactIndex(spark, dir)
    assert(tc() == 0L)
    assert(Retrieval.deleteDocsBatch(docs.limit(3).select("doc_id"),
      "doc_id", dir, "kill", 2L) == 0L)
    assert(tc() == 0L)
    // a NEW batch id after compaction tombstones again
    assert(Retrieval.deleteDocsBatch(docs.limit(2).select("doc_id"),
      "doc_id", dir, "kill", 3L) == 2L)
    assert(tc() == 2L)
  }

  test("retrieval: bucket-pruned serve — PartitionFilters on postings+dfd, no dlen scan") {
    // r10: tbucket = pmod(xxhash64(token), nBuckets) partitions the
    // postings and df-delta sides; a narrow query batch must read ONLY its
    // tokens' buckets (parquet partition pruning) and must never scan the
    // corpus-row-sized dlen side (dl rides the postings rows)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.filter(col("doc_id") === 100)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 2)).as("qtext"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25prune").toString
    graft.ext.Retrieval.buildIndex(docs, "doc_id", "text", dir, nBuckets = 32)
    val served = graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5)
    val rows = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val direct = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(rows == direct && direct.nonEmpty)
    val plan = served.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.count(_.matches(".*PartitionFilters: \\[.*tbucket.*IN.*\\].*")) >= 2,
      s"expected pushed tbucket filters on postings AND dfd scans:\n${scans.mkString("\n")}")
    assert(!plan.contains("/dlen/"), s"serve plan scans the dlen side:\n$plan")
    // file-level proof: with ≤2 query tokens only their buckets' files can
    // be listed — far fewer than the full bucket spread of the store
    val partDirs = graft.ext.StoreFiles
      .fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings/g0"))
      .count(_.getPath.getName.startsWith("tbucket="))
    assert(partDirs > 4, s"store not spread across buckets: $partDirs")
    // and the pushed IN-list carries ≤2 bucket literals (≤ query tokens),
    // strictly fewer than the store's bucket spread — the filter really
    // narrows the listing, it didn't silently widen to all buckets
    val inLists = scans.flatMap(l =>
      "tbucket[^\\[]*IN \\(([^)]*)\\)".r.findFirstMatchIn(l).map(_.group(1)))
    assert(inLists.nonEmpty, s"no tbucket IN-list found:\n${scans.mkString("\n")}")
    inLists.foreach { lits =>
      val n = lits.split(",").length
      assert(n <= 2 && n < partDirs,
        s"pushed bucket list did not narrow the scan: [$lits] vs $partDirs dirs")
    }
  }

  test("retrieval: manifest governs visibility — orphan gens invisible, GC'd; tamper fails loud") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 60)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 2)).as("qtext"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25orph").toString
    graft.ext.Retrieval.buildIndex(docs, "doc_id", "text", dir)
    def rows() = graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
        queries, "qid", "qtext", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val before = rows()
    assert(before.nonEmpty)
    // simulate a crashed append: generation dirs on disk, no manifest flip
    val f = graft.ext.StoreFiles.fs(spark, dir)
    import org.apache.hadoop.fs.Path
    Seq("postings", "dlen", "dfd").foreach { side =>
      org.apache.hadoop.fs.FileUtil.copy(f, new Path(s"$dir/$side/g0"),
        f, new Path(s"$dir/$side/g99"), false,
        spark.sparkContext.hadoopConfiguration)
    }
    // the orphan is invisible: serve unchanged (duplicated rows would
    // double every tf/df if the orphan leaked into the read)
    assert(rows() == before, "orphan generation leaked into the serve")
    // a fresh append (new ids) must NOT adopt the orphan's name
    graft.ext.Retrieval.appendToIndex(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(col("doc_id") >= 60 && col("doc_id") < 70),
      "doc_id", "text", dir)
    assert(f.exists(new Path(s"$dir/postings/g100")),
      "fresh append adopted/collided with the orphan generation name")
    // compact GCs the orphan IMMEDIATELY (it was never reader-visible)
    // but puts the generations it just superseded on a COOLING ledger —
    // an in-flight serve planned against a recent manifest keeps its
    // files for at least graft.store.gcGraceMs (r11: even across
    // back-to-back compactions, which compactIndexIfNeeded can legally
    // run — the age gate, not the compaction count, drives the sweep)
    graft.ext.Retrieval.compactIndex(spark, dir)
    assert(!f.exists(new Path(s"$dir/postings/g99")), "orphan not GC'd")
    assert(f.exists(new Path(s"$dir/postings/g0")),
      "superseded gen deleted in the same compaction (in-flight-reader race)")
    // default grace: a second compaction seconds later must NOT sweep
    graft.ext.Retrieval.compactIndex(spark, dir)
    assert(f.exists(new Path(s"$dir/postings/g0")),
      "back-to-back compaction swept a still-cooling grace copy")
    // grace 0 = the plain one-compaction deferral: the next compact sweeps
    spark.conf.set("graft.store.gcGraceMs", "0")
    try {
      graft.ext.Retrieval.compactIndex(spark, dir)
      assert(!f.exists(new Path(s"$dir/postings/g0")),
        "cooled-out grace copy not swept")
    } finally spark.conf.unset("graft.store.gcGraceMs")
    // tampered counters: reconcile refuses to compact
    val manifest = graft.ext.StoreFiles.readUtf8(spark, s"$dir/manifest.json")
    val bad = manifest.replaceAll("\"n_docs\":\\d+", "\"n_docs\":1")
    graft.ext.StoreFiles.writeUtf8Atomic(spark, s"$dir/manifest.json", bad)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Retrieval.compactIndex(spark, dir)
    }
    assert(e.getMessage.contains("inconsistent"))
  }

  test("retrieval: empty index refuses to serve; streamed batch retry is a no-op") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 40)
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 2)).as("qtext"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25empty").toString
    // empty build is legal (the seed of a streaming-built index)…
    graft.ext.Retrieval.buildIndex(docs.limit(0), "doc_id", "text", dir)
    // …but serving it fails loudly, not NaN-silently (avgdl = sum/0)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Retrieval.bm25TopKFromIndex(spark, dir, queries,
        "qid", "qtext", k = 5)
    }
    assert(e.getMessage.contains("empty BM25 index"))
    // streamed batch appends: a re-delivered (tag, batchId) commits once
    assert(graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
      dir, "s1", 0L), "first delivery did not commit")
    def rows() = graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
        queries, "qid", "qtext", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val once = rows()
    assert(once.nonEmpty)
    assert(!graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
      dir, "s1", 0L), "retried batch reported a second commit")
    assert(rows() == once, "retried streamed batch double-committed")
    // ...and the mark SURVIVES compaction (the replay-after-compact trap)
    graft.ext.Retrieval.compactIndex(spark, dir)
    assert(!graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
      dir, "s1", 0L), "compaction forgot the stream's high-water mark")
    assert(rows() == once, "replay after compaction double-committed")
    // a tag shaped like an auto generation name is refused outright
    intercept[IllegalArgumentException] {
      graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
        dir, "g7", 1L)
    }
    // ops surface: stats reflect the live store; threshold policy is
    // a no-op below threshold and compacts above it
    val st = graft.ext.Retrieval.indexStats(spark, dir)
    assert(st("gens") == 1L && st("live_files") > 0 && st("live_bytes") > 0
      && st("n_docs") == 40L && st("streams") == 1L, st.toString)
    assert(!graft.ext.Retrieval.compactIndexIfNeeded(spark, dir),
      "compacted below threshold")
    assert(graft.ext.Retrieval.compactIndexIfNeeded(spark, dir, maxGens = 0),
      "did not compact above threshold")
    assert(rows() == once, "threshold compaction changed the serve")
    // r12 (advice): a pre-r11 '_'-leading tag (valid then, writer-invalid
    // now) keeps its replay horizon via renameStreamMark — never lost,
    // never silently merged onto an existing mark
    assert(graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
      dir, "t2", 0L))
    val man2 = graft.ext.StoreFiles.readUtf8(spark, s"$dir/manifest.json")
    graft.ext.StoreFiles.writeUtf8Atomic(spark, s"$dir/manifest.json",
      man2.replace("\"s1\":", "\"_s1\":"))
    intercept[IllegalArgumentException] { // legacy tag fails at construction
      graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
        dir, "_s1", 1L)
    }
    graft.ext.Retrieval.renameStreamMark(spark, dir, "_s1", "s1b")
    assert(!graft.ext.Retrieval.appendBatchToIndex(docs, "doc_id", "text",
      dir, "s1b", 0L), "migrated mark lost the replay horizon")
    intercept[IllegalArgumentException] {
      graft.ext.Retrieval.renameStreamMark(spark, dir, "missing", "s9")
    }
    intercept[IllegalArgumentException] { // t2's mark must not be overwritten
      graft.ext.Retrieval.renameStreamMark(spark, dir, "s1b", "t2")
    }
  }

  test("retrieval: streamed index build ≡ one-shot (micro-batch appends, df deltas sum)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val queries = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3)).as("qtext"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val direct = rows(graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5))
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25strm").toString
    graft.ext.Retrieval.buildIndex(docs.limit(0), "doc_id", "text", dir)
    graft.ext.Retrieval.indexReplay(docs, "doc_id", "text", dir, numFiles = 5)
    val streamed = rows(graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5))
    assert(streamed == direct && direct.nonEmpty)
  }

  test("retrieval: blank/null docs — lengths-only gens, avgdl pinned, 2nd stream appends") {
    import spark.implicits._
    // mixed corpus: real docs + a blank doc + a NULL doc. N counts all of
    // them; avgdl averages the non-null lengths (blank = 0 counts, NULL
    // does not) — pinned identically in the one-shot scorer and the
    // store's {n_docs, n_dl, sum_dl} counters.
    val docsA = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple durian kiwi")).toDF("doc_id", "text")
    val docsB = Seq((4L, "   "), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val union = docsA.unionByName(docsB)
    val queries = Seq((10L, "apple banana")).toDF("qid", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val direct = rows(graft.ext.Retrieval.bm25TopK(union, "doc_id", "text",
      queries, "qid", "qtext", k = 5))
    assert(direct.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25blank").toString
    graft.ext.Retrieval.buildIndex(docsA, "doc_id", "text", dir)
    // a batch with rows but ZERO tokens commits a lengths-only generation
    // (no postings/dfd dirs) — and must neither crash the serve nor the
    // compaction, while still moving N and avgdl
    graft.ext.Retrieval.appendToIndex(docsB, "doc_id", "text", dir)
    def serve() = rows(graft.ext.Retrieval.bm25TopKFromIndex(spark, dir,
      queries, "qid", "qtext", k = 5))
    assert(serve() == direct, s"${serve()} vs $direct")
    graft.ext.Retrieval.compactIndex(spark, dir)
    assert(serve() == direct)
    // a SECOND replay stream into the same index must append (fresh tag),
    // not silently no-op against the first stream's batch ids
    val dir2 = java.nio.file.Files.createTempDirectory("graft-bm25twostrm").toString
    graft.ext.Retrieval.buildIndex(docsA.limit(0), "doc_id", "text", dir2)
    graft.ext.Retrieval.indexReplay(docsA, "doc_id", "text", dir2, numFiles = 2)
    graft.ext.Retrieval.indexReplay(docsB, "doc_id", "text", dir2, numFiles = 2)
    val twoStreams = rows(graft.ext.Retrieval.bm25TopKFromIndex(spark, dir2,
      queries, "qid", "qtext", k = 5))
    assert(twoStreams == direct,
      s"second stream's batches were dropped: $twoStreams vs $direct")
  }

  test("text: script profile counts and dominant label incl. ties and none") {
    val df = Seq(
      (1L, "hello мир 你好"),    // 5 latin, 3 cyr, 2 cjk
      (2L, "你好 世界"),                  // 4 cjk
      (3L, "12345 ---"),                                  // none
      (4L, "ab 你好")                             // tie 2-2 -> latin
    ).toDF("doc_id", "text")
    val cols = TextAnalysis.scriptProfile(col("text"))
    val got = df.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got == Seq(
      (1L, 5L, 3L, 2L, 0L, "latin"),
      (2L, 0L, 0L, 4L, 0L, "cjk"),
      (3L, 0L, 0L, 0L, 0L, "none"),
      (4L, 2L, 0L, 2L, 0L, "latin")), got.toString)
    // r10: NULL text is PINNED to null counts + null label (not an
    // accidental fall-through to 'none' here and 'arabic' in the oracle)
    val withNull = Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val nr = withNull.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .collect().head
    assert((1 to 4).forall(nr.isNullAt) && nr.isNullAt(5), nr.toString)
  }

  test("text: unigram log-prob matches hand computation incl. OOV floor") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbs(d, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts: a=2 b=2 c=1, N=5; vocab(top2 by cnt desc, tok asc) = {a, b}; OOV floor 1/5
    assert(got(1L)._1 == 3 && math.abs(got(1L)._2 - math.log(0.4)) < 1e-9)
    assert(got(2L)._1 == 2 &&
      math.abs(got(2L)._2 - (math.log(0.4) + math.log(0.2)) / 2) < 1e-9)
    // empty doc absent
    val e = Seq((1L, "x y"), (2L, "   ")).toDF("doc_id", "text")
    assert(TextAnalysis.unigramLogProbs(e, "doc_id", "text").count() == 1)
  }

  test("packing: greedy per-bucket packs respect budget, determinism, oversize") {
    val d = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 12L), (5L, 3L)).toDF("doc_id", "ntok")
    val packed = graft.ext.Packing.packGreedy(d, "doc_id", "ntok",
        maxTokens = 10, numBuckets = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("pack"), r.getAs[Int]("pack_pos"), r.getAs[Long]("pack_offset"))))
      .toMap
    // id order in the single bucket: 1,2 pack0; 3 pack1; 4 (oversize) pack2 alone; 5 pack3
    assert(packed(1L) == ((0L, 0, 0L)) && packed(2L) == ((0L, 1, 4L)))
    assert(packed(3L) == ((1L, 0, 0L)))
    assert(packed(4L) == ((2L, 0, 0L)))
    assert(packed(5L) == ((3L, 0, 0L)))
    // multi-bucket: every pack stays within budget unless a single doc overflows
    val big = (0L until 500L).map(i => (i, 1L + i % 7)).toDF("doc_id", "ntok")
    val p2 = graft.ext.Packing.packGreedy(big, "doc_id", "ntok",
      maxTokens = 16, numBuckets = 8)
    val packSums = p2.join(big, "doc_id").groupBy("bucket", "pack")
      .agg(sum("ntok").as("s"), count(lit(1)).as("n"))
    assert(packSums.filter(col("s") > 16 && col("n") > 1).count() == 0)
    // deterministic across partitionings
    val p3 = graft.ext.Packing.packGreedy(big.repartition(13), "doc_id", "ntok",
      maxTokens = 16, numBuckets = 8)
    assert(p2.exceptAll(p3).isEmpty && p3.exceptAll(p2).isEmpty)
  }

  test("text: ccnet normalization strips accents, folds digits, survives non-Latin") {
    import graft.ext.TextAnalysis
    val d = Seq(
      (1L, "  Müller   café 123 "),
      (2L, "ÉLÈVE naïve über"),
      (3L, "ø ß straße"),        // no decomposition: pass through
      (4L, "中文 文本 42"),       // CJK untouched, digits folded
      (5L, "")
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.ccnetNormalized(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "muller cafe 000")
    assert(got(2L) == "eleve naive uber")
    assert(got(3L) == "ø ß straße")
    assert(got(4L) == "中文 文本 00")
    assert(got(5L) == "")
    // SQL registration parity
    graft.functions.GraftFunctions.registerAll(spark)
    val viaSql = d.selectExpr("graft_ccnet_strip(lower(text)) AS n")
      .filter(col("n").contains("muller")).count()
    assert(viaSql == 1L)
    // fingerprints of normalization-equal docs collide
    val fp = Seq((1L, "Müller  123"), (2L, "muller 999")).toDF("doc_id", "text")
      .select(TextAnalysis.ccnetFingerprint64(col("text")).as("f"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
  }

  test("text: stupid-backoff bigram scores match hand computation incl. pruned-bigram backoff") {
    // corpus: d1 = "a b a b c", d2 = "a b"
    // uni: a=3 b=3 c=1, N=7, V=3, denomU = 7 + 0.5*4 = 9
    // bigrams: (a,b)=3, (b,a)=1, (b,c)=1 → minCount=2 keeps only (a,b)
    val d = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "  ")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.stupidBackoff(d, "doc_id", "text",
        alpha = 0.4, addK = 0.5, minBigramCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val lnFirstA = math.log(3.5 / 9)
    val backoff = (u: Long) => math.log(0.4 * (u + 0.5) / 9)
    // d1: first a + (a,b) seen ln(3/3)=0 + (b,a) backoff(u(a)=3)
    //     + (a,b) 0 + (b,c) backoff(u(c)=1)
    val s1 = lnFirstA + 0 + backoff(3) + 0 + backoff(1)
    val s2 = lnFirstA + 0
    assert(got(1L)._1 == 5 &&
      math.abs(got(1L)._2.get - math.floor(-s1 / 5 * 1e4 + 0.5) / 1e4) < 1e-9)
    assert(got(2L)._1 == 2 &&
      math.abs(got(2L)._2.get - math.floor(-s2 / 2 * 1e4 + 0.5) / 1e4) < 1e-9)
    // blank doc: zero tokens, null entropy
    assert(got(3L)._1 == 0 && got(3L)._2.isEmpty)
    // without pruning, every self-scored bigram is seen: d1 = first + ln(1/3)+ln(1/3)
    val full = graft.ext.TextAnalysis.stupidBackoff(d, "doc_id", "text")
      .filter(col("doc_id") === 1L).head()
    val sFull = lnFirstA + math.log(1.0 / 3) * 2
    assert(math.abs(full.getDouble(2) - math.floor(-sFull / 5 * 1e4 + 0.5) / 1e4) < 1e-9)
  }

  test("text: Kneser-Ney bigram scores match hand computation incl. pruned and unseen-context branches") {
    // corpus: d1 = "a b a b c", d2 = "a b"; bigrams (a,b)=3 (b,a)=1 (b,c)=1
    val d = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "  ")).toDF("doc_id", "text")
    // pruned model (minCount=2): bic={(a,b):3}, V=3, T=1, denomC=1+0.5*4=3
    // ctx(a)=3 nfol=1 lam=0.25; npre(b)=1; Pc(b)=1.5/3, Pc(a)=Pc(c)=0.5/3
    val got = graft.ext.TextAnalysis.kneserNey(d, "doc_id", "text",
        discount = 0.75, addK = 0.5, minBigramCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    val lnPcA = math.log(0.5 / 3)                        // unseen-w2 Pc
    val lnAB = math.log((3 - 0.75) / 3.0 + 0.25 * (1.5 / 3))
    // d1: first a (Pc) + (a,b) + (b,a) unseen CONTEXT b (Pc) + (a,b) + (b,c)
    val s1 = lnPcA + lnAB + lnPcA + lnAB + lnPcA
    val s2 = lnPcA + lnAB
    assert(got(1L)._1 == 5 &&
      math.abs(got(1L)._2.get - math.floor(-s1 / 5 * 1e4 + 0.5) / 1e4) < 1e-9)
    assert(got(2L)._1 == 2 &&
      math.abs(got(2L)._2.get - math.floor(-s2 / 2 * 1e4 + 0.5) / 1e4) < 1e-9)
    assert(got(3L)._1 == 0 && got(3L)._2.isEmpty)
    // unpruned model: T=3, denomC=5, every Pc=1.5/5=0.3; lam(b)=0.75
    // d1 = lnPc(a) + 2*ln(0.75+0.25*0.3) + 2*ln(0.125+0.75*0.3)
    val full = graft.ext.TextAnalysis.kneserNey(d, "doc_id", "text")
      .filter(col("doc_id") === 1L).head()
    val sFull = math.log(0.3) + 2 * math.log((3 - 0.75) / 3.0 + 0.25 * 0.3) +
      2 * math.log((1 - 0.75) / 2.0 + 0.75 * 0.3)
    assert(math.abs(full.getDouble(2) - math.floor(-sFull / 5 * 1e4 + 0.5) / 1e4) < 1e-9)
  }

  test("packing: concat-and-chunk spans reconstruct docs, fill sequences, match sequential reference") {
    // irregular token counts incl. one doc spanning several sequences
    val counts = Seq(1L -> 7L, 2L -> 3L, 3L -> 25L, 4L -> 1L, 5L -> 10L,
      6L -> 9L, 8L -> 2L, 9L -> 13L)
    val L = 8L
    val d = counts.toDF("doc_id", "ntok")
    val got = graft.ext.Packing.packSequences(d, "doc_id", "ntok", seqLen = L,
        numBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    // sequential reference: walk docs in id order, cut every L tokens
    var off = 0L
    val want = counts.flatMap { case (id, n) =>
      val spans = (off / L to (off + n - 1) / L).map { s =>
        (id, s, math.max(s * L - off, 0L), math.min(n, (s + 1) * L - off),
          math.max(off - s * L, 0L))
      }
      off += n
      spans
    }
    assert(got.toSeq == want)
    // invariants: spans of a doc are contiguous and sum to ntok; every
    // sequence but the last carries exactly L tokens
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(s => s._4 - s._3).sum)
    assert(counts.forall { case (id, n) => perDoc(id) == n })
    val perSeq = got.groupBy(_._2).view.mapValues(_.map(s => s._4 - s._3).sum).toMap
    val lastSeq = perSeq.keys.max
    assert(perSeq.filter(_._1 != lastSeq).values.forall(_ == L))
    // deterministic across input partitionings (prefix sum is exact, not
    // partitioning-dependent); zero-token docs emit nothing
    val shuffled = graft.ext.Packing.packSequences(d.repartition(7), "doc_id",
      "ntok", seqLen = L, numBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(shuffled.toSeq == want)
    val withEmpty = (counts :+ (7L -> 0L)).toDF("doc_id", "ntok")
    assert(graft.ext.Packing.packSequences(withEmpty, "doc_id", "ntok",
      seqLen = L, numBuckets = 4).filter(col("doc_id") === 7L).count() == 0)
  }

  test("packing: duplicate ids still yield a valid disjoint covering; null token counts fail loudly (r17 review)") {
    // packSequences documents unique ids; under a VIOLATED contract the
    // old RANGE window frame gave tied ids the same cumulative sum —
    // overlapping spans and uncovered stream tokens, silently. The ROWS
    // frame keeps the packing VALID (disjoint spans covering the full
    // stream), with only the tie order arbitrary.
    val dup = Seq(5L -> 10L, 5L -> 10L, 6L -> 3L, 7L -> 12L)
      .toDF("doc_id", "ntok")
    val spans = graft.ext.Packing.packSequences(dup, "doc_id", "ntok",
        seqLen = 100L, numBuckets = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(1),
        r.getLong(4)))
    // total covered tokens == total ntok, and the per-sequence intervals
    // [seq_start, seq_start + (doc_end - doc_start)) are pairwise disjoint
    assert(spans.map(s => s._2 - s._1).sum == 35L,
      "spans must cover every stream token exactly once")
    val bySeq = spans.groupBy(_._3)
    bySeq.foreach { case (_, ss) =>
      val ivs = ss.map(s => (s._4, s._4 + (s._2 - s._1))).sortBy(_._1)
      ivs.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(e1 <= s2, s"overlapping spans within a sequence: $ivs")
        case _ =>
      }
    }
    // packGreedy: a null token count fails with the contract violation,
    // not an opaque encoder NPE from a non-nullable tuple field
    val withNull = Seq((1L, java.lang.Long.valueOf(4L)),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "ntok")
    val e = intercept[Exception](graft.ext.Packing.packGreedy(
      withNull, "doc_id", "ntok", maxTokens = 8L).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("packGreedy")),
      s"want the loud contract message in the cause chain, got: ${chain(e)}")
  }

  test("plans: packSequences and weightedSampleWOR stay distributed (no single-partition stage)") {
    val d = (1L to 500L).map(i => (i, i % 7 + 1)).toDF("doc_id", "ntok")
    // prep cost: the quantile probe + the per-bucket sums — bounded jobs,
    // never one per bucket
    val sc = spark.sparkContext
    sc.setJobGroup("pack_probe", "packSequences prep job probe", false)
    val packed =
      try graft.ext.Packing.packSequences(d, "doc_id", "ntok", seqLen = 16)
      finally sc.clearJobGroup()
    val prepJobs = sc.statusTracker.getJobIdsForGroup("pack_probe").length
    // quantile probe + bucket-sum collect; AQE materializes shuffle stages
    // as extra jobs — the bound is a small CONSTANT, never O(buckets)
    assert(prepJobs <= 5, s"packSequences prep ran $prepJobs jobs (expected <= 5)")
    packed.count()
    val pplan = packed.queryExecution.executedPlan.toString
    assert(!pplan.contains("SinglePartition"),
      s"packSequences funnels through one partition:\n$pplan")
    // WOR: one partial-aggregated k-heap + a semi join — no window sort
    val wor = graft.ext.Sampling.weightedSampleWOR(
      d.select(col("doc_id"), col("ntok").cast("double").as("w")),
      "doc_id", "w", k = 10)
    wor.count()
    val wplan = wor.queryExecution.executedPlan.toString
    assert(!wplan.contains("WindowExec") && !wplan.contains("Window "),
      s"weightedSampleWOR uses a window sort:\n$wplan")
  }

  test("sampling: weighted WOR matches local E-S reference, per-group, weight guards") {
    import graft.ext.Sampling
    def h32(key: String, seed: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$key\u0001$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    def es(id: Long, w: Double, seed: Long): Double =
      math.log((h32(id.toString, seed) + 0.5) / 4294967296.0) / w
    val rows = (1L to 200L).map(i => (i, (i % 13 + 1).toDouble, if (i % 2 == 0) "a" else "b"))
    val d = rows.toDF("id", "w", "g")
    // global: exact agreement with the sequential reference top-k
    val got = Sampling.weightedSampleWOR(d, "id", "w", k = 20, seed = 42)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = rows.sortBy { case (id, w, _) => (-es(id, w, 42), id) }
      .take(20).map(_._1).sorted
    assert(got == want)
    // per-group: independent k per group, same reference within each group
    val byG = Sampling.weightedSampleWOR(d, "id", "w", k = 10, seed = 42,
        groupCol = Some("g"))
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("id")))
    assert(byG.groupBy(_._1).view.mapValues(_.length).toMap == Map("a" -> 10, "b" -> 10))
    for ((gv, ids) <- byG.groupBy(_._1)) {
      val ref = rows.filter(_._3 == gv)
        .sortBy { case (id, w, _) => (-es(id, w, 42), id) }.take(10).map(_._1).sorted
      assert(ids.map(_._2).sorted.toSeq == ref)
    }
    // zero/negative/null weights never win; k >= population returns all positive-weight rows
    val guarded = Seq((1L, 5.0), (2L, 0.0), (3L, -1.0)).toDF("id", "w")
      .unionByName(Seq((4L, Option.empty[Double])).toDF("id", "w"))
    assert(Sampling.weightedSampleWOR(guarded, "id", "w", k = 10)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // weighting is real: with weights 1000 vs 1, heavy keys dominate across seeds
    val skewed = (1L to 100L).map(i => (i, if (i <= 10) 1000.0 else 1.0)).toDF("id", "w")
    val heavyWins = (1 to 20).map { s =>
      Sampling.weightedSampleWOR(skewed, "id", "w", k = 10, seed = s)
        .filter(col("id") <= 10).count()
    }.sum
    assert(heavyWins > 150, s"heavy keys won only $heavyWins/200 slots")
  }

  test("url: canonicalization rules, registered domain, blocklist paths") {
    import graft.ext.UrlOps
    val d = Seq(
      (1L, "HTTPS://WWW.News.Example.COM:443/Path/x/?utm_source=a&b=2&a=1&gclid=g#frag"),
      (2L, "http://sub.example.co.uk:8080/a//b/?z=9&ref=r"),
      (3L, "https://user:pw@Example.com/x?fbclid=f"),
      (4L, "not a url"),
      (5L, "http://example.com:80/"),
      (6L, "http://h.example.com/p#a?b=1"), // '?' INSIDE the fragment
      (8L, "http://h.example.com/p?next=/page?x=1") // '?' INSIDE the query
    ).toDF("id", "url")
      .unionByName(Seq((7L, Option.empty[String])).toDF("id", "url"))
    val got = d.select(col("id"), UrlOps.canonicalize(col("url")).as("c"),
        UrlOps.domain(col("url")).as("dm"), UrlOps.registeredDomain(col("url")).as("rd"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(got(1L) == (("https://news.example.com/Path/x?a=1&b=2", "news.example.com", "example.com")))
    assert(got(2L) == (("http://sub.example.co.uk:8080/a//b?z=9", "sub.example.co.uk", "example.co.uk")))
    assert(got(3L) == (("https://example.com/x", "example.com", "example.com")))
    assert(got(4L)._1 == null) // no scheme → not a URL
    assert(got(5L) == (("http://example.com", "example.com", "example.com")))
    // r18 hunt: the fragment drops WHOLE — a '?x=1' inside it must not
    // resurrect as a query string
    assert(got(6L)._1 == "http://h.example.com/p")
    // r18 fourth-pass: '?' is legal INSIDE a query (RFC 3986) — the
    // extraction must anchor to the FIRST '?' (a greedy '[^#]*' prefix
    // backtracked to the last one and dropped every earlier param)
    assert(got(8L)._1 == "http://h.example.com/p?next=/page?x=1")
    // blocklist: inline predicate path and broadcast anti-join path agree,
    // INCLUDING on null urls (r18 hunt: `!isin` on a null rd is null and
    // the inline filter dropped the row where the anti-join kept it) and
    // on null/blank blocklist entries (r18 fourth-pass: one null entry
    // made the inline isin three-valued for EVERY non-matching row)
    val keep = Set(1L, 3L, 4L, 5L, 6L, 7L, 8L)
    val blocked = Seq("example.co.uk", null, "")
    val inline = UrlOps.filterBlockedDomains(d, "url", blocked)
    assert(inline.select("id").collect().map(_.getLong(0)).toSet == keep)
    val broad = UrlOps.filterBlockedDomains(d, "url", blocked, inlineThreshold = 0)
    assert(broad.select("id").collect().map(_.getLong(0)).toSet == keep)
    assert(broad.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "large blocklist must be a broadcast anti-join")
  }

  test("url: host after LAST '@', FQDN trailing dot, padded ports, blocklist normalization (r19 hunt)") {
    import graft.ext.UrlOps
    val d = Seq(
      (1L, "http://a@b@evil.com/"),        // userinfo containing '@'
      (2L, "http://example.com./x"),        // FQDN trailing dot
      (3L, "http://example.com:080/"),      // zero-padded default port
      (4L, "https://example.com:0443/y"),   // zero-padded default https port
      (5L, "http://example.com:08080/z")    // zero-padded NON-default port
    ).toDF("id", "url")
    val got = d.select(col("id"), UrlOps.canonicalize(col("url")).as("c"),
        UrlOps.domain(col("url")).as("dm"),
        UrlOps.registeredDomain(col("url")).as("rd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    // the host begins after the LAST '@' — the lazy strip left
    // "b@evil.com" and a crafted extra '@' bypassed the blocklist
    assert(got(1L) == (("http://evil.com", "evil.com", "evil.com")))
    // "example.com." ≡ "example.com": the dangling dot broke both the
    // suffix match and blocklist equality
    assert(got(2L) == (("http://example.com/x", "example.com", "example.com")))
    // ports compare and re-render over leading-zero-normalized digits
    assert(got(3L)._1 == "http://example.com")
    assert(got(4L)._1 == "https://example.com/y")
    assert(got(5L)._1 == "http://example.com:8080/z")
    // an absurd over-int port must neither crash (ANSI) nor drop
    // (non-ANSI) — pure string normalization, no cast (r19 review)
    val big = Seq((9L, "http://x.com:99999999999/p")).toDF("id", "url")
      .select(graft.ext.UrlOps.canonicalize(col("url")).as("c"))
      .head.getString(0)
    assert(big == "http://x.com:99999999999/p", big)
    // blocklist entries normalize to the registeredDomain form on both
    // paths (case, leading www., trailing dot)
    val blocked = Seq("EVIL.com.", "www.Example.COM")
    for (thr <- Seq(256, 0)) {
      val kept = UrlOps.filterBlockedDomains(d, "url", blocked,
        inlineThreshold = thr).select("id").collect().map(_.getLong(0)).toSet
      assert(kept.isEmpty, s"threshold $thr kept $kept")
    }
  }

  test("multimodal: grayscale resize stays gray, 16-bit features in [0,1], dim/null guards (r19 hunt)") {
    import graft.ext.{ImageIODecoder, Multimodal}
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    def png(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 8-bit grayscale source larger than the bound: the resized payload
    // must stay 1-channel (the former TYPE_INT_RGB forced 3)
    val gray = new BufferedImage(64, 32, BufferedImage.TYPE_BYTE_GRAY)
    gray.getRaster.setSample(0, 0, 0, 200)
    val resized = ImageIODecoder.resize(png(gray), 16)
    assert(ImageIODecoder.decodeMeta(resized).channels == 1,
      "grayscale source must stay 1-channel through resize")
    // 16-bit grayscale: features normalize by the true sample range
    val deep = new BufferedImage(8, 8, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      deep.getRaster.setSample(x, y, 0, 60000)
    val f = ImageIODecoder.features(png(deep), 4)
    assert(f.forall(v => v >= 0f && v <= 1f),
      s"16-bit features must stay in [0,1], got ${f.toSeq}")
    assert(f(0) > 0.8f, "near-max samples should normalize near 1")
    // dim guard fails fast on the driver, not as an executor AIOOBE
    val docs = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val e = intercept[IllegalArgumentException](
      Multimodal.extractFeatures(docs, "id", "payload", dim = 0))
    assert(e.getMessage.contains("dim >= 1"))
    // sampleFrameIndices fails fast by name on null payload rows
    val withNull = Seq((1L, Array[Byte](1, 2, 3)))
      .toDF("id", "payload")
      .unionByName(Seq(2L).toDF("id")
        .withColumn("payload", lit(null).cast("binary")))
    val err = intercept[Exception](
      Multimodal.sampleFrameIndices(withNull, "id", "payload", 2).collect())
    assert(err.getMessage != null &&
      err.getMessage.contains("null payload") ||
      String.valueOf(err.getCause).contains("null payload"))
  }

  test("dedup: duplicated spans and collapsed ranges semantics") {
    import graft.ext.Dedup
    // docs 1/2 share tokens 1..5 ("a b c d e"); doc 3 disjoint; doc 4 repeats
    // a span only within itself (must NOT be flagged at minDocs=2)
    val d = Seq(
      (1L, "a b c d e x1 y1 z1"),
      (2L, "a b c d e x2 y2 z2"),
      (3L, "p q r s t u v w"),
      (4L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", k = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // shared 5-token run → 3-token span starts 1,2,3 in both docs
    assert(spans == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2), (2L, 3)))
    val ranges = Dedup.duplicatedSpanRanges(d, "doc_id", "text", k = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // starts 1..3 with k=3 merge into tokens 1..5
    assert(ranges == Set((1L, 1, 5), (2L, 1, 5)))
    // a doc shorter than k emits nothing
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(short, "doc_id", "text", k = 3).count() == 0)
  }

  test("dedup: cutDuplicatedSpans keeps first occurrence, cuts the rest") {
    import graft.ext.Dedup
    val d = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lazy dog saw the quick brown fox today"),
      (3L, "unrelated words only here"),
      (4L, "a b c"),
      (5L, "a b c")
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicatedSpans(d, "doc_id", "text", k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    // doc 1 is canonical for the shared "the quick brown fox" run — untouched,
    // original text byte-identical (incl. its whitespace)
    assert(out(1L) == ((0, "the quick brown fox jumps high")))
    // doc 2 cuts span starts 4,5 → tokens 4..7 removed
    assert(out(2L) == ((4, "lazy dog saw today")))
    assert(out(3L) == ((0, "unrelated words only here")))
    // exact-duplicate pair: doc 4 (smaller id) keeps, doc 5 empties
    assert(out(4L) == ((0, "a b c")))
    assert(out(5L) == ((3, "")))
  }

  test("dedup: semanticDedup LSH path keeps a superset of brute survivors' reps") {
    import graft.ext.Dedup
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45, useLsh = false)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // 0.45 is far below the 0.95 design regime (hyperplane agreement
    // p ≈ 0.65), so recall needs heavy OR-amplification: short bands, many
    // of them — 1-(1-.65^4)^12 ≈ 0.91 per pair
    val lsh = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45,
      useLsh = true, lshBits = 4, lshBands = 12)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // LSH finds a subset of true pairs → drops a subset of docs → survivors
    // are a superset; and everything brute kept must survive LSH too
    assert(brute.subsetOf(lsh))
    // recall sanity: LSH should drop at least half of what brute drops
    val n = emb.count()
    assert(n - lsh.size >= (n - brute.size) / 2,
      s"LSH dropped ${n - lsh.size} vs brute ${n - brute.size}")
  }

  test("text: vocabTopK deterministic top-k via TakeOrdered, no global sort") {
    val d = Seq((1L, "b b a a"), (2L, "a c C")).toDF("doc_id", "text")
    val v = graft.ext.TextAnalysis.vocabTopK(d, "text", k = 2)
    val rows = v.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a", 3L), ("b", 2L))) // c=2 loses tie to b
    assert(v.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
  }

  test("sampling: capPerGroup keeps n smallest-hash keys, no Window in plan") {
    val d = (0L until 300L).map(i => (i, if (i % 3 == 0) "big" else "small"))
      .toDF("id", "grp")
    val capped = graft.ext.Sampling.capPerGroup(d, "id", "grp", 10, seed = 7)
    // per-group caps hold and selection matches an independent rank-by-hash
    val got = capped.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2 == "big") == 10 && got.count(_._2 == "small") == 10)
    val expected = d.withColumn("h", graft.ext.Sampling.hashBucket(col("id"), 7))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3, r._1)).take(10).toSeq }.map(r => (r._1, r._2)).toSet
    assert(got.toSet == expected)
    // scale guard: the plan must use the bounded k-heap aggregate, never a
    // per-group window sort
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "capPerGroup must not plan a Window")
    assert(plan.contains("graft_top_k_by_score"))
    // determinism under repartitioning
    val again = graft.ext.Sampling.capPerGroup(d.repartition(13), "id", "grp", 10, seed = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == got.toSet)
  }

  test("dedup: bloom-prefiltered incremental exact equals the anti-join path") {
    val corpus = (0L until 400L).map(i => (i, s"corpus document number $i with shared phrasing"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1000L, "corpus Document   number 7 with shared phrasing"), // exact mod case/ws
      (1001L, "corpus document number 399 with shared phrasing"), // exact
      (1002L, "a genuinely novel document about alpine meadows"),
      (1003L, "another novel document that the corpus has never seen")
    ).toDF("doc_id", "text")
    val bloomDf = Dedup.dropExistingExactBloom(incoming, corpus, "doc_id", "text")
    // scale guard: the verify joins must both be broadcast — the corpus is
    // scanned but never shuffled on this path
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"bloom path must broadcast-verify, got:\n$plan")
    val viaBloom = bloomDf.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaAnti = Dedup.dropExistingExact(incoming, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == Set(1002L, 1003L) && viaBloom == viaAnti)
    // a saturated filter (tiny expectedItems → high fp rate) still gives
    // exact results: false positives are verified, negatives can't exist
    val saturated = Dedup.dropExistingExactBloom(incoming, corpus, "doc_id", "text",
      expectedItems = 2L, fpp = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(saturated == viaAnti)
  }

  test("text: linear classifier score matches hand computation, OOV = 0") {
    val w = Map("the" -> 0.8, "cat" -> -0.4)
    val d = Seq((1L, "The cat AND the dog"), (2L, "zzz qqq"), (3L, "  ")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      TextAnalysis.linearClassifierScore(col("text"), w, bias = -0.1).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    // doc 1: (0.8 - 0.4 + 0.8) / 5 tokens = 0.24; doc 2: all OOV → 0
    assert(got(1L) == math.rint(sig(0.24 - 0.1) * 1e4) / 1e4)
    assert(got(2L) == math.rint(sig(-0.1) * 1e4) / 1e4)
    assert(got(3L) == math.rint(sig(-0.1) * 1e4) / 1e4) // empty → mean 0
  }

  test("text: BPE training learns hand-computable merges; round-trips into encode") {
    val d = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val merges = graft.ext.BpeTrain.learnMerges(d, "text", numMerges = 4)
    // words each ×1. pairs: (l,o)×3 (o,w)×3 (w,e)×2 (e,r) (e,s) (s,t)
    //   tie 3=3 → pair-asc: "l o" < "o w" → (l,o); then (lo,w)×3; then
    //   (low,e)×2; then ties at 1 → "lowe r" < "lowe s" < "s t" → (lowe,r)
    assert(merges == Seq("l" -> "o", "lo" -> "w", "low" -> "e", "lowe" -> "r"))
    // learned merges drive the encoder: low→[low], lower→[lower],
    // lowest→[lowe, s, t]
    val toks = d.select(TextAnalysis.bpeTokens(col("text"), merges))
      .head().getSeq[String](0)
    assert(toks == Seq("low", "lower", "lowe", "s", "t"))
    // a merge budget beyond the pair supply stops early instead of looping
    val all = graft.ext.BpeTrain.learnMerges(d, "text", numMerges = 100)
    assert(all.size < 100 && all.startsWith(merges))
  }

  test("text: chunkDocuments strided windows with snap-back tail") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 1, 5(snap-back to 7→ no; see below)
      (2L, "a b c"),                                  // shorter than chunk → one chunk
      (3L, "   ")                                     // zero toks → no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(d, "doc_id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    // doc 1: n=10, lastFull=7 → base starts 1,4,7; 7+3=10 covers → no snap-back
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((1, 4), (4, 4), (7, 4)))
    assert(d1.head._5 == "t1 t2 t3 t4" && d1.last._5 == "t7 t8 t9 t10")
    // doc 2: one short chunk, all tokens
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 1, 3, "a b c")))
    assert(!got.exists(_._1 == 3L))
    // snap-back case: n=9, size=4, stride=4 → base 1,5 covers 8 < 9 →
    // final window starts at 6 and ends exactly at token 9
    val e = Seq((1L, (1 to 9).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val ec = TextAnalysis.chunkDocuments(e, "doc_id", "text", chunkSize = 4, stride = 4)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(ec.toSeq == Seq((0, 1, 4), (1, 5, 4), (2, 6, 4)))
  }

  test("text: chunk invariants hold over the real corpus") {
    // every token index covered ≥ once; starts strictly increasing; all
    // chunks full-size except when the whole doc is shorter than a chunk
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (size, stride) = (32, 24)
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text", size, stride)
      .select("doc_id", "chunk_idx", "start_tok", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1)
    val nToks = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      val n = nToks(id)
      // contiguous coverage: first chunk starts at 1, last ends at n
      assert(sorted.head._3 == 1 && sorted.last._3 + sorted.last._4 - 1 == n)
      // starts strictly increase and no gap exceeds a chunk
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 > a._3 && b._3 <= a._3 + a._4, s"gap in doc $id")
        case _ =>
      }
      // full-size chunks unless the doc itself is shorter
      assert(sorted.forall(c => c._4 == size) || n < size)
    }
  }

  test("outliers: IQR fences match hand computation; nulls pass through") {
    import graft.ext.Outliers
    // 1..100 plus two extremes; sorted = -1000, 1..100, 1000 (102 values);
    // quantile_cont rank 0.25*101 = 25.25 → sorted[25..26] = 25..26 →
    // q1 = 25.25; rank 75.75 → sorted[75..76] = 75..76 → q3 = 75.75
    val base = (1 to 100).map(_.toDouble) ++ Seq(1000.0, -1000.0)
    val d = base.map(Tuple1(_)).toDF("x")
    val (lo, hi) = Outliers.iqrFences(d, "x", k = 1.5)
    val q1 = 25.25; val q3 = 75.75
    assert(math.abs(lo - (q1 - 1.5 * (q3 - q1))) < 1e-9)
    assert(math.abs(hi - (q3 + 1.5 * (q3 - q1))) < 1e-9)
    assert(Outliers.dropOutliers(d, "x").count() == 100) // the two extremes go
    assert(Outliers.flagOutliers(d, "x").filter(col("is_outlier")).count() == 2)
    // nulls are neither flagged nor dropped
    val withNull = base.map(Option(_)).appended(None).map(Tuple1(_)).toDF("x")
    assert(Outliers.dropOutliers(withNull, "x").count() == 101)
    assert(Outliers.flagOutliers(withNull, "x")
      .filter(col("x").isNull && col("is_outlier")).count() == 0)
  }

  test("schema diff reports add/remove/dtype/nullable/checks/unique changes") {
    import org.apache.spark.sql.types._
    import graft.schema.{ColumnSchema, DataFrameSchema, SchemaDiff}
    import graft.checks.Check
    val a = DataFrameSchema(
      "k" -> ColumnSchema(Some(LongType), Seq(Check.ge(0L))),
      "v" -> ColumnSchema(Some(DoubleType)))
    val b = DataFrameSchema(
      "k" -> ColumnSchema(Some(LongType), Seq(Check.ge(0L), Check.le(9L))),
      "w" -> ColumnSchema(Some(StringType)))
    val ch = SchemaDiff.changes(a, b).map(c => (c.column, c.change)).toSet
    assert(ch == Set(("k", "checks_changed"), ("v", "removed"), ("w", "added")))
    // identical schemas → empty report
    assert(SchemaDiff.changes(a, a).isEmpty)
  }

  test("drift: PSI matches hand computation, zero for identical data") {
    val ref = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("x")
    val cur = (1 to 5).map(i => Tuple1(i.toDouble)).toDF("x")
      .union(Seq(Tuple1(6.0)).toDF("x"))
    val rows = graft.ext.Drift.psi(ref, cur, "x", bins = 2).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    // edges = [median 5.5]; ref 5/5 → .5/.5; cur 5 ≤ 5.5, 1 > 5.5 → 5/6, 1/6
    // PSI = (5/6−.5)ln(5/3) + (1/6−.5)ln(1/3) = .170275 + .366204 = .536479
    assert(rows.map(_._1).toSeq == Seq(0, 1))
    assert(rows(0)._2 == 0.5 && math.abs(rows(0)._3 - 0.833333) < 1e-6)
    assert(math.abs(rows(0)._5 - 0.536479) < 1e-6)
    // identical data → PSI 0
    val same = graft.ext.Drift.psi(ref, ref, "x", bins = 5).collect()
    assert(same.forall(_.getDouble(4) == 0.0))
    // an empty bin on one side is eps-floored, not a crash
    val far = Seq(Tuple1(100.0), Tuple1(101.0)).toDF("x")
    val psiFar = graft.ext.Drift.psi(ref, far, "x", bins = 2).head().getDouble(4)
    assert(psiFar > 1.0, s"gross drift must score large, got $psiFar")
  }

  test("drift: grid KS matches hand computation, zero for identical data") {
    val ref = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("x")
    val cur = (1 to 5).map(i => Tuple1(i.toDouble)).toDF("x")
      .union(Seq(Tuple1(6.0)).toDF("x"))
    val rows = graft.ext.Drift.ks(ref, cur, "x", bins = 2).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    // edge = median 5.5; ref cum (.5, 1); cur cum (5/6, 1)
    // gaps (1/3, 0) → ks = .333333
    assert(rows.map(_._1).toSeq == Seq(0, 1))
    assert(math.abs(rows(0)._2 - 0.5) < 1e-9 && math.abs(rows(0)._3 - 0.833333) < 1e-6)
    assert(math.abs(rows(0)._4 - 0.333333) < 1e-6)
    assert(rows.forall(r => math.abs(r._5 - 0.333333) < 1e-6))
    assert(rows(1)._2 == 1.0 && rows(1)._3 == 1.0)
    // identical data → KS 0
    val same = graft.ext.Drift.ks(ref, ref, "x", bins = 5).collect()
    assert(same.forall(_.getDouble(4) == 0.0))
    // disjoint supports: every cur value sits above the last edge, so the
    // max grid gap is F_ref(last edge) = 7/10 (edge 7.75 via interpolated
    // 75th percentile) — the documented 1/bins under-estimate vs true KS=1
    val far = Seq(Tuple1(100.0), Tuple1(101.0)).toDF("x")
    val ksFar = graft.ext.Drift.ks(ref, far, "x", bins = 4).head().getDouble(4)
    assert(ksFar == 0.7, s"gross drift must score F_ref(last edge), got $ksFar")
  }

  test("drift: categorical PSI caps categories and routes new values to __other__") {
    val ref = Seq("a", "a", "a", "b", "b", "c").map(Tuple1(_)).toDF("v")
    val cur = Seq("a", "b", "b", "z", "z", "z").map(Tuple1(_)).toDF("v")
    val rows = graft.ext.Drift.psiCategorical(ref, cur, "v", maxCategories = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(4)))
      .sortBy(_._1)
    // cells: top-2 of ref = a, b; c (ref) and z (cur, unseen) → __other__
    assert(rows.map(_._1).toSeq == Seq("__other__", "a", "b"))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6 // output fracs are 6-dp
    val byCell = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byCell("a") == ((0.5, r6(1.0 / 6))))
    assert(byCell("b") == ((r6(1.0 / 3), r6(1.0 / 3))))
    assert(byCell("__other__") == ((r6(1.0 / 6), 0.5))) // z mass lands here
    assert(rows.head._4 > 0.3, "mix shift must register as drift")
    // null category is its own cell, not a crash
    val refN = Seq(Some("a"), None, Some("a")).map(Tuple1(_)).toDF("v")
    val cells = graft.ext.Drift.psiCategorical(refN, refN, "v", maxCategories = 5)
      .collect().map(_.getString(0)).toSet
    assert(cells.contains("__null__"))
  }

  test("dedup: clusterPairs converges in O(log n) rounds on a 200-node path") {
    // the worst case for plain min-label propagation: a path graph of
    // diameter 199 (199 rounds without shortcutting). Pointer doubling
    // must close it within 12 rounds — maxIterations = 12 errors otherwise.
    val pathPairs = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = graft.ext.Dedup.clusterPairs(pathPairs, maxIterations = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 200)
    assert(labels.forall(_._2 == 0L), "all nodes must label to the component min")
  }

  test("drift: psiMulti == per-column psi, in exactly 2 actions for 3 columns") {
    import java.util.concurrent.atomic.AtomicInteger
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cur = li.filter(col("l_returnflag") === "A")
    val cols = Seq("l_extendedprice", "l_quantity", "l_discount")
    // count ACTIONS (SQL executions — AQE may split one action into many
    // jobs, so job counts are the wrong metric)
    val execs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val multi =
      try {
        val m = graft.ext.Drift.psiMulti(li, cur, cols, bins = 10)
        val rows = m.collect()
        // listener delivery is async — wait for the expected 2, then a
        // grace beat to catch overshoot
        val deadline = System.currentTimeMillis() + 10000
        while (execs.get() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        Thread.sleep(500)
        assert(execs.get() == 2,
          s"psiMulti must cost 2 actions (fused edges + fused binning), got ${execs.get()}")
        rows
      } finally spark.sparkContext.removeSparkListener(listener)
    // value equivalence: each column's slice == the single-column operator
    for (c <- cols) {
      val single = graft.ext.Drift.psi(li, cur, c, bins = 10).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .sortBy(_._1).toSeq
      val slice = multi.filter(_.getString(0) == c)
        .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .sortBy(_._1).toSeq
      assert(slice == single, s"psiMulti diverges from psi on $c")
    }
  }

  test("drift: psiCategoricalMulti == per-column psiCategorical; fencesMulti == fences") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cur = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val multi = graft.ext.Drift.psiCategoricalMulti(docs, cur,
      Seq("lang", "source"), maxCategories = 3).collect()
    for (c <- Seq("lang", "source")) {
      val single = graft.ext.Drift.psiCategorical(docs, cur, c, maxCategories = 3)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      val slice = multi.filter(_.getString(0) == c)
        .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).sortBy(_._1).toSeq
      assert(slice == single, s"psiCategoricalMulti diverges on $c")
    }
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val fm = graft.ext.Outliers.iqrFencesMulti(li, Seq("l_quantity", "l_tax"))
    assert(fm("l_quantity") == graft.ext.Outliers.iqrFences(li, "l_quantity"))
    assert(fm("l_tax") == graft.ext.Outliers.iqrFences(li, "l_tax"))
  }

  test("sessions: gap-timeout grouping incl. exact-boundary split") {
    val us = 1000000L // 1s in micros
    def ns(sec: Long) = sec * 1000000000L
    val ev = Seq(
      (1L, ns(0), 1.0), (1L, ns(10), 2.0),   // session A: 0..10s
      (1L, ns(10 + 60), 4.0),                // EXACTLY gap later → touching
                                             // windows MERGE (session_window
                                             // contract: split needs > gap)
      (1L, ns(10 + 60 + 61), 8.0),           // 61s later → NEW session
      (2L, ns(5), 16.0)                      // other user
    ).toDF("user_id", "ts", "value")
    val got = graft.ext.Sessions.sessionize(ev, "user_id", "ts", "value", gap = "60 seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, (10 + 60 + 60) * us, 3L, 7.0),
      (1L, 131L * us, (131 + 60) * us, 1L, 8.0),
      (2L, 5L * us, (5 + 60) * us, 1L, 16.0)))
  }

  test("sampling: keepTopFraction exact and approximate paths") {
    val d = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "score")
    val exact = graft.ext.Sampling.keepTopFraction(d, "score", 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    // quantile_cont(0.75) over 1..100 = 75.25 → keep 76..100
    assert(exact == (76L to 100L).toSet)
    val approx = graft.ext.Sampling.keepTopFraction(d, "score", 0.25, approximate = true)
      .count()
    assert(approx >= 20 && approx <= 30) // sketch tolerance
    assert(graft.ext.Sampling.keepTopFraction(d, "score", 1.0).count() == 100)
    // null scores are never "in the top fraction" — dropped at EVERY
    // fraction including 1.0 (continuity; r6 ADVICE)
    val withNull = d.select(col("id"),
      when(col("id") <= 10, col("score")).otherwise(lit(null)).as("score"))
    assert(graft.ext.Sampling.keepTopFraction(withNull, "score", 1.0).count() == 10)
    // quantile_cont(0.5) over 1..10 = 5.5 → keep 6..10
    assert(graft.ext.Sampling.keepTopFraction(withNull, "score", 0.5).count() == 5)
  }

  test("clustering: kMeans deterministic under repartition, assigns all rows") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c1 = graft.ext.Clustering.kMeansFit(emb, "vec_id", "embedding", k = 4,
      iters = 3, seed = 7)
    val c2 = graft.ext.Clustering.kMeansFit(emb.repartition(13), "vec_id",
      "embedding", k = 4, iters = 3, seed = 7)
    // fixed-point accumulation ⇒ bit-identical centroids at any parallelism
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val assigned = graft.ext.Clustering.kMeansAssign(emb, "vec_id", "embedding", c1)
    assert(assigned.count() == 500)
    assert(assigned.select("cluster").distinct().count() <= 4)
    // every cluster centroid should be strictly better than random: the
    // within-cluster dispersion after 3 rounds < initial single-centroid fit
    val k1 = graft.ext.Clustering.kMeansFit(emb, "vec_id", "embedding", k = 1,
      iters = 1, seed = 7)
    def sse(cents: Array[Array[Double]]): Double = {
      val a = graft.ext.Clustering.kMeansAssign(emb, "vec_id", "embedding", cents)
        .join(emb, Seq("vec_id"))
        .select(col("cluster"), col("embedding"))
        .collect()
      a.map { r =>
        val c = cents(r.getInt(0))
        r.getSeq[Float](1).zipWithIndex.map { case (x, i) =>
          val d = x - c(i); d * d
        }.sum
      }.sum
    }
    assert(sse(c1) < sse(k1), "4 clusters must fit tighter than 1")
  }

  test("clustering: semanticDedupKMeans keeps min-id representative per near-dup group") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val kept = graft.ext.Clustering.semanticDedupKMeans(emb, "vec_id",
      "embedding", k = 8, threshold = 0.45, iters = 5, seed = 42)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.size < 500, "threshold 0.45 must remove something at sf0.001")
    // within-cluster blocking can only MISS pairs vs the brute path — the
    // removed set must be a subset of brute SemDeDup's removals
    val bruteKept = graft.ext.Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.45, useLsh = false)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val removedKm = (0L until 500L).toSet -- keptIds
    val removedBrute = (0L until 500L).toSet -- bruteKept
    assert(removedKm.subsetOf(removedBrute),
      s"k-means blocking removed ids not in the brute removal set: ${removedKm -- removedBrute}")
  }

  test("classifier train: separable synthetic set reaches high accuracy, deterministic") {
    // two disjoint vocabularies ⇒ linearly separable in hashed space
    val docs = (0 until 200).map { i =>
      if (i % 2 == 0) (i.toLong, "good clean prose text quality writing", 1)
      else (i.toLong, "spam junk click buy cheap pills", 0)
    }.toDF("id", "text", "y")
    val w = graft.ext.ClassifierTrain.trainLogistic(docs, "text",
      col("y") === 1, dim = 64, iters = 30, lr = 10.0, momentum = 0.9)
    val acc = docs.select(
        graft.ext.ClassifierTrain.score(col("text"), w).as("p"), col("y"))
      .collect().map(r => if ((r.getDouble(0) >= 0.5) == (r.getInt(1) == 1)) 1 else 0)
      .sum / 200.0
    assert(acc == 1.0, s"separable data must fit exactly, got $acc")
    // fixed-point gradient sums ⇒ identical weights at any parallelism
    val w2 = graft.ext.ClassifierTrain.trainLogistic(docs.repartition(13),
      "text", col("y") === 1, dim = 64, iters = 30, lr = 10.0, momentum = 0.9)
    assert(w.toSeq == w2.toSeq)
    // null labels are excluded, not zero-filled
    val withNull = docs.withColumn("y",
      when(col("id") < 100, col("y")).otherwise(lit(null)))
    val w3 = graft.ext.ClassifierTrain.trainLogistic(withNull, "text",
      when(col("y").isNotNull, col("y") === 1), dim = 64, iters = 5, lr = 10.0)
    assert(w3.length == 65)
  }

  test("corpus diff: status partition and summary counts") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c CHANGED"), (4L, "d"), (5L, "e"))
      .toDF("id", "text")
    val got = graft.ext.CorpusDiff.diff(oldSnap, newSnap, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "removed"), (2L, "unchanged"), (3L, "changed"),
      (4L, "unchanged"), (5L, "added")))
    val sm = graft.ext.CorpusDiff.summary(oldSnap, newSnap, "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sm == Map("removed" -> 1L, "unchanged" -> 2L, "changed" -> 1L,
      "added" -> 1L))
    // compareCols subset: ignoring text ⇒ content changes invisible
    val byId = graft.ext.CorpusDiff.diff(
      oldSnap.withColumn("meta", lit("x")), newSnap.withColumn("meta", lit("x")),
      "id", Seq("meta"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(byId(3L) == "unchanged")
  }

  test("text: unigramPerplexity matches a hand-computed tiny LM") {
    val docs = Seq((1L, "a a b"), (2L, "c"), (3L, "  "), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // corpus tokens: a,a,b,c → total 4; vocab(top-2 by cnt desc, tok asc) =
    // a(2), b(1); c is OOV. addK=0.5, denom = 4 + 0.5*3 = 5.5
    val got = graft.ext.TextAnalysis.unigramPerplexity(docs, "doc_id", "text",
      vocabSize = 2, addK = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).sortBy(_._1)
    val pa = (2 + 0.5) / 5.5; val pb = (1 + 0.5) / 5.5; val poov = 0.5 / 5.5
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(got(0) == ((1L, 3L, Some(r4(-(2 * math.log(pa) + math.log(pb)) / 3)))))
    assert(got(1) == ((2L, 1L, Some(r4(-math.log(poov))))))
    assert(got(2) == ((3L, 0L, None)), "blank doc: zero tokens, null entropy")
    assert(got(3) == ((4L, 0L, None)), "null doc: zero tokens, null entropy")
  }

  test("sampling: shuffleByKey is deterministic and partition-independent") {
    val d = (0L until 2000L).map(i => (i, s"doc $i")).toDF("id", "text")
    val a = graft.ext.Sampling.shuffleByKey(d, "id", seed = 3).select("id")
      .collect().map(_.getLong(0)).toSeq
    val b = graft.ext.Sampling.shuffleByKey(d.repartition(17), "id", seed = 3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(a == b, "order must not depend on input partitioning")
    assert(a != a.sorted, "hash order must differ from id order")
    assert(a.toSet == (0L until 2000L).toSet)
  }

  test("dedup: cutDuplicatedSpans works when the id column is named 'id'") {
    // regression: the range join used a bare col("id") that collided with
    // an input column of the same name (AMBIGUOUS_REFERENCE)
    val d = Seq((1L, "a b c d e"), (2L, "x y a b c d w z")).toDF("id", "text")
    val out = Dedup.cutDuplicatedSpans(d, "id", "text", k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "a b c d e")
    assert(out(2L) == "x y w z")
  }

  test("clustering: kMeansFit accepts array<double> vectors") {
    // regression: centroid init collected with getSeq[Float] and threw
    // ClassCastException on a double-typed embedding column
    val d = Seq((1L, Array(0.0, 0.0)), (2L, Array(0.1, 0.0)),
      (3L, Array(9.0, 9.0)), (4L, Array(9.1, 9.0))).toDF("id", "v")
    assert(d.schema("v").dataType.simpleString == "array<double>")
    val cents = graft.ext.Clustering.kMeansFit(d, "id", "v", k = 2, iters = 3)
    assert(cents.length == 2)
    val sorted = cents.sortBy(_.sum)
    assert(math.abs(sorted(0)(0) - 0.05) < 1e-6)
    assert(math.abs(sorted(1)(0) - 9.05) < 1e-6)
  }

  test("clustering: semanticDedupKMeans shards clusters larger than the cap") {
    // regression: bucketedPairs DROPS over-cap buckets, so a cluster
    // bigger than maxClusterPairs silently skipped dedup entirely —
    // exactly where most duplicates live at corpus scale
    val d = (0L until 60L).map(i => (i, Array(1.0f, 0.0f, (i % 3) * 1e-4f)))
      .toDF("id", "v")
    val kept = graft.ext.Clustering.semanticDedupKMeans(
      d, "id", "v", k = 1, threshold = 0.99, iters = 2, maxClusterPairs = 10L)
    val n = kept.count()
    assert(n < 60L, s"sharded blocking must still dedup inside a 60-id cluster (kept $n)")
    assert(n >= 1L)
  }

  test("corpus diff: a value moving between columns reports changed") {
    // regression: xxhash64 skips null fields, so (null, x) and (x, null)
    // hashed identically and a moved value read as "unchanged"
    val oldSnap = Seq((1L, null.asInstanceOf[String], "x"), (2L, "k", "v"))
      .toDF("id", "title", "subtitle")
    val newSnap = Seq((1L, "x", null.asInstanceOf[String]), (2L, "k", "v"))
      .toDF("id", "title", "subtitle")
    val got = graft.ext.CorpusDiff.diff(oldSnap, newSnap, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "changed")
    assert(got(2L) == "unchanged")
  }

  test("text: unigramPerplexity on an all-blank corpus returns zero-token rows") {
    // regression: sum over the empty token-count frame is null → NPE
    val docs = Seq((1L, "   "), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.unigramPerplexity(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L, true), (2L, 0L, true)))
  }

  test("vector sums: non-finite components and weights fail loudly") {
    import graft.functions.{VectorSumFixedPoint, VectorWeightedSumFixedPoint}
    // an Inf component would silently saturate the fixed-point cell
    val inf = Seq(Tuple1(Array(1.0, Double.PositiveInfinity))).toDF("v")
    val e1 = intercept[Exception] {
      inf.agg(VectorSumFixedPoint.of(col("v"))).collect()
    }
    assert(e1.getMessage.contains("non-finite"))
    // Inf weight × 0 component is NaN AFTER the old checks → silent 0
    val wv = Seq((Double.PositiveInfinity, Array(0.0, 1.0))).toDF("w", "v")
    val e2 = intercept[Exception] {
      wv.agg(VectorWeightedSumFixedPoint.of(col("w"), col("v"))).collect()
    }
    assert(e2.getMessage.contains("non-finite"))
    // NaN weight still means "skip row" (SQL aggregate null semantics)
    val nanW = Seq((Double.NaN, Array(1.0, 2.0)), (2.0, Array(1.0, 2.0)))
      .toDF("w", "v")
    val s = nanW.agg(VectorWeightedSumFixedPoint.of(col("w"), col("v")))
      .head().getSeq[Long](0)
    assert(s == Seq(2000000L, 4000000L))
  }

  test("text: tfidfTopK ranks by smoothed-idf weight, blank docs absent") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // N=3; idf(a)=ln(4/3)+1, idf(b)=idf(c)=ln(2)+1; doc1 n=3, doc2 n=2
    assert(got.toSeq == Seq(
      (1L, 1L, "a", 0.858455), (1L, 2L, "b", 0.564382),
      (2L, 1L, "c", 0.846574), (2L, 2L, "a", 0.643841)))
    // minDf=2 drops the singleton tokens b and c
    val rare = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 5, minDf = 2L)
      .select("token").distinct().collect().map(_.getString(0))
    assert(rare.toSeq == Seq("a"))
  }

  test("heavy hitters: two-pass result equals the exact groupBy plan") {
    import graft.ext.HeavyHitters
    // zipfian-ish: item i appears (40 - i) times, i = 0..39 → N = 820
    val rows = (0 until 40).flatMap(i => Seq.fill(40 - i)(s"w$i"))
    val df = new scala.util.Random(7).shuffle(rows).toDF("w")
      .repartition(13) // partial sketches must merge correctly
    for (phi <- Seq(0.01, 0.03); cap <- Seq(0, 8, 300)) {
      // cap=8 < 1/phi must be rejected, not silently lossy
      if (cap == 8) {
        intercept[IllegalArgumentException] {
          HeavyHitters.frequentItems(df, "w", phi, cap)
        }
      } else {
        val got = HeavyHitters.frequentItems(df, "w", phi, cap)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val want = df.groupBy("w").count()
          .filter(col("count") >= lit(phi) * lit(820L))
          .orderBy(col("count").desc, col("w"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        assert(got.toSeq == want.toSeq, s"phi=$phi cap=$cap")
        assert(got.nonEmpty)
      }
    }
    // empty / all-null input → zero rows, not a crash
    val empty = Seq.empty[String].toDF("w")
    assert(HeavyHitters.frequentItems(empty, "w", 0.1).count() == 0L)
  }

  test("token ngrams: native expression equals the HOF formulation") {
    import graft.functions.HashFunctions
    val docs = Seq("a b c d", "x y", "solo", "", "a  b").toDF("text")
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col("text")))
    val native = docs.select(explode(HashFunctions.tokenNgrams(toks, 2)).as("g"))
      .collect().map(_.getString(0)).sorted
    val hof = docs.select(explode(
        when(size(toks) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(toks) - 1),
            i => concat_ws(" ", slice(toks, i, lit(2)))))).as("g"))
      .collect().map(_.getString(0)).sorted
    assert(native.toSeq == hof.toSeq)
    assert(native.toSeq == Seq("a b", "a b", "b c", "c d", "x y"))
    // trigrams keep repeats (multiset, unlike WordShingles)
    val tri = Seq("p q p q p").toDF("text")
      .select(explode(HashFunctions.tokenNgrams(
        TextAnalysis.tokens(col("text")), 3)).as("g"))
      .collect().map(_.getString(0))
    assert(tri.toSeq == Seq("p q p", "q p q", "p q p"))
  }

  test("heavy hitters by group: per-group thresholds match the exact plan") {
    import graft.ext.HeavyHitters
    // group a: w0 hot (30/60), tail uniform; group b: different hot item
    val rows = Seq.fill(30)(("a", "hot_a")) ++ (0 until 30).map(i => ("a", s"t$i")) ++
      Seq.fill(10)(("b", "hot_b")) ++ (0 until 40).map(i => ("b", s"u$i"))
    val df = new scala.util.Random(11).shuffle(rows).toDF("g", "w").repartition(9)
    val got = HeavyHitters.frequentItemsByGroup(df, "g", "w", phi = 0.1, capacity = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // a: N=60, cut 6 → only hot_a(30); b: N=50, cut 5 → only hot_b(10)
    assert(got.toSeq == Seq(("a", "hot_a", 30L, 60L), ("b", "hot_b", 10L, 50L)))
    // agrees with the exact groupBy plan at a finer phi
    val phi = 0.02
    val exact = df.groupBy("g", "w").count()
      .join(df.groupBy("g").count().withColumnRenamed("count", "n"), Seq("g"))
      .filter(col("count") >= lit(phi) * col("n"))
      .orderBy(col("g"), col("count").desc, col("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val fine = HeavyHitters.frequentItemsByGroup(df, "g", "w", phi, capacity = 256)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(fine.toSeq == exact.toSeq)
  }

  test("misra-gries sketch: guarantee holds under tight capacity") {
    import graft.functions.MisraGriesSketch
    // one hitter (freq 500 of N=1500) in a sea of 1000 singletons; the
    // sketch guarantees presence of any item with freq > N/(cap+1):
    // cap=15 → bound 93.75 < 500
    val rows = Seq.fill(500)("hot") ++ (0 until 1000).map(i => s"t$i")
    val df = new scala.util.Random(3).shuffle(rows).toDF("w").repartition(7)
    val cand = df.agg(MisraGriesSketch.of(col("w"), 15).as("c"))
      .select(explode(col("c")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(cand.length <= 15)
    val hot = cand.find(_._1 == "hot")
    assert(hot.isDefined, "heavy item must survive the sketch")
    assert(hot.get._2 <= 500L && hot.get._2 >= 500L - 1500L / 16L)
  }
}
