package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.checks.{Check, ColumnCheck}
import graft.errors.ValidationResult
import graft.hypothesis.Hypothesis
import graft.inference.InferSchema
import graft.schema._

/** extension gates: exact/near-dup/semantic dedup + persisted fingerprint/MinHash stores.
  *
  * One slice of the driver-contract gate registry (r16-verdict #6: the
  * registry was one 4.9k-line object; the split is purely mechanical —
  * every gate body and oracle is verbatim, combined unchanged in
  * [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]). */
private[graft] object GatesDedup {
  import GateSupport._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      ext.Dedup.exactStats(t(s, d, "documents"), Seq("text"))),
    "dedup_minhash" -> ((s, d) =>
      ext.Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .orderBy("id_a", "id_b")),
    "dedup_minhash_sampled" -> ((s, d) =>
      // r12 (verdict #4): the near-dup family's 10x oracle point. The
      // all-pairs DuckDB re-derivation is intractable at sf0.1 over the
      // full corpus (the engine's own scale argument), so engine AND
      // oracle run on the same deterministic 1-in-10 sub-corpus
      // (doc_id % 10 = 3) — at sf0.1 the sampled oracle costs what the
      // full sf0.01 oracle does, giving the banded pipeline a tractable
      // 10x correctness point on real 10x documents
      ext.Dedup.minhashPairs(
        t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text", shingleK = 3, numHashes = 64, bands = 16,
        threshold = 0.8).orderBy("id_a", "id_b")),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ext.Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxDf = 100000L)
        .orderBy("id_a", "id_b")),
    "dedup_simhash" -> ((s, d) =>
      // oracle: golden pin (deterministic seeded pipeline; see oracleSql)
      ext.Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),
    "dedup_embedding_cosine" -> ((s, d) =>
      ext.Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, useLsh = false)
        .orderBy("id_a", "id_b")),
    "dedup_cluster" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxDf = 100000L)
      val comp = ext.Dedup.clusterPairs(pairs)
      docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),
    "dedup_pipeline" -> ((s, d) =>
      // round-4: exact-collapse → ngram-jaccard pairs → cluster → keep reps
      ext.Dedup.nearDupPipeline(t(s, d, "documents"), "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxDf = 100000L)
        .select("doc_id").orderBy("doc_id")),
    "dedup_cluster_sampled" -> ((s, d) => {
      // r13: the clustering leg's 10× oracle point — the full-corpus
      // transitive-closure oracle is intractable at sf0.1 (VERIFY_SF01
      // timeout class), so engine AND oracle run on the same
      // deterministic 1-in-10 sub-corpus, the dedup_minhash_sampled
      // pattern: real 10× documents, sf0.01-sized closure
      val docs = t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) === 3)
      val pairs = ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxDf = 100000L)
      val comp = ext.Dedup.clusterPairs(pairs)
      docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),
    "dedup_pipeline_sampled" -> ((s, d) =>
      // r13: the full exact-collapse → pairs → cluster → keep-reps
      // pipeline's 10× oracle point on the same 1-in-10 sub-corpus
      ext.Dedup.nearDupPipeline(
        t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) === 3),
        "doc_id", "text", shingleK = 3, threshold = 0.5, maxDf = 100000L)
        .select("doc_id").orderBy("doc_id")),
    "dedup_drop_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxDf = 100000L)
      ext.Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_lines" -> ((s, d) => {
      // round-4: C4/RefinedWeb cross-document line dedup. The documents
      // table is single-line, so the gate first reflows each text into
      // deterministic 10-token lines; boilerplate lines shared across
      // documents must survive only at their first (doc_id, pos).
      val toks = ext.TextAnalysis.tokens(col("text"))
      val nChunks = greatest(ceil(size(toks) / lit(10.0)).cast("int"), lit(1))
      val lined = array_join(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))), "\n")
      val reflowed = t(s, d, "documents").select(col("doc_id"), lined.as("text"))
      ext.Dedup.dedupLinesAcross(reflowed, "doc_id", "text").orderBy("doc_id")
    }),
    "dedup_decontaminate" -> ((s, d) => {
      // round-4: benchmark decontamination — every 50th document plays the
      // benchmark; corpus docs sharing any word 3-gram with it are removed
      val docs = t(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0).select(col("text"))
      ext.Dedup.decontaminate(docs, "doc_id", "text", bench, "text", ngram = 3)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_semantic_text" -> ((s, d) => {
      // round-5: model-free semantic dedup on raw text (feature-hashed
      // vectors → cosine pairs → cluster → keep representatives). Gate
      // emits the DROPPED ids (small, pinnable); brute pair path so the
      // result is exact. oracle: golden pin; semantics in ExtSpec.
      val docs = t(s, d, "documents")
      val kept = ext.Dedup.semanticDedupText(docs, "doc_id", "text",
        dim = 256, threshold = 0.9, useLsh = false).select("doc_id")
      docs.join(kept, Seq("doc_id"), "left_anti").select("doc_id").orderBy("doc_id")
    }),
    "dedup_fp_store" -> ((s, d) => {
      // round-8: persisted fingerprint store — corpus reduces once to
      // (fps generations + bloom.bin + manifest); batch 2 APPENDS its novel
      // fingerprints; batch 3 scrubs against the store WITHOUT reading any
      // corpus text and must drop batch-1 AND batch-2 content. The oracle
      // recomputes membership as plain normalized-text NOT IN over the
      // union — exact row semantics survive both persistence and the
      // bloom prefilter (FP confirmation is exact by construction).
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft-fpstore").toString
      ext.FingerprintStore.build(docs, "text", dir)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft fp-store tail")).as("text"))
      ext.FingerprintStore.append(batch2, "text", dir)
      val batch3 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)          // corpus re-crawl
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)        // batch-2 re-crawl
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(col("text"), lit(" graft fp-store tail")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 2)        // genuinely new
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(col("text"), lit(" fresh crawl content")).as("text")))
      ext.FingerprintStore.scrub(batch3, "text", dir)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_fp_retract" -> ((s, d) => {
      // r14: fingerprint-store RETRACTION — content removed from the
      // training corpus stops suppressing re-crawls of the same text the
      // moment the manifest lands (the bloom prefilter still hits until
      // compaction rebuilds it, costing only the exact confirm); compact
      // is the physical-erasure point. The scrub verdict is
      // membership-only, so masked ≡ healed by construction — required
      // in-gate along with retirement.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft-fp-retract").toString
      ext.FingerprintStore.build(docs, "text", dir)
      val nR = ext.FingerprintStore.retract(
        docs.filter(pmod(col("doc_id"), lit(10)) === 1), "text", dir)
      require(nR > 0L, "retraction set empty — gate precondition broken")
      // full re-crawl under shifted ids: re-crawls of retracted content
      // must pass, everything else must drop
      val recrawl = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("text"))
      def kept() = ext.FingerprintStore.scrub(recrawl, "text", dir)
      val masked = kept().select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      ext.FingerprintStore.compact(s, dir)
      require(ext.FingerprintStore.retractionCount(s, dir) == 0L,
        "compaction must retire the retractions")
      val healed = kept()
      require(healed.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq == masked,
        "post-compaction scrub diverged from the masked scrub")
      healed.select("doc_id").orderBy("doc_id")
    }),
    "dedup_store_retract" -> ((s, d) => {
      // r14: MinHash-store RETRACTION — near-dup suppression by retracted
      // corpus docs ends the moment the tombstones land (zero store bytes
      // rewritten); compactMinHashStore erases physically, recomputes the
      // bucket-count snapshot from the scrubbed rows and retires the
      // tombstones. Membership-only verdict → masked ≡ healed, required
      // in-gate.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft-mh-retract").toString
      ext.Dedup.buildMinHashStore(docs, "doc_id", "text", dir)
      val nR = ext.Dedup.retractFromMinHashStore(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0).select("doc_id"),
        "doc_id", dir)
      require(nR > 0L, "retraction set empty — gate precondition broken")
      val inc = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graft r14 retract tail")).as("text"))
      def kept() = ext.Dedup.dropExistingNearDupStore(inc, "doc_id", "text", dir)
      val masked = kept().select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      ext.Dedup.compactMinHashStore(s, dir)
      require(ext.Dedup.minhashRetractionCount(s, dir) == 0L,
        "compaction must retire the retractions")
      val healed = kept()
      require(healed.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq == masked,
        "post-compaction scrub diverged from the masked scrub")
      healed.select("doc_id").orderBy("doc_id")
    }),
    "dedup_fp_compacted" -> ((s, d) => {
      // round-9: fingerprint-store compaction — same store construction,
      // crawl batch and oracle as dedup_fp_store, with compact() between
      // the append and the scrub: fps files collapse to size-targeted
      // ones and the Bloom filter rebuilds at the manifest geometry.
      // Membership is untouched (the oracle pins it); the in-gate require
      // pins the file collapse.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft-fpstore-c").toString
      ext.FingerprintStore.build(docs, "text", dir)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft fp-store tail")).as("text"))
      ext.FingerprintStore.append(batch2, "text", dir)
      val filesBefore = ext.FingerprintStore.liveFileCount(s, dir)
      ext.FingerprintStore.compact(s, dir)
      require(ext.FingerprintStore.liveFileCount(s, dir) < filesBefore,
        "fps compaction did not collapse files")
      val batch3 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(col("text"), lit(" graft fp-store tail")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 2)
          .select((col("doc_id") + 4000000).as("doc_id"),
            concat(col("text"), lit(" fresh crawl content")).as("text")))
      ext.FingerprintStore.scrub(batch3, "text", dir)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_incremental_bloom" -> ((s, d) => {
      // round-5: incremental ingest — a synthetic "next crawl batch" built
      // from the corpus: exact re-crawls (same id), re-crawls under new ids
      // (same content), and genuinely new content. The Bloom-prefiltered
      // path must drop everything whose normalized text the corpus already
      // holds — row-for-row the plain anti-join semantics.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" graft batch-2 tail")).as("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 2)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      ext.Dedup.dropExistingExactBloom(incoming, docs, "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_incremental_store" -> ((s, d) => {
      // round-8: near-dup scrub served from the PERSISTED MinHash store —
      // corpus shingles/band-rows materialized once, the batch joins the
      // store without ever reading corpus text. Incoming: near-dup
      // re-crawls (tail appended, dropped when J >= 0.8) + genuinely new
      // short docs (kept). Oracle recomputes exact cross-Jaccard in SQL.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft r8 incremental tail")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 3)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(lit("fresh graft content "), col("doc_id")).as("text")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-mhs").toString
      ext.Dedup.buildMinHashStore(docs, "doc_id", "text", tmp)
      ext.Dedup.dropExistingNearDupStore(incoming, "doc_id", "text", tmp)
        .select("doc_id").orderBy("doc_id")
    }),
    "dedup_store_compacted" -> ((s, d) => {
      // round-9: store COMPACTION — same corpus/batch/oracle as
      // dedup_incremental_store, but the store accumulates three file
      // generations (build + 2 appends), then compact() collapses the
      // count-delta files into one snapshot and rewrites rows/shingles.
      // In-gate requires pin (a) the file collapse actually happened and
      // (b) the compacted serve is row-identical to an uncompacted
      // single-build store; the DuckDB oracle then pins the absolute
      // semantics. This is the append-heavy deployment's answer to the
      // object-store small-files listing cost.
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" graft r8 incremental tail")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 3)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(lit("fresh graft content "), col("doc_id")).as("text")))
      val dir = java.nio.file.Files.createTempDirectory("graft-mhsc").toString
      ext.Dedup.buildMinHashStore(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text", dir)
      ext.Dedup.appendToMinHashStore(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text", dir)
      ext.Dedup.appendToMinHashStore(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", dir)
      def files() = ext.Dedup.minhashStoreFileCount(s, dir)
      val filesBefore = files()
      ext.Dedup.compactMinHashStore(s, dir)
      require(files() < filesBefore,
        s"compaction did not collapse files: $filesBefore -> ${files()}")
      val served = ext.Dedup.dropExistingNearDupStore(incoming, "doc_id", "text", dir)
        .select("doc_id")
      val ref = java.nio.file.Files.createTempDirectory("graft-mhsc-ref").toString
      ext.Dedup.buildMinHashStore(docs, "doc_id", "text", ref)
      val uncompacted = ext.Dedup
        .dropExistingNearDupStore(incoming, "doc_id", "text", ref).select("doc_id")
      require(served.collect().map(_.getLong(0)).sorted.toSeq ==
        uncompacted.collect().map(_.getLong(0)).sorted.toSeq,
        "compacted serve diverged from the uncompacted store")
      served.orderBy("doc_id")
    }),
    "dedup_spans" -> ((s, d) =>
      // round-5: span-level cross-doc duplicate ranges (hash-based
      // suffix-array re-expression), 8-token spans in ≥ 2 documents
      ext.Dedup.duplicatedSpanRanges(t(s, d, "documents"), "doc_id", "text",
        k = 8, minDocs = 2).orderBy("doc_id", "start_pos")),
    "dedup_span_rewrite" -> ((s, d) =>
      // round-7: the ExactSubstr REWRITE step — every duplicated 8-token
      // span keeps its first (doc, pos) occurrence corpus-wide; all other
      // occurrences are cut from their documents
      ext.Dedup.cutDuplicatedSpans(t(s, d, "documents"), "doc_id", "text",
        k = 8, minDocs = 2).orderBy("doc_id")),
    "dedup_semantic" -> ((s, d) =>
      // round-5: SemDeDup-style embedding-space dedup (brute pair path so
      // the oracle is exact; the LSH path is the scale default)
      ext.Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, useLsh = false).select("vec_id").orderBy("vec_id")),
    "dedup_semantic_kmeans" -> ((s, d) => {
      // round-7: SemDeDup as published (k-means blocking, within-cluster
      // cosine pairs only). Gate output = the REMOVED ids (tiny exact pin);
      // survivors = embeddings minus these
      val emb = t(s, d, "embeddings")
      val kept = ext.Clustering.semanticDedupKMeans(emb, "vec_id", "embedding",
        k = 8, threshold = 0.45, iters = 5, seed = 42)
      emb.join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id").orderBy("vec_id")
    }),

    // ---- extensions: deterministic sampling / split assignment ----
  )

  def oracleSql: Map[String, String] = Map(
    "dedup_simhash" ->
      ("SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS INTEGER) AS hamming FROM (" +
        "SELECT * FROM (VALUES (0, 82, 0), (8, 12, 2), (8, 120, 2), (8, 360, 1), (12, 360, 1), (16, 369, 2), (26, 176, 0), (45, 487, 2), (56, 157, 1), (77, 459, 2), (99, 174, 1), (110, 242, 3), (110, 467, 2), (119, 425, 3), (120, 360, 3), (144, 161, 2), (197, 246, 3), (211, 404, 2), (229, 263, 2), (245, 401, 3), (260, 391, 0), (261, 296, 3), (270, 329, 1), (306, 387, 3), (349, 411, 0), (387, 457, 3), (474, 498, 3)) v(id_a, id_b, hamming) WHERE (SELECT count(*) FROM lineitem) < 10000 " +
        "UNION ALL SELECT * FROM (VALUES (8, 245, 2), (45, 413, 3), (58, 293, 0), (61, 185, 0), (70, 447, 1), (76, 102, 2), (98, 290, 2), (107, 387, 1), (120, 332, 3), (166, 323, 3), (251, 473, 3), (267, 413, 2), (285, 301, 0), (326, 457, 2), (393, 420, 0), (435, 486, 3), (458, 462, 2)) v(id_a, id_b, hamming) WHERE (SELECT count(*) FROM lineitem) >= 10000 AND (SELECT count(*) FROM lineitem) < 100000 " +
        "UNION ALL SELECT * FROM (VALUES (7, 1433, 3), (7, 3918, 3), (7, 4902, 3), (11, 4686, 1), (12, 2339, 3), (12, 4381, 3), (17, 3383, 2), (19, 3587, 3), (22, 4596, 3), (26, 66, 3), (26, 67, 3), (26, 135, 2), (26, 3948, 2), (28, 3006, 3), (36, 1874, 3), (36, 4049, 3), (37, 3162, 2), (38, 2616, 2), (43, 4274, 3), (48, 3900, 1), (48, 4865, 3), (63, 2932, 2), (66, 135, 3), (66, 190, 3), (66, 494, 3), (67, 135, 3), (67, 190, 3), (67, 816, 3), (67, 1626, 3), (67, 2339, 3), (67, 3948, 3), (68, 1356, 3), (71, 3739, 3), (72, 4099, 1), (74, 951, 3), (87, 4037, 3), (98, 954, 2), (110, 3197, 3), (117, 2599, 3), (117, 4667, 3), (118, 1861, 3), (122, 3839, 3), (126, 1282, 1), (127, 550, 3), (128, 2773, 2), (137, 3901, 3), (139, 3540, 3), (141, 492, 3), (141, 1265, 3), (141, 1731, 3), (141, 3288, 3), (141, 4068, 1), (143, 1805, 2), (143, 4596, 3), (160, 1389, 2), (170, 3680, 3), (173, 1432, 3), (175, 3839, 3), (179, 2523, 0), (182, 4013, 2), (190, 3589, 3), (216, 3049, 1), (216, 4285, 3), (221, 4344, 2), (233, 351, 3), (235, 2135, 2), (235, 2423, 3), (239, 574, 3), (243, 1401, 3), (246, 491, 0), (247, 3576, 3), (248, 1273, 2), (254, 630, 3), (254, 3460, 1), (257, 2307, 1), (268, 2542, 0), (282, 443, 2), (292, 2301, 3), (297, 2624, 1), (301, 2567, 3), (306, 3259, 3), (307, 4756, 0), (333, 1749, 3), (339, 2714, 3), (340, 459, 2), (340, 1626, 3), (340, 2880, 3), (353, 2673, 3), (353, 3117, 3), (353, 4093, 3), (364, 404, 3), (373, 1395, 3), (379, 771, 3), (381, 2978, 2), (384, 1682, 2), (393, 3644, 3), (421, 2350, 3), (425, 1071, 1), (455, 933, 2), (455, 4017, 1), (459, 4223, 3), (472, 2689, 1), (475, 1086, 2), (475, 3392, 3), (475, 4381, 3), (479, 4932, 3), (517, 1433, 3), (517, 3733, 3), (517, 4327, 3), (529, 2433, 3), (533, 3081, 3), (540, 630, 1), (553, 971, 3), (553, 2451, 0), (555, 1819, 1), (561, 895, 0), (562, 3875, 3), (570, 4941, 2), (610, 4092, 1), (615, 779, 2), (617, 2333, 2), (624, 4193, 3), (627, 2690, 2), (636, 1854, 3), (644, 1204, 2), (646, 1783, 0), (653, 2320, 2), (669, 1641, 0), (669, 1673, 1), (670, 3378, 1), (684, 1590, 1), (684, 2259, 3), (704, 1402, 3), (706, 1033, 2), (716, 1887, 1), (718, 1519, 3), (718, 1626, 2), (718, 3577, 3), (724, 4259, 2), (729, 1039, 2), (732, 2684, 1), (752, 1405, 3), (779, 2126, 3), (789, 2225, 1), (800, 3828, 2), (803, 1670, 1), (809, 2088, 3), (816, 2339, 2), (816, 2768, 3), (820, 3264, 3), (830, 4719, 0), (837, 3327, 3), (844, 2796, 3), (844, 3888, 3), (862, 1200, 3), (862, 1370, 3), (862, 2834, 3), (862, 3946, 3), (862, 4670, 0), (871, 1357, 3), (874, 4273, 1), (894, 2629, 3), (898, 2796, 3), (900, 4743, 3), (901, 2008, 2), (908, 4155, 1), (928, 4213, 3), (932, 2302, 2), (932, 3875, 3), (932, 4556, 0), (933, 1985, 3), (933, 4017, 3), (938, 2926, 2), (954, 1017, 3), (954, 1321, 3), (954, 1508, 3), (954, 1832, 3), (971, 2451, 3), (983, 3432, 3), (985, 1241, 3), (996, 2305, 0), (1003, 3161, 2), (1009, 2372, 3), (1013, 4541, 3), (1025, 3764, 3), (1041, 4446, 0), (1053, 1882, 2), (1053, 4677, 2), (1054, 1130, 3), (1054, 1754, 3), (1055, 1394, 3), (1062, 2317, 3), (1073, 4937, 3), (1081, 1373, 3), (1086, 1289, 3), (1086, 3929, 2), (1086, 4381, 3), (1090, 3022, 0), (1093, 4015, 3), (1101, 4438, 2), (1102, 3115, 2), (1105, 4327, 3), (1112, 2230, 3), (1113, 1582, 2), (1113, 1701, 3), (1118, 1260, 3), (1118, 2129, 3), (1130, 1432, 3), (1132, 1630, 3), (1154, 3759, 2), (1157, 4322, 3), (1165, 4437, 0), (1166, 4828, 1), (1171, 1427, 2), (1174, 1931, 3), (1177, 3387, 1), (1181, 2173, 3), (1181, 2649, 2), (1186, 3468, 3), (1200, 3946, 2), (1200, 4670, 3), (1205, 1609, 3), (1237, 4246, 0), (1242, 3589, 3), (1265, 3854, 3), (1265, 4068, 2), (1267, 4740, 0), (1277, 1433, 2), (1285, 2766, 0), (1285, 3946, 3), (1290, 3624, 1), (1294, 2192, 3), (1310, 3100, 3), (1316, 1817, 1), (1321, 1585, 2), (1321, 1731, 3), (1321, 2225, 3), (1321, 2567, 3), (1321, 2788, 2), (1321, 3781, 3), (1321, 4609, 3), (1321, 4899, 3), (1324, 1583, 3), (1332, 3216, 3), (1333, 1986, 3), (1340, 2834, 3), (1360, 2428, 0), (1363, 2527, 3), (1363, 3879, 3), (1363, 4245, 2), (1370, 3450, 3), (1370, 4670, 3), (1371, 2427, 3), (1381, 1680, 3), (1390, 4391, 2), (1395, 2328, 1), (1401, 2421, 3), (1401, 4163, 3), (1401, 4591, 3), (1401, 4667, 3), (1415, 2798, 1), (1416, 4812, 3), (1432, 1729, 3), (1433, 1918, 3), (1436, 1456, 3), (1440, 4016, 1), (1443, 2084, 3), (1443, 2565, 3), (1443, 4680, 3), (1445, 4724, 0), (1450, 4542, 0), (1452, 2505, 0), (1458, 3733, 3), (1477, 2521, 1), (1487, 4327, 3), (1519, 1626, 3), (1519, 3464, 3), (1519, 3861, 3), (1535, 3468, 3), (1552, 2223, 3), (1582, 1701, 3), (1582, 4520, 3), (1585, 2567, 3), (1585, 3781, 3), (1590, 2259, 2), (1600, 4650, 1), (1609, 2983, 3), (1609, 4773, 2), (1619, 2875, 0), (1634, 2562, 3), (1641, 1673, 1), (1644, 1874, 3), (1644, 2513, 3), (1644, 4245, 3), (1644, 4792, 3), (1651, 2087, 2), (1658, 1805, 3), (1668, 3243, 3), (1680, 3190, 3), (1688, 4755, 3), (1703, 2534, 3), (1727, 1805, 3), (1731, 2603, 3), (1731, 4609, 2), (1769, 2203, 0), (1772, 3510, 3), (1789, 4483, 3), (1793, 3517, 3), (1824, 1942, 1), (1824, 2221, 0), (1827, 2377, 1), (1834, 3881, 2), (1843, 4795, 2), (1845, 2099, 3), (1858, 2961, 3), (1861, 4634, 3), (1865, 4512, 3), (1874, 2768, 3), (1874, 4049, 2), (1882, 4677, 0), (1897, 3009, 2), (1900, 4153, 0), (1902, 2728, 0), (1905, 3610, 3), (1905, 3870, 2), (1905, 3950, 2), (1910, 1917, 0), (1910, 3562, 0), (1917, 3562, 0), (1918, 2230, 3), (1920, 4942, 1), (1925, 4886, 2), (1935, 3259, 3), (1942, 2221, 1), (1962, 2789, 2), (1970, 2990, 1), (1971, 3956, 3), (1981, 3973, 0), (1988, 2138, 3), (2001, 4376, 3), (2001, 4409, 2), (2004, 2918, 2), (2017, 2265, 3), (2017, 4531, 3), (2018, 3432, 3), (2019, 3038, 1), (2025, 3954, 1), (2057, 4188, 3), (2064, 4003, 2), (2084, 4915, 1), (2089, 4520, 3), (2092, 2578, 3), (2102, 2337, 3), (2106, 3781, 3), (2108, 2612, 1), (2126, 3112, 1), (2135, 4763, 3), (2159, 3269, 1), (2164, 4199, 2), (2173, 4129, 3), (2182, 3447, 2), (2183, 4031, 1), (2225, 3854, 3), (2226, 4225, 2), (2230, 2554, 3), (2241, 2794, 3), (2241, 3954, 3), (2302, 3875, 3), (2302, 4556, 2), (2343, 4030, 3), (2350, 4991, 3), (2361, 2768, 3), (2366, 3166, 2), (2420, 2771, 3), (2423, 3373, 1), (2430, 3212, 3), (2441, 4864, 3), (2460, 3224, 1), (2527, 3879, 2), (2549, 4868, 3), (2567, 3760, 3), (2567, 3854, 3), (2576, 3043, 3), (2583, 3929, 3), (2599, 2789, 3), (2599, 3620, 3), (2624, 3129, 3), (2643, 3956, 2), (2644, 4165, 1), (2672, 2689, 3), (2676, 4317, 0), (2677, 3019, 2), (2677, 3207, 3), (2677, 4181, 3), (2677, 4615, 2), (2681, 2796, 3), (2681, 2797, 3), (2687, 4065, 3), (2700, 3017, 0), (2705, 3015, 0), (2713, 3319, 2), (2714, 4563, 3), (2719, 4189, 1), (2741, 3145, 3), (2741, 4360, 3), (2766, 3946, 3), (2770, 3674, 3), (2783, 3263, 3), (2788, 4082, 3), (2788, 4899, 3), (2797, 3245, 3), (2802, 2824, 3), (2815, 3647, 3), (2821, 3290, 3), (2834, 4670, 3), (2859, 3106, 0), (2862, 3329, 2), (2863, 4095, 2), (2865, 3992, 2), (2900, 3091, 0), (2905, 3577, 3), (2913, 4034, 1), (2935, 3631, 3), (2968, 4954, 0), (2971, 3223, 2), (3003, 4936, 3), (3026, 3848, 3), (3027, 3668, 3), (3050, 3577, 3), (3055, 4751, 3), (3055, 4886, 3), (3062, 3354, 2), (3100, 3722, 3), (3120, 3190, 3), (3143, 4304, 3), (3145, 4181, 3), (3151, 3896, 1), (3152, 4771, 1), (3157, 4044, 2), (3161, 4997, 3), (3163, 3398, 1), (3171, 4634, 3), (3175, 3304, 2), (3207, 4615, 3), (3207, 4908, 3), (3223, 3409, 2), (3259, 3556, 2), (3259, 3956, 3), (3259, 4082, 2), (3266, 3345, 2), (3267, 3735, 2), (3279, 4476, 3), (3288, 3760, 3), (3290, 3450, 3), (3290, 3893, 3), (3296, 4073, 3), (3324, 4190, 3), (3346, 3402, 3), (3362, 3555, 0), (3369, 4356, 2), (3391, 4773, 3), (3398, 3446, 3), (3398, 4157, 3), (3412, 4899, 3), (3422, 4785, 2), (3427, 4969, 1), (3442, 4127, 3), (3446, 4531, 3), (3450, 4049, 3), (3464, 4726, 3), (3497, 3715, 3), (3510, 3678, 3), (3524, 3776, 2), (3532, 3646, 3), (3566, 4666, 3), (3592, 4223, 3), (3593, 4332, 3), (3596, 3968, 3), (3605, 4138, 1), (3610, 4763, 3), (3672, 3801, 3), (3702, 4390, 2), (3733, 4132, 3), (3743, 4492, 1), (3747, 4976, 0), (3751, 4545, 3), (3760, 4068, 3), (3788, 4726, 3), (3801, 4376, 3), (3854, 4068, 3), (3870, 3950, 2), (3875, 4384, 3), (3875, 4556, 3), (3875, 4596, 2), (3885, 4132, 1), (3931, 4388, 3), (3942, 4722, 2), (3946, 4670, 3), (3956, 4327, 3), (3962, 4513, 3), (3977, 4350, 2), (4048, 4181, 3), (4048, 4385, 0), (4057, 4179, 2), (4132, 4327, 3), (4146, 4430, 1), (4157, 4718, 3), (4163, 4484, 3), (4181, 4385, 3), (4269, 4303, 3), (4350, 4591, 3), (4414, 4838, 1), (4431, 4548, 3), (4460, 4487, 3), (4466, 4984, 3), (4483, 4812, 3), (4485, 4832, 2), (4488, 4922, 2), (4546, 4847, 3), (4611, 4795, 3), (4667, 4991, 1), (4703, 4903, 3), (4766, 4915, 3), (4833, 4912, 3), (4899, 4913, 3)) v(id_a, id_b, hamming) WHERE (SELECT count(*) FROM lineitem) >= 100000" +
        ") u ORDER BY id_a, id_b"),
    "dedup_semantic_kmeans" ->
      ("SELECT CAST(vec_id AS BIGINT) AS vec_id FROM (" +
        "SELECT * FROM (VALUES (358), (454)) v(vec_id) WHERE (SELECT count(*) FROM lineitem) < 10000 " +
        "UNION ALL SELECT * FROM (VALUES (256), (287), (298), (388)) v(vec_id) WHERE (SELECT count(*) FROM lineitem) >= 10000 AND (SELECT count(*) FROM lineitem) < 100000 " +
        "UNION ALL SELECT * FROM (VALUES (52), (138), (369), (391), (402), (587), (594), (646), (801), (863), (867), (983), (991), (1005), (1014), (1133), (1198), (1202), (1290), (1293), (1352), (1370), (1383), (1465), (1488), (1507), (1526), (1529), (1531), (1545), (1555), (1573), (1579), (1582), (1630), (1641), (1704), (1713), (1739), (1755), (1776), (1795), (1809), (1824), (1848), (1866), (1875), (1917), (1932), (1935), (1958), (1988)) v(vec_id) WHERE (SELECT count(*) FROM lineitem) >= 100000" +
        ") u ORDER BY vec_id"),
    "dedup_lines" ->
      ("WITH tk AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "ln AS (SELECT doc_id, i AS pos, array_to_string(t[(i*10+1):(i*10+10)], ' ') AS line " +
        "FROM tk, LATERAL unnest(range(0, greatest(CAST(ceil(len(t)/10.0) AS BIGINT), 1))) r(i)), " +
        "nb AS (SELECT * FROM ln WHERE trim(line) <> ''), " +
        "k AS (SELECT doc_id, pos, line, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM nb) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"),
    "dedup_decontaminate" ->
      ("WITH tk AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ') ELSE array_to_string(t, ' ') END AS gram " +
        "FROM tk, LATERAL unnest(range(1, greatest(len(t)-2, 1)+1)) r(i)), " +
        "b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0), " +
        "bad AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram)) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),
    "dedup_exact" ->
      "SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS n_distinct, CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT) AS n_dup_rows FROM (SELECT count(*) AS c FROM documents GROUP BY text) t",
    "dedup_minhash" -> jaccardOracle(0.8),
    "dedup_minhash_sampled" ->
      (s"WITH ${jaccardPairCtes("(SELECT * FROM documents WHERE doc_id % 10 = 3) sd")} " +
        "SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY id_a, id_b"),
    "dedup_ngram_jaccard" -> jaccardOracle(0.5),
    "dedup_cluster" -> clusterOracle(0.5),
    "dedup_cluster_sampled" ->
      (s"WITH RECURSIVE sdocs AS (SELECT * FROM documents WHERE doc_id % 10 = 3), " +
        s"${componentCtes(0.5, "sdocs")} " +
        "SELECT d.doc_id AS doc_id, CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS cluster_id " +
        "FROM sdocs d LEFT JOIN comp c ON d.doc_id = c.id ORDER BY d.doc_id"),
    "dedup_drop_neardup" -> dropNearDupOracle(0.5),
    "dedup_pipeline" -> pipelineOracle(0.5),
    "dedup_pipeline_sampled" ->
      ("WITH RECURSIVE sdocs AS (SELECT * FROM documents WHERE doc_id % 10 = 3), " +
        "r AS (SELECT min(doc_id) AS id FROM (SELECT doc_id, " +
        "lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS f FROM sdocs) t0 GROUP BY f), " +
        "docs2 AS (SELECT d.* FROM sdocs d JOIN r ON d.doc_id = r.id), " +
        s"${componentCtes(0.5, "docs2")} " +
        "SELECT doc_id FROM docs2 " +
        "WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cid) ORDER BY doc_id"),
    "dedup_semantic_text" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (" +
        "SELECT * FROM (VALUES (12), (28), (50), (82), (114), (120), (157), (161), (174), (176), (261), (263), (267), (329), (360), (369), (391), (393), (399), (401), (404), (411), (425), (428), (431), (436), (450), (459), (467), (487), (498)) v(doc_id) WHERE (SELECT count(*) FROM lineitem) < 10000 " +
        "UNION ALL SELECT * FROM (VALUES (134), (178), (185), (230), (245), (267), (272), (290), (293), (299), (301), (323), (332), (374), (377), (383), (387), (389), (406), (411), (413), (420), (421), (426), (441), (446), (447), (450), (453), (455), (457), (458), (462), (463), (466), (486), (496)) v(doc_id) WHERE (SELECT count(*) FROM lineitem) >= 10000 AND (SELECT count(*) FROM lineitem) < 100000 " +
        "UNION ALL SELECT * FROM (VALUES (32), (35), (40), (47), (54), (56), (66), (67), (71), (81), (98), (113), (117), (119), (120), (132), (134), (135), (136), (151), (159), (164), (165), (173), (177), (189), (199), (209), (211), (213), (219), (220), (221), (233), (237), (239), (240), (246), (256), (264), (282), (283), (287), (288), (293), (296), (314), (321), (340), (345), (346), (348), (357), (362), (365), (368), (372), (377), (391), (392), (394), (405), (421), (431), (443), (460), (474), (479), (482), (483), (491), (492), (494), (505), (509), (512), (517), (521), (522), (524), (529), (534), (538), (545), (549), (553), (564), (565), (572), (573), (583), (595), (608), (610), (613), (615), (624), (630), (638), (646), (651), (653), (659), (664), (671), (684), (686), (694), (695), (706), (710), (712), (718), (721), (732), (756), (758), (762), (771), (773), (774), (779), (780), (787), (789), (815), (823), (836), (838), (845), (855), (856), (862), (867), (875), (876), (888), (889), (893), (895), (898), (899), (906), (907), (922), (923), (930), (931), (933), (938), (941), (945), (954), (960), (965), (982), (996), (1007), (1013), (1015), (1023), (1026), (1031), (1033), (1035), (1036), (1039), (1041), (1044), (1046), (1051), (1053), (1071), (1072), (1083), (1085), (1093), (1096), (1105), (1113), (1114), (1119), (1128), (1131), (1136), (1137), (1157), (1175), (1186), (1187), (1188), (1192), (1194), (1199), (1200), (1202), (1204), (1206), (1210), (1212), (1238), (1239), (1242), (1253), (1255), (1259), (1267), (1269), (1270), (1273), (1276), (1279), (1282), (1287), (1293), (1299), (1310), (1319), (1320), (1323), (1333), (1338), (1349), (1351), (1353), (1356), (1363), (1369), (1370), (1373), (1375), (1382), (1389), (1394), (1395), (1400), (1401), (1405), (1409), (1413), (1416), (1424), (1427), (1428), (1432), (1434), (1437), (1438), (1440), (1443), (1450), (1452), (1456), (1458), (1489), (1493), (1494), (1498), (1500), (1506), (1508), (1510), (1513), (1519), (1526), (1534), (1538), (1540), (1542), (1553), (1557), (1565), (1568), (1575), (1582), (1583), (1584), (1590), (1592), (1602), (1609), (1610), (1612), (1614), (1618), (1626), (1630), (1633), (1638), (1639), (1641), (1642), (1644), (1645), (1649), (1651), (1658), (1662), (1663), (1665), (1670), (1671), (1673), (1683), (1694), (1702), (1705), (1709), (1717), (1718), (1722), (1727), (1729), (1730), (1731), (1746), (1749), (1764), (1768), (1770), (1772), (1777), (1779), (1783), (1786), (1789), (1805), (1814), (1817), (1819), (1828), (1832), (1834), (1841), (1843), (1845), (1854), (1859), (1882), (1884), (1887), (1893), (1897), (1913), (1915), (1917), (1918), (1925), (1926), (1928), (1929), (1935), (1942), (1943), (1962), (1967), (1970), (1980), (1985), (1986), (1987), (1988), (1992), (1994), (1995), (1997), (1999), (2000), (2008), (2025), (2028), (2043), (2045), (2050), (2052), (2059), (2060), (2063), (2065), (2067), (2068), (2071), (2076), (2083), (2084), (2088), (2091), (2092), (2099), (2100), (2101), (2105), (2106), (2108), (2119), (2126), (2136), (2138), (2141), (2165), (2170), (2172), (2176), (2179), (2182), (2188), (2190), (2192), (2199), (2203), (2213), (2221), (2222), (2223), (2225), (2232), (2234), (2244), (2248), (2250), (2259), (2261), (2265), (2270), (2274), (2289), (2292), (2293), (2295), (2299), (2301), (2302), (2305), (2307), (2309), (2320), (2328), (2333), (2335), (2337), (2339), (2341), (2349), (2350), (2355), (2356), (2359), (2360), (2361), (2363), (2370), (2371), (2374), (2377), (2379), (2389), (2400), (2411), (2418), (2420), (2423), (2425), (2428), (2429), (2434), (2451), (2458), (2463), (2466), (2472), (2474), (2483), (2484), (2486), (2491), (2493), (2503), (2505), (2509), (2513), (2516), (2520), (2521), (2523), (2524), (2528), (2537), (2538), (2542), (2551), (2562), (2563), (2565), (2582), (2587), (2593), (2595), (2598), (2612), (2613), (2618), (2624), (2629), (2631), (2633), (2640), (2641), (2649), (2652), (2661), (2662), (2672), (2677), (2684), (2689), (2690), (2705), (2707), (2728), (2741), (2745), (2766), (2773), (2774), (2777), (2782), (2784), (2789), (2792), (2796), (2798), (2806), (2811), (2816), (2819), (2821), (2824), (2831), (2833), (2841), (2842), (2845), (2853), (2859), (2860), (2868), (2872), (2875), (2887), (2892), (2896), (2897), (2900), (2902), (2903), (2915), (2917), (2918), (2920), (2926), (2929), (2931), (2932), (2934), (2936), (2940), (2946), (2947), (2960), (2972), (2977), (2978), (2983), (2986), (2990), (3006), (3013), (3015), (3017), (3019), (3022), (3033), (3038), (3049), (3052), (3053), (3055), (3065), (3080), (3083), (3091), (3092), (3098), (3101), (3102), (3106), (3111), (3112), (3114), (3115), (3117), (3123), (3125), (3126), (3127), (3145), (3149), (3162), (3163), (3166), (3168), (3197), (3202), (3205), (3208), (3209), (3212), (3215), (3223), (3224), (3229), (3231), (3241), (3243), (3247), (3255), (3258), (3259), (3264), (3269), (3274), (3276), (3277), (3288), (3290), (3291), (3296), (3299), (3300), (3304), (3311), (3319), (3324), (3327), (3328), (3329), (3332), (3341), (3345), (3354), (3357), (3361), (3366), (3367), (3373), (3375), (3377), (3378), (3381), (3383), (3387), (3392), (3393), (3394), (3397), (3398), (3401), (3402), (3403), (3418), (3422), (3429), (3432), (3435), (3438), (3441), (3447), (3450), (3451), (3460), (3465), (3468), (3479), (3481), (3489), (3497), (3502), (3503), (3506), (3511), (3517), (3522), (3523), (3524), (3529), (3544), (3545), (3548), (3552), (3554), (3555), (3556), (3562), (3563), (3569), (3573), (3576), (3584), (3585), (3591), (3593), (3595), (3596), (3602), (3609), (3610), (3613), (3624), (3640), (3644), (3646), (3647), (3655), (3664), (3668), (3670), (3674), (3680), (3687), (3688), (3693), (3701), (3703), (3708), (3715), (3717), (3722), (3724), (3725), (3730), (3731), (3733), (3734), (3735), (3739), (3745), (3753), (3758), (3759), (3760), (3763), (3774), (3776), (3780), (3781), (3792), (3797), (3800), (3802), (3803), (3805), (3810), (3821), (3828), (3829), (3834), (3836), (3839), (3842), (3844), (3848), (3855), (3856), (3857), (3867), (3870), (3872), (3874), (3875), (3879), (3881), (3882), (3886), (3890), (3893), (3896), (3900), (3901), (3903), (3921), (3933), (3936), (3937), (3940), (3947), (3952), (3954), (3955), (3956), (3958), (3972), (3973), (3978), (3979), (3980), (3984), (3989), (3992), (3996), (4001), (4003), (4007), (4010), (4011), (4015), (4016), (4017), (4021), (4030), (4031), (4034), (4035), (4037), (4044), (4046), (4048), (4049), (4052), (4055), (4060), (4061), (4065), (4069), (4073), (4077), (4082), (4091), (4092), (4095), (4098), (4099), (4100), (4103), (4111), (4127), (4129), (4132), (4135), (4138), (4139), (4143), (4146), (4151), (4153), (4155), (4156), (4157), (4160), (4165), (4166), (4168), (4178), (4179), (4180), (4181), (4184), (4189), (4194), (4195), (4196), (4197), (4199), (4200), (4207), (4211), (4213), (4219), (4223), (4225), (4226), (4228), (4230), (4231), (4236), (4241), (4242), (4246), (4251), (4253), (4255), (4259), (4261), (4273), (4274), (4277), (4278), (4290), (4297), (4302), (4303), (4308), (4309), (4317), (4318), (4320), (4321), (4322), (4331), (4335), (4336), (4337), (4343), (4344), (4347), (4351), (4353), (4354), (4356), (4360), (4368), (4371), (4381), (4385), (4388), (4391), (4397), (4402), (4403), (4415), (4416), (4429), (4430), (4436), (4437), (4438), (4445), (4446), (4455), (4459), (4460), (4464), (4466), (4475), (4476), (4483), (4485), (4486), (4487), (4492), (4494), (4496), (4513), (4514), (4523), (4524), (4526), (4528), (4536), (4541), (4542), (4545), (4553), (4556), (4564), (4576), (4588), (4589), (4590), (4591), (4594), (4595), (4596), (4599), (4603), (4607), (4609), (4612), (4613), (4614), (4615), (4621), (4624), (4634), (4645), (4649), (4650), (4653), (4662), (4666), (4667), (4668), (4670), (4672), (4677), (4686), (4691), (4702), (4703), (4706), (4708), (4716), (4717), (4719), (4722), (4723), (4724), (4726), (4729), (4730), (4732), (4740), (4743), (4746), (4749), (4750), (4756), (4758), (4762), (4763), (4764), (4766), (4767), (4768), (4769), (4771), (4773), (4777), (4780), (4784), (4785), (4786), (4789), (4791), (4793), (4794), (4795), (4797), (4800), (4801), (4802), (4805), (4806), (4809), (4812), (4822), (4823), (4824), (4828), (4829), (4830), (4832), (4833), (4834), (4836), (4838), (4840), (4841), (4845), (4846), (4847), (4850), (4864), (4865), (4868), (4874), (4875), (4876), (4886), (4887), (4890), (4901), (4902), (4905), (4908), (4910), (4912), (4913), (4914), (4918), (4921), (4922), (4923), (4935), (4936), (4937), (4938), (4941), (4942), (4943), (4948), (4949), (4954), (4958), (4965), (4969), (4972), (4976), (4977), (4981), (4984), (4990), (4991), (4993)) v(doc_id) WHERE (SELECT count(*) FROM lineitem) >= 100000" +
        ") u ORDER BY doc_id"),
    "dedup_incremental_store" -> mhStoreOracle,
    "dedup_store_compacted" -> mhStoreOracle,
    "dedup_fp_compacted" -> fpStoreOracle,
    "dedup_fp_store" -> fpStoreOracle,
    "dedup_fp_retract" -> fpRetractOracle,
    "dedup_store_retract" -> mhRetractOracle,
    "dedup_incremental_bloom" ->
      ("WITH docs AS (SELECT doc_id, text FROM documents), " +
        "inc AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, text || ' graft batch-2 tail' FROM docs WHERE doc_id % 5 = 1 " +
        "UNION ALL SELECT doc_id + 2000000, text FROM docs WHERE doc_id % 5 = 2), " +
        "seen AS (SELECT DISTINCT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS ntext FROM docs) " +
        "SELECT doc_id FROM inc WHERE lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) " +
        "NOT IN (SELECT ntext FROM seen) ORDER BY doc_id"),
    "dedup_spans" ->
      ("WITH tk AS (SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "occ AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, array_to_string(t[i:i+7], ' ') AS span " +
        "FROM tk, LATERAL unnest(range(1, len(t) - 8 + 2)) r(i) WHERE len(t) >= 8), " +
        "dup AS (SELECT span FROM occ GROUP BY span HAVING count(DISTINCT doc_id) >= 2), " +
        "d AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (span)), " +
        "w AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -2147483648) + 8 THEN 1 ELSE 0 END AS nw FROM d), " +
        "isl AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM w) " +
        "SELECT doc_id, min(pos) AS start_pos, CAST(max(pos) + 7 AS INTEGER) AS end_pos " +
        "FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_pos"),
    "dedup_span_rewrite" ->
      ("WITH tk AS (SELECT doc_id, text, CASE WHEN len(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS t FROM documents), " +
        "occ AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, array_to_string(t[i:i+7], ' ') AS span " +
        "FROM tk, LATERAL unnest(range(1, len(t) - 8 + 2)) r(i) WHERE len(t) >= 8), " +
        "dup AS (SELECT span FROM occ GROUP BY span HAVING count(DISTINCT doc_id) >= 2), " +
        "cut AS (SELECT doc_id, pos FROM (SELECT o.doc_id, o.pos, row_number() OVER (PARTITION BY o.span ORDER BY o.doc_id, o.pos) AS rn FROM occ o JOIN dup USING (span)) WHERE rn > 1), " +
        "toks AS (SELECT doc_id, CAST(j AS INTEGER) AS j, t[j] AS tok FROM tk, LATERAL unnest(range(1, len(t) + 1)) u(j)), " +
        "cov AS (SELECT DISTINCT c.doc_id, CAST(j AS INTEGER) AS j FROM cut c, LATERAL unnest(range(c.pos, c.pos + 8)) u(j)), " +
        "kept AS (SELECT toks.doc_id, toks.j, toks.tok, cov.j IS NOT NULL AS covered FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id AND toks.j = cov.j), " +
        "rm AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS tokens_removed FROM kept WHERE covered GROUP BY doc_id), " +
        "nt AS (SELECT doc_id, array_to_string(list(tok ORDER BY j), ' ') AS text2 FROM kept WHERE NOT covered GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(rm.tokens_removed, 0) AS tokens_removed, " +
        "CASE WHEN rm.doc_id IS NOT NULL THEN coalesce(nt.text2, '') ELSE d.text END AS text " +
        "FROM documents d LEFT JOIN rm USING (doc_id) LEFT JOIN nt USING (doc_id) ORDER BY doc_id"),
    "dedup_semantic" ->
      (s"WITH RECURSIVE sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosineSql, 4) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id), " +
        "p AS (SELECT id_a, id_b FROM sc WHERE cosine >= 0.45), " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p), " +
        "reach(u, v) AS (SELECT u, v FROM edges UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "comp AS (SELECT u AS id, least(u, min(v)) AS cid FROM reach GROUP BY u) " +
        "SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> cid) ORDER BY vec_id"),
    "dedup_embedding_cosine" ->
      ("WITH sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        s"round($cosineSql, 4) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, cosine FROM sc WHERE cosine >= 0.45 ORDER BY id_a, id_b"),
  )
}
