package graft.tools

import graft.{Artifacts, Session, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale smoke: tile sf0.1 into a synthetic ~sf1 under /tmp and compare
  * wall time of the SCALE-PATH operators at both sizes. This is the
  * would-it-survive-100TB evidence the bench (fixed SF) cannot give: a
  * linear operator should scale ~10× on 10× input on fixed cores; the
  * banded dedup path grows with candidate count (tiling clones every doc
  * 10×, a deliberately adversarial near-dup structure — every clone family
  * is a 10-member clique); ANN serving is measured at FIXED probe count so
  * the number isolates per-query cost against a 10× corpus.
  *
  * Ids offset per tile (disjoint); event user_ids offset too, so streaming
  * sessionization sees 10× state keys — the dimension state actually grows
  * with at scale. Texts/embeddings/timestamps are unchanged: windows get
  * 10× fan-in, clone cliques stress the pair path.
  *
  * Usage: scripts/run_main.sh graft.tools.ScaleSmoke [queries...]
  */
object ScaleSmoke {
  private val SRC = "/root/testdata/sf0.1"
  private val WARM = new java.io.File(new java.io.File(SRC).getParentFile, "sf0.001").toString
  private val DST = "/tmp/graft_sf1"
  private val TILES = 10
  private val OFF = 10000000L

  private def tileN(df: DataFrame, idCols: Seq[String], tiles: Int): DataFrame =
    (0 until tiles).map { t =>
      idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(t * OFF)))
    }.reduce(_ unionAll _)

  private def tile(df: DataFrame, idCols: Seq[String]): DataFrame =
    tileN(df, idCols, TILES)

  def ensureData(spark: SparkSession): Unit =
    ensureDataAt(spark, DST, TILES)

  private def ensureDataAt(spark: SparkSession, dst: String, tiles: Int): Unit = {
    val done = new java.io.File(s"$dst/_DONE")
    if (done.exists()) return
    new java.io.File(dst).mkdirs()
    tileN(spark.read.parquet(s"$SRC/documents.parquet"), Seq("doc_id"), tiles)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    tileN(spark.read.parquet(s"$SRC/embeddings.parquet"), Seq("vec_id"), tiles)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    tileN(spark.read.parquet(s"$SRC/events.parquet"),
        Seq("event_id", "user_id"), tiles)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // relational tables pass through untiled (the d/e/s rows don't read
    // them, but Tables.load warmup does)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$SRC/$t.parquet"),
          java.nio.file.Paths.get(s"$dst/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    done.createNewFile()
    ()
  }

  // linear scale-path rows safe at 100× (no clone-clique quadratics: the
  // 100× tiling makes every doc a 100-member dist-0 clique, so the banded
  // dedup rows are EXCLUDED here by design — their 10× behavior with the
  // exact-first mitigation is the documented evidence)
  private val X100 = Seq(
    "d01_token_stats", "d04_fingerprint", "d05_exact_dedup", "d13_hash_split",
    "d48_bpe_tokenize", "d48_vocab_bound", "e03_embedding_stats",
    "e07_int8_quant", "e16_rp_reduce", "e06_kmeans_trainpass",
    "e08_pq_trainpass",
    // round-14 narrow-map rows: all linear by construction
    "d63_signal_bundle", "d64_c4_filter", "m06_clipscore_filter",
    "d65_datasheet",
    // round-15: one narrow scan + domain-sized Hamilton
    "d68_quality_mixture",
    // round-18: the O(delta) commit pair — a FIXED delta against a 100×
    // committed index state; flat by construction (segment append +
    // manifest-metadata guard + range-pruned corrections)
    "e30_extend_delta_commit", "e34_retract_delta_commit",
    // round-19: fixed corpus, ~90× tombstone rows — read-side flatness
    "e34_tombstone_read_flat")

  /** Second-stage tiling (separate marker so an existing tiled dir from an
    * earlier run upgrades in place): lineitem/orders tiled on orderkey so
    * the bucketed-join row (q90) sees 10× on BOTH join sides. Orderkeys
    * stay aligned across tiles (same offset both tables), so join
    * multiplicity per key is unchanged — only the key count grows. */
  def ensureRelationalTiles(spark: SparkSession): Unit = {
    val done = new java.io.File(s"$DST/_DONE_REL")
    if (done.exists()) return
    tile(spark.read.parquet(s"$SRC/lineitem.parquet"), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$DST/lineitem.parquet")
    tile(spark.read.parquet(s"$SRC/orders.parquet"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$DST/orders.parquet")
    done.createNewFile()
    ()
  }

  // scale-path rows only: every bounded-subset verifier (d08, e01's
  // probe quadratic, the recall rows' brute-force side) is excluded by
  // design — those are documented small-data oracles, not the scale path
  private val DEFAULT = Seq(
    "d01_token_stats", "d04_fingerprint", "d05_exact_dedup",
    "d06_minhash_neardup", "d09_neardup_clusters", "d13_hash_split",
    "d14_token_packing", "d18_ngram_topk", "d22_rare_tokens",
    "d23_salient_terms", "d25_chunking", "d26_pii_scrub",
    "d27_fuzzy_fullcorpus", "d27_fuzzy_postexact", "d29_cascade_dedup",
    "d32_temperature_mix", "d33_zorder_scan", "d34_incremental_agg",
    "d51_quality_classifier", "d52_dsir_selection", "d53_perplexity_filter",
    "d54_repetition_filter",
    "d55_dupspan_removal", "d56_domain_curation", "d57_html_extract",
    "e19_vector_decontam", "d58_line_dedup", "s21_stream_domain_cap",
    "d59_url_canonical_dedup", "s22_stream_decontam_gate",
    "d60_mixture_materialize", "d61_leak_attribution", "d62_leakfree_split",
    "d63_signal_bundle", "d64_c4_filter", "s23_stream_signal_ingest",
    "m06_clipscore_filter", "d65_datasheet", "s24_stream_datasheet",
    "d66_epoch_mixture",
    // round-15 rows: RRF is list-sized by construction but rides its two
    // corpus-ranked inputs; shard export is the write path end-to-end;
    // quality mixture is one narrow scan + domain-sized Hamilton
    "e24_hybrid_rrf", "d67_write_path", "d68_quality_mixture",
    "e26_chunk_retrieval", "e26_fixed_query_batch",
    "e30_extend_delta_commit", "e34_retract_delta_commit",
    "e34_tombstone_read_flat", "e42_folded_read_flat",
    "d69_curriculum", "d71_dedup_attribution",
    "d06_cands_raw", "d06_cands_postexact",
    "e03_embedding_stats", "e04_embedding_neardup", "e07_int8_quant",
    "q39_time_agg", "q40_sessionize",
    "s01_stream_windowed", "s04_stream_sessions")

  // scale-shape variants that exist only here: the gate's d27 row runs a
  // bounded subset (its oracle is all-pairs Levenshtein in DuckDB); the
  // scale path — PassJoin segment banding over the WHOLE corpus — is what
  // the smoke must measure. Tiling clones every doc 10×, so clone cliques
  // (45 dist-0 pairs per family) dominate the output — the same adversarial
  // structure d06 documents, with exact-dedup-first as the production
  // mitigation.
  // the two d06_cands rows are the cascade's quantitative case: tiling
  // clones every doc 10×, so raw LSH candidate pairs blow up with the
  // clone cliques (45 per family) while exact-dedup-first collapses the
  // corpus back to unique texts before banding — compare the `rows`
  // column, not just the seconds
  private val EXTRA: Map[String, (SparkSession, String) => DataFrame] = Map(
    // e26's gate row tiles BOTH sides (queries grow with the corpus →
    // pair count ×100 at ×10 input — the documented e01-family probe
    // quadratic). The PRODUCTION serving shape holds the query batch
    // fixed while the chunk table grows; this variant pins queries to
    // the first tile (doc_id < OFF) so the ratio reads the scan side.
    // d67's gate row memoizes its export per (JVM, dir) — the sink
    // pattern — so the smoke needs an unmemoized variant to measure the
    // WRITE path end-to-end at both scales
    "d67_write_path" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = Artifacts.dir("tshard_smoke").toString
      graft.sources.Sinks.writeTrainingShards(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        dir, "doc_id", "text", tokensPerShard = 4096L)
      graft.sources.Sinks.trainingShardManifest(
        graft.sources.Sinks.readTrainingShards(s, dir))
    }),
    "e26_fixed_query_batch" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val queries = docs
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      graft.operators.Similarity.chunkRetrieveTopK(
        corpus, queries, "doc_id", "text", k = 3)
    }),
    "d27_fuzzy_fullcorpus" -> ((s, d) =>
      graft.operators.Dedup.fuzzyPairs(
        Tables.documents(s, d), "doc_id", "text", maxDist = 6)),
    // exact-first mitigation for the clone-clique blowup measured above:
    // same full-corpus PassJoin, clone families collapsed before banding
    "d27_fuzzy_postexact" -> ((s, d) =>
      graft.operators.Dedup.fuzzyPairs(
        graft.operators.Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "text", maxDist = 6)),
    "d06_cands_raw" -> ((s, d) =>
      graft.operators.Dedup.minhashCandidates(
        Tables.documents(s, d), "doc_id", "text")),
    "d06_cands_postexact" -> ((s, d) =>
      graft.operators.Dedup.minhashCandidates(
        graft.operators.Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "text")),
    // SemDeDup's scale path is the within-cell pair join (the e11 gate row
    // is excluded here — its brute-force verifier is a documented bounded
    // oracle, quadratic by design). Two variants make the k ∝ n design
    // quantitative: with k FIXED at 16, 10× data means 10× per cell and
    // ~100× pairs — the quadratic trap; with k scaled 16→160 (constant
    // expected cell size, the SemDeDup paper's configuration) the pair
    // space stays ∝ n. τ = −1 so the rows column reports the CANDIDATE
    // volume (every within-cell pair evaluated) — the τ-independent cost
    // driver; at this corpus size the τ=0.95 output would be only the
    // tiling's clone cliques, identical for both k. Codebooks memoized per
    // (dir, k): training is the offline index build, not the serving cost.
    "e11_pairs_fixedk" -> ((s, d) => semPairs(s, d, 16)),
    "e11_pairs_scaledk" -> ((s, d) =>
      semPairs(s, d, if (d == DST) 160 else 16)),
    // codebook TRAINING passes (offline index build): with the row-local
    // baked-argmax assignment the per-round cost is one corpus scan plus
    // a k×dim-partial-mean exchange, so 10× data should time ~linear —
    // the scan-bound evidence for the zero-shuffle training rewrite
    "e06_kmeans_trainpass" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      graft.operators.Similarity.centroidsDF(s,
        graft.operators.Similarity.kmeansCentroidsCollected(
          emb, "vec_id", "embedding", k = 16, iters = 3, seed = 42L))
    }),
    "e08_pq_trainpass" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, d)
      graft.operators.Similarity.pqCodebookDF(s,
        graft.operators.Similarity.pqTrainNormalizedCollected(
          emb, "vec_id", "embedding"))
    }),
    // e27's PRODUCTION serving shape: a FIXED query batch served through
    // the cell-pruned IVF path against the growing cell-partitioned
    // index (index build + codebook memoized per dir — the offline step).
    // Cost ∝ probed cells (nProbe/nCells of the chunk table), so the
    // ratio should read ~linear-in-corpus at a ~4× lower absolute than
    // the e26 full scan at the same size.
    "e27_fixed_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val queries = docs
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      val (cents, path) = chunkIvfSmoke(s, d)
      graft.operators.Similarity.chunkRetrieveFromIvfIndex(
        s.read.parquet(path), cents, queries, "doc_id", "text",
        k = 3, nProbe = 2)
    }),
    // e28's gate row tiles BOTH sides like e26's; the production shape
    // holds the query batch fixed while corpus chunks grow
    "e28_fixed_query_batch" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val queries = docs
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
        .localCheckpoint(true)
      try {
        // lazy bm plan so the two rankers overlap in one job (the e28
        // gate row's shape)
        val (bmRanked, tfq) = graft.operators.TextAnalysis
          .bm25TopKBatchPlan(chunks, queries,
            Seq("doc_id", "chunk_id"), "chunk_text", "doc_id", "text", k = 10)
        try {
          val bm = bmRanked
            .select(col("query_id"), col("doc_id"), col("chunk_id"), col("rank"))
          val dense = graft.operators.Similarity.chunkRetrieveFromIndex(
              graft.operators.Similarity.chunkIndexOfChunks(chunks), queries,
              "doc_id", "text", k = 10)
            .select(col("query_id"), col("doc_id"), col("chunk_id"), col("rank"))
          graft.operators.Similarity.rrfFusePerQuery(Seq(bm, dense),
              "query_id", Seq("doc_id", "chunk_id"), k = 5)
            .localCheckpoint(true)
        } finally graft.operators.Dedup.release(tfq)
      } finally graft.operators.Dedup.release(chunks)
    }),
    // e30's PRODUCTION serving shape: a FIXED query batch served from the
    // persisted posting index while the corpus grows 10× — the index
    // build is the offline step (memoized, untimed); the measured number
    // is the bucket-pruned posting scan + broadcast-joined ranking, the
    // cost that replaced "re-tokenize the corpus per invocation"
    // e34's takedown decomposed on the tiled corpus: (a) the retraction
    // COMMIT alone — O(state) scan + anti-join + rewrite of all four
    // parts (after the memoized first retraction the delete keys are
    // absent, which exercises identical machinery); (b) serving from the
    // retracted state against a FIXED query batch (the e30_fixed_serve
    // regime — the full-gate e34 row's 10× blowup is the 31-term-vocab
    // serving quadratic the selective-vocab smoke already characterizes,
    // not retraction cost)
    "e34_retract_apply" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val state = bm25RetractSmoke(s, d)
      graft.operators.Bm25Index.retractFromIndex(s, state,
        Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(13)) === 3 &&
            pmod(col("doc_id"), lit(101)) =!= 5)
          .select(col("doc_id")),
        Seq("doc_id", "chunk_id"), retractBatchIds.incrementAndGet())
      graft.operators.IncrementalAgg.readStatePart(s, state,
        graft.operators.Bm25Index.StatsPart)
    }),
    "e34_fixed_serve" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val queries = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
        bm25RetractSmoke(s, d), queries,
        Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    }),
    "e30_fixed_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val queries = docs
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
        bm25Smoke(s, d), queries,
        Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    }),
    // e31's PRODUCTION serving shape: the full hybrid stack (DPP-pruned
    // IVF dense leg at the gate's mid probe budget + posting-index sparse
    // leg + per-query RRF) against a FIXED query batch on a 10× corpus
    "e31_fixed_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      val queries = docs
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      val (cents, path) = chunkIvfSmoke(s, d)
      val dense = graft.operators.Similarity.chunkRetrieveFromIvfIndex(
          s.read.parquet(path), cents, queries, "doc_id", "text",
          k = 10, nProbe = 2)
        .select(col("query_id"), col("doc_id"), col("chunk_id"), col("rank"))
      val bm = graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
          bm25Smoke(s, d), queries,
          Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
        .select(col("query_id"), col("doc_id"), col("chunk_id"), col("rank"))
      graft.operators.Similarity.rrfFusePerQuery(Seq(bm, dense),
        "query_id", Seq("doc_id", "chunk_id"), k = 5)
    }),
    // the SELECTIVE-vocabulary serving pair: with vocabulary ∝ corpus
    // (salted words), a small fixed query batch's terms hash into a few
    // of the 1024 posting buckets — the serve reads the DPP-pruned
    // buckets and shuffles only matching terms, while the recompute
    // variant re-tokenizes and re-aggregates the whole corpus per
    // invocation. Compare the two ratios AND the two absolute times:
    // this is the regime the e30 index exists for (the gate corpus's
    // 31-term vocab is the worst case where pruning cannot help).
    "e30_selective_serve" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val queries = salted(Tables.documents(s, d)
        .select(col("doc_id"), col("text")))
        .filter(pmod(col("doc_id"), lit(5003)) === 1 && col("doc_id") < OFF)
      graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
        bm25BigVocab(s, d), queries, Seq("doc_id"), "doc_id", "text", k = 10)
    }),
    "e30_selective_recompute" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val corpus = salted(Tables.documents(s, d)
        .select(col("doc_id"), col("text")))
      val queries = corpus
        .filter(pmod(col("doc_id"), lit(5003)) === 1 && col("doc_id") < OFF)
      graft.operators.TextAnalysis.bm25TopKBatch(corpus, queries,
        Seq("doc_id"), "text", "doc_id", "text", k = 10)
    }),
    // the O(delta) commit pair (the r17 verdict's top item): a FIXED-size
    // delta (500 SRC docs, re-keyed to a fresh monotone id range per
    // call) committed against a small vs 10× committed index state. With
    // segment-append commits the extend writes only its own segment plus
    // the vocabulary-bounded terms/stats rewrite, and the monotone guard
    // is manifest metadata — the ratio should read ~1× (flat), where the
    // r17 full-rewrite protocol read and rewrote all prior bytes (~10×).
    "e30_extend_delta_commit" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val state = bm25ExtendSmoke(s, d)
      val b = deltaCommitIds.incrementAndGet()
      graft.operators.Bm25Index.extendIndex(s, state,
        freshDeltaChunks(s, b), Seq("doc_id", "chunk_id"), "chunk_text",
        batchId = b)
      graft.operators.IncrementalAgg.readStatePart(s, state,
        graft.operators.Bm25Index.StatsPart)
    }),
    // the takedown twin: extend a fresh delta, then retract exactly those
    // docs — the tombstone commit writes O(deletes + vocab), and the df/
    // stats correction scans are pruned by the manifest's segment id
    // ranges to the ONE segment the delete set touches, so the pair stays
    // flat as the committed state grows 10×
    "e34_retract_delta_commit" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val state = bm25ExtendSmoke(s, d)
      val b1 = deltaCommitIds.incrementAndGet()
      val chunks = freshDeltaChunks(s, b1).localCheckpoint(true)
      try {
        graft.operators.Bm25Index.extendIndex(s, state, chunks,
          Seq("doc_id", "chunk_id"), "chunk_text", batchId = b1)
        val b2 = deltaCommitIds.incrementAndGet()
        graft.operators.Bm25Index.retractFromIndex(s, state,
          chunks.select(col("doc_id")).distinct(),
          Seq("doc_id", "chunk_id"), batchId = b2)
        graft.operators.IncrementalAgg.readStatePart(s, state,
          graft.operators.Bm25Index.StatsPart)
      } finally graft.operators.Dedup.release(chunks)
    }),
    // tombstone-read FLATNESS (the r18 verdict's weak): the SAME sf0.1
    // corpus indexed identically at both "sizes", but the committed
    // tombstone set grows 10× (≈0.1% vs ≈1% of docs retracted; 100× mode
    // ≈9%). The measured op is a FIXED serve whose every part read
    // applies the tombstone anti-join — the ratio reads ~1× because the
    // broadcast build side is metadata-bounded and the probe side is the
    // same bucket-pruned posting scan. This is the evidence that a
    // takedown backlog does not tax serving until compaction is due.
    "e34_tombstone_read_flat" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val queries = Tables.documents(s, SRC)
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
        bm25TombSmoke(s, d), queries,
        Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    }),
    // segment-maintained-layout read flatness: the SAME sf0.1 corpus as
    // ONE batch-0 commit vs TWELVE id-range extends with the small-suffix
    // fold interleaved (maxSegments 4) — the fixed serve's ratio reads
    // ~1× because folds keep the part a handful of segments regardless of
    // how many micro-batches built it (the unbounded-manifest hazard a
    // long-running ingest stream would otherwise accumulate)
    "e42_folded_read_flat" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val queries = Tables.documents(s, SRC)
        .filter(pmod(col("doc_id"), lit(101)) === 5 && col("doc_id") < OFF)
        .select(col("doc_id"), col("text"))
      graft.operators.Bm25Index.bm25TopKBatchFromIndex(s,
        bm25FoldSmoke(s, d), queries,
        Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    }),
    // BPE learn's driver-bytes bound under UNBOUNDED vocabulary growth:
    // salting every word with its doc_id makes distinct "words" ∝ corpus
    // rows (the typo/URL/hash tail a 100 TB crawl actually has), yet the
    // distributed cut caps the collectable frame at maxVocab rows at any
    // input size — compare the rows columns (both = cap) while input
    // vocab grows 10×/100×
    "d48_vocab_bound" -> ((s, d) => {
      graft.operators.TextAnalysis.bpeVocab(
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat_ws(" ",
              transform(split(col("text"), " "),
                w => concat(w, lit("_"), col("doc_id")))).as("text")),
        "text", minFreq = 1L, maxVocab = 4096)
    }))



  /** The e27/e31 serving smokes' chunk-IVF codebook + cell-partitioned
    * index over `d`'s held-out-split corpus (the offline build). */
  private def chunkIvfSmoke(
      s: SparkSession, d: String): (Seq[(Long, Array[Float])], String) =
    Artifacts.once("smoke_chunk_ivf_index", d) {
      val corpus = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val index = graft.operators.Similarity
        .chunkIndex(corpus, "doc_id", "text").localCheckpoint(true)
      try {
        val cb = graft.operators.Similarity
          .chunkIvfCentroidsCollected(index, nCells = 8, iters = 2)
        val dir = Artifacts.dir("smoke_chunkivf").toString
        graft.operators.Similarity.chunkIvfIndex(index, cb)
          .write.mode("overwrite").partitionBy("cell_id").parquet(dir)
        (cb, dir)
      } finally graft.operators.Dedup.release(index)
    }

  /** doc_id-salted words (the d48_vocab_bound trick): vocabulary grows ∝
    * corpus rows, so a query batch's terms match ONLY its source docs'
    * postings — the selective regime real keyword serving lives in
    * (the gate corpus's 31-term vocab is the opposite extreme, where
    * every query matches every chunk). */
  private def salted(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        w => concat(w, lit("_"), col("doc_id").cast("string")))).as("text"))

  /** Posting index over the salted corpus at a bucket count sized for the
    * big vocabulary (1024 — at 100 TB the bucket count scales with the
    * term space exactly like IVF cell counts scale with the corpus). */
  private def bm25BigVocab(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_bigvocab_index", d) {
      val dir = Artifacts.dir("smoke_bm25big").toString + "/state"
      graft.operators.Bm25Index.extendIndex(s, dir,
        salted(Tables.documents(s, d).select(col("doc_id"), col("text"))),
        Seq("doc_id"), "text", batchId = 0L, nBuckets = 1024)
      dir
    }
  private val retractBatchIds =
    new java.util.concurrent.atomic.AtomicLong(10L)

  /** e34's artifact on the smoke corpus: full build, then the %13-block
    * docs retracted once. Kept separate from [[bm25Smoke]]'s state so
    * e30_fixed_serve stays unretracted. */
  private def bm25RetractSmoke(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_retract_index", d) {
      val corpus = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val dir = Artifacts.dir("smoke_bm25r").toString + "/state"
      graft.operators.Bm25Index.extendIndex(s, dir, chunks,
        Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
      graft.operators.Bm25Index.retractFromIndex(s, dir,
        corpus.filter(pmod(col("doc_id"), lit(13)) === 3)
          .select(col("doc_id")),
        Seq("doc_id", "chunk_id"), batchId = 1L)
      dir
    }

  // batch-id + fresh-id-range counter shared by the delta-commit rows:
  // globally monotone, so every commit on the shared per-dir state keeps
  // the append guard satisfied across interleaved rows and repeat runs
  private val deltaCommitIds =
    new java.util.concurrent.atomic.AtomicLong(100L)

  /** The FIXED extend/retract delta: 500 sf0.1 docs re-keyed into a fresh
    * monotone id block per call — identical content at every state size,
    * so the measured ratio isolates commit cost against committed-state
    * growth. */
  private def freshDeltaChunks(s: SparkSession, b: Long): DataFrame = {
    val base = 1000000000000L + b * 1000000L
    val delta = Tables.documents(s, SRC)
      .filter(col("doc_id") < 500)
      .select((col("doc_id") + lit(base)).as("doc_id"), col("text"))
    graft.operators.Packing.chunkTokens(delta, "doc_id", "text", 16, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
  }

  /** The delta-commit rows' per-dir committed base state (the offline
    * build, untimed): the corpus as batch 0. Separate from [[bm25Smoke]]
    * so the serving rows never see the synthetic extend/retract churn. */
  private def bm25ExtendSmoke(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_extend_index", d) {
      val corpus = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val dir = Artifacts.dir("smoke_bm25x").toString + "/state"
      graft.operators.Bm25Index.extendIndex(s, dir, chunks,
        Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
      dir
    }


  /** The tombstone-flatness pair's per-dir state: the FIXED sf0.1 chunk
    * corpus committed at batch 0, then a retraction whose delete-set size
    * is keyed by the dir — ~0.1% of docs at SRC, ~1% at the 10× dir
    * (≈10× the tombstone rows), ~9% at the 100× dir. The corpus is
    * identical in every state: the only variable is the committed
    * tombstone volume the serve's anti-joins must apply. */
  private def bm25TombSmoke(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_tomb_index", d) {
      val corpus = Tables.documents(s, SRC)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val dir = Artifacts.dir("smoke_bm25tb").toString + "/state"
      graft.operators.Bm25Index.extendIndex(s, dir, chunks,
        Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
      val mod = if (d == SRC) 1009 else if (d == DST) 101 else 11
      graft.operators.Bm25Index.retractFromIndex(s, dir,
        corpus.filter(pmod(col("doc_id"), lit(mod)) === 1)
          .select(col("doc_id")),
        Seq("doc_id", "chunk_id"), batchId = 1L)
      System.err.println(s"[scale] e34_tombstone_read_flat $d: " +
        graft.operators.IncrementalAgg.tombstoneRows(s, dir,
          graft.operators.Bm25Index.PostingsPart) + " tombstone rows")
      dir
    }


  /** The fold-flatness pair's per-dir state: SRC = the corpus as one
    * batch-0 commit; the big dir = the SAME corpus in 12 monotone
    * id-range extends with the segment-count fold interleaved. */
  private def bm25FoldSmoke(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_fold_index", d) {
      val corpus = Tables.documents(s, SRC)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val dir = Artifacts.dir("smoke_bm25fd").toString + "/state"
      if (d == SRC)
        graft.operators.Bm25Index.extendIndex(s, dir, chunks,
          Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
      else {
        val m = corpus.agg(max(col("doc_id"))).head.getLong(0)
        val n = 12
        val cuts = Long.MinValue +: (1 until n).map(i => m * i / n) :+
          Long.MaxValue
        cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
          graft.operators.Bm25Index.extendIndex(s, dir,
            chunks.filter(col("doc_id") > lo && col("doc_id") <= hi),
            Seq("doc_id", "chunk_id"), "chunk_text", batchId = 2L * i)
          graft.operators.Bm25Index.compactIndexSegmentsWhenDue(s, dir,
            batchId = 2L * i + 1, maxSegments = 4)
          ()
        }
        System.err.println(s"[scale] e42_folded_read_flat $d: " +
          graft.operators.IncrementalAgg.segmentCount(s, dir,
            graft.operators.Bm25Index.PostingsPart) +
          " live posting segments after 12 extends")
      }
      dir
    }

  /** Persisted BM25 posting index over `d`'s held-out-split chunk corpus
    * (the offline build the e30/e31 serving smokes read). */
  private def bm25Smoke(s: SparkSession, d: String): String =
    Artifacts.once("smoke_bm25_index", d) {
      val corpus = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(101)) =!= 5)
        .select(col("doc_id"), col("text"))
      val chunks = graft.operators.Packing
        .chunkTokens(corpus, "doc_id", "text", 16, 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val dir = Artifacts.dir("smoke_bm25").toString + "/state"
      graft.operators.Bm25Index.extendIndex(s, dir, chunks,
        Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
      dir
    }

  private def semPairs(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val cents = Artifacts.once(s"smoke_sem_codebook_k$k", d) {
      graft.operators.Similarity.kmeansCentroidsCollected(
        emb, "vec_id", "embedding", k, iters = 3, seed = 42L)}
    graft.operators.Dedup.semDedupPairs(emb, "vec_id", "embedding",
      graft.operators.Similarity.centroidsDF(s, cents), tau = -1.0)
  }

  private def query(n: String): (SparkSession, String) => DataFrame =
    EXTRA.getOrElse(n, SparkEntry.queries(n))

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    // --x100: tile 100× instead of 10× (linear rows only, see X100)
    val x100 = args.headOption.contains("--x100")
    val rest = if (x100) args.drop(1).toSeq else args.toSeq
    val dst = if (x100) "/tmp/graft_sf10" else DST
    if (x100) ensureDataAt(spark, dst, 100)
    else { ensureData(spark); ensureRelationalTiles(spark) }
    val names =
      if (rest.nonEmpty) rest else if (x100) X100 else DEFAULT
    // JIT/codegen warmup at the smallest SF. A row whose warm-up reached a
    // setup artifact (graft.Artifacts) other than the staged event source
    // (prestage, below) is a setup row: it runs once untimed per dir.
    val setupRows = graft.Bench.setupRows(spark, WARM, "scale", names.map(n => n -> query(n)),
      ignore = graft.queries.StreamQueries.stagedEventArtifacts).toSet
    val tag = if (x100) "sf10(100x)" else "sf1(10x)"
    println(f"${"query"}%-24s ${"sf0.1"}%8s $tag%10s  ratio")
    names.foreach { n =>
      def time(d: String): Profile.Record = {
        // one-time event staging is done via prestage (below), outside the
        // timed run. Streaming rows are deliberately timed on their FIRST
        // run per dir: re-running a streaming query creates a fresh
        // checkpoint while the prior run's state-store providers are still
        // loaded, so a "steady-state" second run measures provider
        // accumulation (a harness artifact — production streams are one
        // long-running query), not the query
        graft.queries.StreamQueries.prestage(d)
        // setup rows run once untimed (a memoized build is the offline
        // step), so the measured number is the steady-state serving/query
        // side, matching Bench semantics
        if (setupRows(n)) Profile.run(spark, query(n), d).foreach(m =>
          System.err.println(s"[scale] setup $n failed: $m"))
        val Seq(r) = Profile.profile(spark, n, query(n), d, reps = 1)
        r
      }
      val small = time(SRC)
      val big = time(dst)
      (small.error ++ big.error).headOption match {
        case Some(m) => println(s"$n FAILED: $m")
        case None =>
          val (s, b) = (small.repsS.head, big.repsS.head)
          println(f"$n%-24s $s%8.2f $b%9.2f  ${b / s}%5.1fx")
      }
    }
    spark.stop()
  }
}
