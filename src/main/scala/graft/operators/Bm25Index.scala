package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained BM25 posting index — the sparse
  * half of a production retrieval serving stack (the r16 verdict's top
  * item): [[TextAnalysis.bm25TopKBatch]] is the right plan for one-off
  * BATCH scoring but re-tokenizes the corpus and rebuilds the (item,
  * term) tf frame inside every invocation; every production keyword tier
  * instead serves from a stored posting table. This module materializes
  * that artifact — four frames under ONE versioned commit
  * ([[IncrementalAgg.refreshOnceWithParts]], the e27/e20 economics
  * applied to the sparse side):
  *
  *   - `postings` (__tb, keyCols..., len, term, tf): the per-(item, term)
  *     frequency table, Hive-partitioned by `__tb` — a fixed hash bucket
  *     of the term — so a serving batch's (bucket, term) broadcast join
  *     DYNAMICALLY PRUNES the scan to the buckets its terms hash into
  *     (the e27 cell_id pattern; PlansSpec pins `dynamicpruning`).
  *     Bucket ids never touch scores, so the engine-specific hash is
  *     oracle-safe.
  *   - `terms` (term, df): document frequencies. Batches hold DISJOINT
  *     items (the monotone-id append guard), so per-term df merges by
  *     plain addition — the MvMaintain "sum" algebra.
  *   - `stats` (n_docs, len_sum, n_buckets): exact-integer corpus totals;
  *     avgdl derives at serve time with the same double division the
  *     recompute path uses, so served scores are BIT-IDENTICAL.
  *   - `items` (keyCols..., len): one row per indexed item, INCLUDING
  *     zero-token items (which have no posting rows but count in
  *     n_docs) — the bookkeeping that makes [[retractFromIndex]] exact.
  *
  * Incremental maintenance: each batch tokenizes ONLY its own docs (the
  * per-item tf rows are row-local + one per-item aggregate, identical to
  * what a full rebuild would produce for those items), postings
  * bag-union-append under the monotone-id guard, df/len/n_docs add.
  * A replayed batchId is a no-op (the versioned-commit contract), and
  * the three parts commit under one atomic rename — no cross-part crash
  * window. Maintained state ≡ full rebuild row-for-row (StreamingSpec).
  *
  * Serving ([[bm25TopKBatchFromIndex]]) reads the committed parts and
  * runs [[TextAnalysis.bm25BatchRank]] — the SAME expression tree as the
  * recompute path — with zero corpus tokenization: the only corpus-sized
  * input is the bucket-pruned posting scan. At 100 TB the per-batch cost
  * drops from "re-tokenize + re-aggregate the corpus" to "scan the
  * probed posting buckets", exactly what the e30 gate row certifies
  * (served output ≡ recompute output, hash-exact).
  */
object Bm25Index {

  val PostingsPart = "postings"
  val TermsPart = "terms"
  val StatsPart = "stats"
  val ItemsPart = "items"

  /** The three delta frames for one batch of `corpus` docs — pure
    * functions of the batch (tokenize → per-item tf; per-term df; corpus
    * totals), so a delta's rows are bit-identical to the corresponding
    * rows of a full rebuild. */
  private def buildDelta(
      corpus: DataFrame, keyCols: Seq[String], textCol: String,
      nBuckets: Int): Seq[(String, DataFrame)] = {
    require(keyCols.nonEmpty && nBuckets > 0)
    val base = corpus.select(keyCols.map(col) :+
        TextAnalysis.tokens(col(textCol)).as("toks"): _*)
      .select(keyCols.map(col) :+ size(col("toks")).cast("long").as("len") :+
        col("toks"): _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("len")), lit(0L)).as("len_sum"))
      .withColumn("n_buckets", lit(nBuckets))
    val tf = base
      .select(keyCols.map(col) :+ col("len") :+
        explode(col("toks")).as("term"): _*)
      .groupBy(keyCols.map(col) :+ col("len") :+ col("term"): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
    val postings = tf.withColumn("__tb",
      pmod(hash(col("term")), lit(nBuckets)))
    val terms = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // one row per item (INCLUDING zero-token items, which have no posting
    // rows but do count in n_docs) — what makes retraction exact
    val items = base.select(keyCols.map(col) :+ col("len"): _*)
    Seq(PostingsPart -> postings, TermsPart -> terms, StatsPart -> stats,
      ItemsPart -> items)
  }

  // disjoint item sets (the monotone-id guard) make df additive per term
  private val termsMerge = (st: DataFrame, dl: DataFrame) =>
    st.as("s").join(dl.as("d"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("s.df"), lit(0L)) + coalesce(col("d.df"), lit(0L)))
          .as("df"))

  // one-row exact-integer totals; a bucket-count drift would silently
  // split a term across partitions, so it raises instead
  private val statsMerge = (st: DataFrame, dl: DataFrame) =>
    st.as("s").crossJoin(dl.as("d")).select(
      (col("s.n_docs") + col("d.n_docs")).as("n_docs"),
      (col("s.len_sum") + col("d.len_sum")).as("len_sum"),
      when(col("s.n_buckets") === col("d.n_buckets"), col("s.n_buckets"))
        .otherwise(raise_error(concat(lit("bm25 index bucket count " +
          "drifted: indexed "), col("s.n_buckets"),
          lit(" vs delta "), col("d.n_buckets"),
          lit(" — rebuild the index")))
          .cast("int"))
        .as("n_buckets"))

  /** A committed index without the `items` part was written before items
    * bookkeeping existed — extending or retracting it would silently
    * desynchronize the corpus totals, so both raise with the explicit
    * remedy instead of a raw missing-path read error downstream. */
  private def requireItemsPart(spark: SparkSession, statePath: String): Unit =
    if (!IncrementalAgg.hasStatePart(spark, statePath, ItemsPart))
      throw new IllegalStateException(
        s"bm25 index at $statePath predates items bookkeeping (no " +
          s"'$ItemsPart' part) — rebuild required: re-extend the index " +
          "from the corpus with the current extendIndex")

  /** Merge one batch of docs into the index at `statePath` under the
    * exactly-once versioned-commit protocol (bootstraps on first call).
    * Batch ids monotone; delta item ids strictly above everything
    * indexed (overlap raises — a duplicated item would double-count df
    * and score wrong). The commit is O(delta + vocabulary), NEVER
    * O(index): postings and items land as new immutable segments
    * ([[IncrementalAgg.appendOnceWithParts]]) while only the
    * vocabulary-bounded terms table and the one-row stats rewrite. */
  def extendIndex(
      spark: SparkSession, statePath: String, deltaCorpus: DataFrame,
      keyCols: Seq[String], textCol: String, batchId: Long,
      nBuckets: Int = 64): Unit = {
    if (IncrementalAgg.latestVersion(spark, statePath).nonEmpty)
      requireItemsPart(spark, statePath)
    val deltas = buildDelta(deltaCorpus, keyCols, textCol, nBuckets).toMap
    IncrementalAgg.appendOnceWithParts(spark, statePath, batchId,
      appendDeltas = Seq(PostingsPart -> deltas(PostingsPart),
        ItemsPart -> deltas(ItemsPart)),
      rewriteDeltas = Seq(TermsPart -> deltas(TermsPart),
        StatsPart -> deltas(StatsPart)),
      rewriteMerges = Map(TermsPart -> termsMerge, StatsPart -> statsMerge),
      partitionCols = Map(PostingsPart -> Seq("__tb")),
      // items records zero-token items too, so its guard is the binding
      // one; the postings guard catches a non-item posting drift early
      guardIdCols = Map(PostingsPart -> keyCols.head,
        ItemsPart -> keyCols.head))
  }

  /** [[TextAnalysis.bm25TopKBatch]] served from the committed index at
    * `statePath`: the query batch tokenizes (batch-sized), its term set
    * broadcast-joins the bucket-partitioned posting scan on
    * (__tb, term) — DPP prunes unprobed buckets — df and corpus stats
    * come from the stored parts, and the shared
    * [[TextAnalysis.bm25BatchRank]] tail produces bit-identical scores
    * to the recompute path. No corpus tokenization anywhere in the
    * serving plan (PlansSpec pins it). */
  def bm25TopKBatchFromIndex(
      spark: SparkSession, statePath: String, queries: DataFrame,
      keyCols: Seq[String], queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(keyCols.nonEmpty && k >= 1)
    val postings = IncrementalAgg.readStatePart(spark, statePath, PostingsPart)
    val terms = IncrementalAgg.readStatePart(spark, statePath, TermsPart)
    val stats = IncrementalAgg.readStatePart(spark, statePath, StatsPart)
    // one driver-side row: the bucket count is an index constant the
    // query side must hash with
    val nBuckets = stats.select(col("n_buckets")).head.getInt(0)
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol))))
        .as("term"))
    val qset = qterms.select(col("term")).distinct()
      .withColumn("__tb", pmod(hash(col("term")), lit(nBuckets)))
    val tfq = postings.join(broadcast(qset), Seq("__tb", "term"))
      .drop("__tb")
    val dfs = terms.join(broadcast(qset.select(col("term"))), Seq("term"))
      .select(col("term"), col("df").cast("double").as("df"))
    val withDf = tfq.join(broadcast(dfs), Seq("term"))
    // same double derivation as the recompute path's one-row aggregate:
    // count cast to double, long token sum cast to double, one IEEE divide
    val statsD = stats.select(
      col("n_docs").cast("double").as("n_docs"),
      (col("len_sum").cast("double") / col("n_docs")).as("avgdl"))
    TextAnalysis.bm25BatchRank(withDf, statsD, qterms, keyCols, k, k1, b)
  }

  /** Version-exact query-RESULT cache over [[bm25TopKBatchFromIndex]] —
    * [[IncrementalAgg.cachedServe]] instantiated for the sparse tier:
    * the cache key is md5(query text, k, k1, b, INDEX VERSION), so index
    * maintenance invalidates by construction; hits resolve with one
    * broadcast join, only misses pay the bucket-pruned serve (appended
    * O(misses) under the exactly-once commit), and an all-hit batch's
    * plan scans ONLY cache parquet — zero posting-index reads (PlansSpec
    * pins it). Cached scores are the exact fixed-point integers the
    * direct path computes, so cached ≡ direct bit-for-bit, column order
    * included (drop-in). Entries from superseded index versions are dead
    * weight until [[IncrementalAgg.compactRows]]-style hygiene; at
    * 100 TB the cache state is (head-query count × k) rows — trivially
    * small next to the index. */
  def bm25TopKBatchCached(
      spark: SparkSession, statePath: String, cachePath: String,
      queries: DataFrame, keyCols: Seq[String], queryIdCol: String,
      queryTextCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(keyCols.nonEmpty && k >= 1)
    val version = IncrementalAgg.latestVersion(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"bm25TopKBatchCached: no committed index under $statePath"))
    IncrementalAgg.cachedServe(spark, cachePath, queries, queryIdCol,
      queryTextCol,
      digestSalt = Seq(version.toString, k.toString, k1.toString,
        b.toString),
      serve = mq => bm25TopKBatchFromIndex(spark, statePath, mq, keyCols,
        "query_id", "__qtext", k, k1, b))
  }

  /** Cache MAINTENANCE for [[bm25TopKBatchCached]]'s result cache: evict
    * entries whose salt no longer matches the CURRENT committed index
    * version + serve parameters (they can never hit again — dead weight
    * every index maintenance leaves behind) and fold the cache's
    * per-miss-batch segments into one. Fires only when the cache has
    * accumulated more than `maxSegments` segments (one manifest read),
    * so a serving loop calls it after every batch for free. Read-
    * invisible for every LIVE entry: post-maintenance hits serve the
    * same bytes (StreamingSpec pins it). Returns whether a prune
    * committed. */
  def maintainQueryCache(
      spark: SparkSession, statePath: String, cachePath: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxSegments: Int = 8): Boolean = {
    val version = IncrementalAgg.latestVersion(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"maintainQueryCache: no committed index under $statePath"))
    IncrementalAgg.maintainCachedServe(spark, cachePath,
      Seq(version.toString, k.toString, k1.toString, b.toString),
      IncrementalAgg.latestVersion(spark, cachePath).getOrElse(-1L) + 1L,
      maxSegments)
  }

  /** Deletion propagation — retract a set of items from the committed
    * index WITHOUT touching the corpus (the 100 TB deletion-request path:
    * a takedown cannot afford a rebuild, and the index itself already
    * knows everything a rebuild would recompute about the deleted items).
    * The commit WRITES O(deletes + vocabulary), never O(index): the
    * deleted items land as a TOMBSTONE segment (full key rows, resolved
    * from the live `items` part so a key-prefix delete — every chunk of a
    * doc — works and a re-delete no-ops), per-term df subtracts the
    * deleted items' own posting rows (terms reaching df 0 drop — exactly
    * what a rebuild would not emit; vocabulary-bounded rewrite), and the
    * exact-integer corpus totals subtract the deleted items' count/len
    * (the `items` part records zero-token items too, so totals stay exact
    * even for items with no postings). Postings/items DATA BYTES are
    * untouched — [[IncrementalAgg.readStatePart]] applies the tombstones
    * as a broadcast anti-join, so every read (serving included) remains ≡
    * rebuild on the surviving corpus, row-for-row (the e34 gate), and
    * [[compactIndex]] folds tombstones into a rewritten segment on an
    * amortized schedule. */
  def retractFromIndex(
      spark: SparkSession, statePath: String, deleteKeys: DataFrame,
      keyCols: Seq[String], batchId: Long): Unit = {
    require(IncrementalAgg.latestVersion(spark, statePath).nonEmpty,
      "retractFromIndex: no committed index state to retract from")
    requireItemsPart(spark, statePath)
    val dcols = deleteKeys.columns.toSeq
    require(dcols.nonEmpty && dcols.forall(keyCols.contains),
      s"delete-key columns $dcols must be a subset of index keys $keyCols")
    // segment-range pruning: when the delete keys carry the guard id
    // (keyCols.head — the takedown shape), the correction scans read ONLY
    // the segments whose committed [min, max] id range the delete set
    // intersects (usually the one batch the items arrived in), never the
    // whole state. Delete sets without the head key fall back to a full
    // (still read-only, column-pruned) scan. The bounds are observed in
    // the delete keys' own checkpoint job.
    val headKey = dcols.contains(keyCols.head)
    val obs = Observation()
    val keys = deleteKeys.distinct()
    val del = (if (headKey) keys.observe(obs,
        min(col(keyCols.head).cast("long")), max(col(keyCols.head).cast("long")))
      else keys).localCheckpoint(true)
    val terms = IncrementalAgg.readStatePart(spark, statePath, TermsPart)
    val stats = IncrementalAgg.readStatePart(spark, statePath, StatsPart)
    val bounds: Option[(Long, Long)] =
      if (headKey) {
        val r = IncrementalAgg.observed(obs)
        if (r.isNullAt(0)) Some((0L, -1L)) else
          Some((r.getLong(0), r.getLong(1)))
      } else None
    def ranged(part: String): DataFrame = bounds match {
      case Some((lo, hi)) =>
        IncrementalAgg.readStatePartRanged(spark, statePath, part, lo, hi)
      case None => IncrementalAgg.readStatePart(spark, statePath, part)
    }
    val postings = ranged(PostingsPart)
    val items = ranged(ItemsPart)
    // the dying LIVE items (tombstone-resolved reads make a replayed or
    // repeated delete a no-op), materialized once: they feed the
    // tombstone segment, the stats correction, and the df correction
    val dead = items.join(broadcast(del), dcols, "left_semi")
      .localCheckpoint(true)
    try {
      val tombs = dead.select(keyCols.map(col): _*)
      val removed = dead.agg(count(lit(1)).as("__n"),
        coalesce(sum(col("len")), lit(0L)).as("__l"))
      val newStats = stats.crossJoin(removed).select(
        (col("n_docs") - col("__n")).as("n_docs"),
        (col("len_sum") - col("__l")).as("len_sum"),
        col("n_buckets"))
      val dfDelta = postings.join(broadcast(tombs), keyCols, "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("__d"))
      val newTerms = terms.join(dfDelta, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("__d"), lit(0L))).as("df"))
        .filter(col("df") > 0)
      val replace = (_: DataFrame, dl: DataFrame) => dl
      // partitionCols declared even though this commit appends only
      // tombstones: if the committed index predates the segment manifest,
      // the commit's one-time legacy migration moves the BASE postings
      // part into a segment and must keep its __tb bucket layout (a
      // migration without it would mix partitioned and unpartitioned
      // segment dirs under one part — an unreadable table)
      IncrementalAgg.appendOnceWithParts(spark, statePath, batchId,
        appendDeltas = Seq(
          IncrementalAgg.tombstonePart(PostingsPart) -> tombs,
          IncrementalAgg.tombstonePart(ItemsPart) -> tombs),
        rewriteDeltas = Seq(TermsPart -> newTerms, StatsPart -> newStats),
        rewriteMerges = Map(TermsPart -> replace, StatsPart -> replace),
        partitionCols = Map(PostingsPart -> Seq("__tb")))
    } finally { Dedup.release(dead); Dedup.release(del) }
  }

  /** Fold accumulated tombstones into rewritten postings/items segments
    * (one O(index) rewrite amortized over many O(deletes) retractions —
    * the compaction schedule is the caller's; terms/stats are already
    * exact and carry forward). Reads are row-identical before and after:
    * compaction only changes the committed file layout. */
  def compactIndex(
      spark: SparkSession, statePath: String, batchId: Long): Unit = {
    requireItemsPart(spark, statePath)
    IncrementalAgg.compactOnceWithParts(spark, statePath, batchId,
      Seq(PostingsPart, ItemsPart),
      partitionCols = Map(PostingsPart -> Seq("__tb")))
  }

  /** [[compactIndex]] on the amortized SCHEDULE: folds iff the committed
    * tombstone fraction of either data part exceeds `maxFraction` — the
    * decision is one manifest read ([[IncrementalAgg.tombstoneFraction]]),
    * so a takedown pipeline calls this after every retraction batch and
    * pays the O(index) rewrite only when it is due. `maxTombRows`
    * defaults ON at the read path's broadcast ceiling
    * ([[IncrementalAgg.TombBroadcastMaxRows]]): an untuned deployment
    * folds before serving ever degrades to the shuffled anti-join.
    * Returns whether a compaction committed. */
  def compactIndexWhenDue(
      spark: SparkSession, statePath: String, batchId: Long,
      maxFraction: Double = 0.2,
      maxTombRows: Long = IncrementalAgg.TombBroadcastMaxRows,
      maxTombBytes: Long = Long.MaxValue): Boolean = {
    requireItemsPart(spark, statePath)
    IncrementalAgg.compactWhenDue(spark, statePath, batchId,
      Seq(PostingsPart, ItemsPart), maxFraction,
      partitionCols = Map(PostingsPart -> Seq("__tb")),
      maxTombRows = maxTombRows, maxTombBytes = maxTombBytes)
  }

  /** Segment-count maintenance for a LONG-RUNNING ingest stream: each
    * extend batch commits one postings segment and one items segment
    * forever — and each takedown batch one tombstone segment per data
    * part — so an unmaintained stream accumulates an unbounded manifest
    * and small-file pressure even when the tombstone VOLUME never trips
    * [[compactIndexWhenDue]]'s row/byte triggers.
    * [[IncrementalAgg.compactSegmentsWhenDue]] folds the small-segment
    * SUFFIX of all four parts (data AND tombstones) when any exceeds
    * `maxSegments` — read-invisible (pure file layout; a folded tombstone
    * segment is the same delete-key bag, still applied at read), monotone
    * guard preserved, earlier large folds never re-read. One manifest
    * read decides; call it after every extend or retract. */
  def compactIndexSegmentsWhenDue(
      spark: SparkSession, statePath: String, batchId: Long,
      maxSegments: Int = 16,
      smallRows: Long = IncrementalAgg.AutoSmallRows): Boolean = {
    requireItemsPart(spark, statePath)
    IncrementalAgg.compactSegmentsWhenDue(spark, statePath, batchId,
      Seq(PostingsPart, ItemsPart,
        IncrementalAgg.tombstonePart(PostingsPart),
        IncrementalAgg.tombstonePart(ItemsPart)),
      maxSegments, smallRows,
      partitionCols = Map(PostingsPart -> Seq("__tb")))
  }
}
