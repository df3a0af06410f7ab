package graft

import org.apache.spark.sql.functions.{col, count, lit, pmod, when}

/** Physical-plan regression tests: the load-bearing plan properties from
  * the PLANS.md audits, asserted in sbt so a planner/formulation regression
  * fails the build instead of waiting for a human to re-read explain
  * output. Assertions are on `executedPlan.toString` at sf0.001 — every
  * property below is SF-independent (explicit broadcast() hints, pushed
  * filters, checkpoint reuse), not an AQE size decision. */
class PlansSpec extends SparkTestBase {

  private def plan(name: String): String = {
    graft.functions.GraftFunctions.register(spark)
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q19 (TPC-H Q1): shipdate filter pushed to the scan; partial→final aggregate") {
    val p = plan("q19_agg")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "shipdate filter must reach the parquet scan")
    assert(p.contains("partial_"), "map-side partial aggregation missing")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial and final HashAggregate phases")
  }

  test("q02: all three predicates pushed to the parquet scan") {
    // the plan STRING truncates long PushedFilters lists — read the scan
    // node's metadata map instead
    graft.functions.GraftFunctions.register(spark)
    val pushed = SparkEntry.queries("q02_filter")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }.mkString("; ")
    assert(pushed.contains("GreaterThan(l_quantity"))
    assert(pushed.contains("LessThanOrEqual(l_discount"))
    assert(pushed.contains("EqualTo(l_returnflag,R)"))
  }

  test("q09/q14: dim side broadcast; semi join stays semi") {
    assert(plan("q09_join_inner").contains("BroadcastHashJoin"),
      "customer dim must broadcast, not sort-merge")
    assert(plan("q14_join_semi").contains("LeftSemi"))
  }

  test("q68 (TPC-H Q18): semi-join gate present, no row-multiplying join") {
    val p = plan("q68_tpch_q18")
    assert(p.contains("LeftSemi"), "the big-quantity gate must be a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q69 (TPC-H Q15): revenue view scans lineitem once, via the checkpoint") {
    val p = plan("q69_tpch_q15")
    assert(p.contains("ExistingRDD"),
      "revenue view must be served from the localCheckpoint")
    assert(!p.contains("lineitem.parquet"),
      "a lineitem FileScan in the final plan means the checkpoint reuse broke " +
        "(Spark would plan a second full scan for the max() side)")
  }

  test("q76 (TPC-H Q21): one lineitem scan feeds l1 + EXISTS + NOT EXISTS") {
    val p = plan("q76_tpch_q21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "EXISTS must compile to semi, NOT EXISTS to anti")
    assert(p.contains("ExistingRDD"), "the shared pruned scan must be checkpointed")
    assert(!p.contains("lineitem.parquet"),
      "all three lineitem consumers must read the single checkpointed scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q77 (TPC-H Q2): correlated MIN decorrelates to aggregate + equi-join") {
    val p = plan("q77_tpch_q2")
    assert(p.contains("min(l_extendedprice)"),
      "the correlated scalar subquery must become a per-part min aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decorrelation must not fall back to a nested-loop re-execution")
  }

  test("q78 (TPC-H Q4): non-equi EXISTS compiles to a semi join, not a loop") {
    val p = plan("q78_tpch_q4")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q80 (TPC-H Q17): correlated AVG decorrelates to per-part aggregate + join") {
    val p = plan("q80_tpch_q17")
    assert(p.contains("avg(l_quantity"),
      "the correlated scalar subquery must become a per-part avg aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decorrelation must not fall back to a nested-loop re-execution")
  }

  test("q81 (TPC-H Q20): correlated HAVING decorrelates; IN plans as semi join") {
    val p = plan("q81_tpch_q20")
    assert(p.contains("LeftSemi"), "the IN-subquery must compile to a semi join")
    assert("sum\\(l_quantity".r.findAllIn(p).size >= 2,
      "expected both the grouped sum and the decorrelated per-part total")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("e10 (IVF-PQ): probed cells prune the code-table scan dynamically") {
    val p = plan("e10_ivfpq_recall")
    assert(p.contains("dynamicpruning"),
      "the broadcast (probe, cell) pairs must dynamically prune the " +
        "cell_id-partitioned index scan — without DPP the ADC stage reads " +
        "every cell's codes and IVF adds nothing over plain PQ")
  }

  test("e27 (chunk IVF): probed cells prune the persisted chunk-index scan dynamically") {
    // the e27 row's curve is checkpointed (settings share the exact
    // baseline), so pin the SERVE plan directly: persist the cell-
    // partitioned index, serve a query batch, and require the broadcast
    // (query, cell) probe pairs to dynamically prune the index scan —
    // without DPP every serve reads the whole chunk table and the tier
    // adds nothing over e26's scan-per-batch (the r15 weak this closes)
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Similarity
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(pmod(col("doc_id"), lit(101)) === 5)
    val index = Similarity.chunkIndex(
      docs.filter(pmod(col("doc_id"), lit(101)) =!= 5), "doc_id", "text")
    val cents = Similarity.chunkIvfCentroidsCollected(index, nCells = 4)
    val dir = Artifacts.dir("e27plan").toPath
      .resolve("index").toString
    Similarity.chunkIvfIndex(index, cents)
      .write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    val served = Similarity.chunkRetrieveFromIvfIndex(
      spark.read.parquet(dir), cents, queries, "doc_id", "text",
      k = 3, nProbe = 2)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      "probed cells must prune the cell_id-partitioned index scan: " +
        p.take(4000))
    assert(!p.contains("CartesianProduct"),
      "the serve join must be the cell equi-join, never a cross product")
  }

  test("e30 (BM25 index): serving plan prunes posting buckets and never tokenizes the corpus") {
    // the r16 weak: bm25TopKBatch re-tokenized the corpus inside every
    // invocation. Two pins: (a) with a CHECKPOINTED query batch, every
    // file scan in the serving plan is an index part — no corpus read,
    // hence no corpus tokenization anywhere (the one legitimate tokenize
    // is batch-sized, over the in-memory queries); (b) on the PRODUCTION
    // rows, whose query batch is the filtered parquet read (the selective
    // predicate DPP's benefit heuristic wants — a checkpoint's unknown
    // stats legitimately suppress it), the (bucket, term) broadcast join
    // dynamically prunes the __tb-partitioned posting scan.
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, Packing}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(pmod(col("doc_id"), lit(101)) === 5)
      .localCheckpoint(true)
    val chunks = Packing
      .chunkTokens(docs.filter(pmod(col("doc_id"), lit(101)) =!= 5),
        "doc_id", "text", 16, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    val state = Artifacts.dir("e30plan").toPath
      .resolve("state").toString
    Bm25Index.extendIndex(spark, state, chunks,
      Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
    val served = Bm25Index.bm25TopKBatchFromIndex(spark, state, queries,
      Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    // sparkPlan, not executedPlan: AQE wraps the tree and collect() would
    // not descend into it (the q02 pushed-filters pin does the same)
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("Location", "")
    }
    assert(scans.nonEmpty && scans.forall(_.contains("e30plan")),
      s"every file scan in the serving plan must read an index part — a " +
        s"corpus scan means serving re-tokenizes at 100 TB: $scans")
    // the production rows must prune — without DPP every serve reads the
    // whole posting table and the index adds nothing over the recompute
    // path (e31's plan prunes BOTH serving tiers: posting buckets and
    // IVF cells)
    assert(plan("e30_bm25_index_served").contains("dynamicpruning"),
      "query term buckets must dynamically prune the posting scan")
    assert(plan("e31_hybrid_served").contains("dynamicpruning"),
      "the hybrid serve must keep dynamic pruning on its index scans")
    // segment folds are pure file layout — the folded state's serve must
    // keep the SAME dynamic bucket pruning (a fold that dropped the __tb
    // partitioning would silently turn every serve into a full posting
    // scan at 100 TB)
    assert(plan("e42_bm25_segments_folded").contains("dynamicpruning"),
      "the segment-maintained index must keep dynamic bucket pruning")
  }

  test("e39 (cached serving): an all-hit batch scans ONLY the cache, never the posting index") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, Packing}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // checkpointed query batch (the e30 pin's style): every remaining
    // file scan is then attributable to the serve itself
    val queries = docs.filter(pmod(col("doc_id"), lit(101)) === 5)
      .localCheckpoint(true)
    val chunks = Packing
      .chunkTokens(docs.filter(pmod(col("doc_id"), lit(101)) =!= 5),
        "doc_id", "text", 16, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    val base = Artifacts.dir("e39plan").toPath
    val state = base.resolve("state").toString
    val cache = base.resolve("qcache").toString
    Bm25Index.extendIndex(spark, state, chunks,
      Seq("doc_id", "chunk_id"), "chunk_text", batchId = 0L)
    def serve() = Bm25Index.bm25TopKBatchCached(spark, state, cache,
      queries, Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)
    serve().count() // populate
    val hot = serve()
    val scans = hot.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("Location", "")
    }
    assert(scans.nonEmpty && scans.forall(_.contains("qcache")),
      s"an all-hit serve must read only the cache state — a posting or " +
        s"corpus scan means repeated queries re-pay the index serve: $scans")
    // and the cached pass is output-identical to the direct serve
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toString).sorted.toSeq
    assert(canon(hot) == canon(Bm25Index.bm25TopKBatchFromIndex(spark,
      state, queries, Seq("doc_id", "chunk_id"), "doc_id", "text", k = 10)))
  }

  test("d14 (token packing): one hash shuffle on shard, never a global sort partition") {
    val p = plan("d14_token_packing")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "packing must shuffle exactly once, on the shard key")
    assert(!p.contains("SinglePartition"),
      "a single-partition exchange means the per-shard windows collapsed " +
        "into one global ordering partition")
  }

  test("d24 (range-sharded scan): shard pruning happens at planning time") {
    val p = plan("d24_pruned_scan")
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "the shard IN-list must appear as a partition filter (planning-time " +
        "pruning), not a post-scan row filter")
  }

  test("q83 (TPC-H Q6): every predicate reaches the parquet scan") {
    graft.functions.GraftFunctions.register(spark)
    val pushed = SparkEntry.queries("q83_tpch_q6")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "")
      }.mkString("; ")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"))
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.02)"))
    assert(pushed.contains("LessThanOrEqual(l_discount,0.04)"))
    assert(pushed.contains("LessThan(l_quantity,24.0)"),
      s"all Q6 predicates must push to the scan, got: $pushed")
    assert(plan("q83_tpch_q6").contains("partial_"),
      "the revenue sum must combine map-side")
  }

  test("q85 (TPC-H Q19): disjunctive brackets stay a hash join with per-side pushdown") {
    // the OR-of-AND brackets must NOT force a nested loop: Catalyst
    // extracts the conjunct equi-key for the join and derives per-side
    // implications of the disjunction as scan pushdowns
    graft.functions.GraftFunctions.register(spark)
    val qe = SparkEntry.queries("q85_tpch_q19")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "equi-key must be extracted for a hash join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    val pushed = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      "the lineitem-side implication of the bracket disjunction must push " +
        s"to the scan, got: $pushed")
  }

  test("q86 (TPC-H Q8): dims broadcast; region gate is a semi join") {
    val p = plan("q86_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "part, supplier-nation, and nation-region dims must all broadcast")
    assert(p.contains("LeftSemi"),
      "the ASIA-nations gate must not multiply customer rows")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q87 (TPC-H Q11): grouped supply scanned once via checkpoint; threshold broadcast") {
    val p = plan("q87_tpch_q11")
    assert(!p.contains("lineitem.parquet"),
      "both threshold and filter must read the checkpointed per-part " +
        "table, never rescan lineitem")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the one-row threshold must broadcast into the filter")
  }

  test("runtime bloom filter prunes the fact side of a selective non-broadcast join") {
    // the 100 TB lever for selective fact-dim joins too big to broadcast:
    // Spark injects a bloom_filter_agg on the dim side and a
    // BloomFilterMightContain predicate into the fact scan stage, so
    // non-matching fact rows drop BEFORE the shuffle. Thresholds here are
    // lowered to trigger at test SF; at cluster scale the defaults
    // (10 GB application side) fire on their own — this pins that our
    // join shapes stay eligible (equi-key under a shuffle join).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(spark, sf)
        .select(col("l_partkey"), col("l_extendedprice"))
      val dim = Tables.part(spark, sf)
        .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
      val opt = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") || opt.contains("BloomFilter"),
        s"expected a runtime bloom filter on the fact side, got:\n$opt")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed shuffle-join partition (join shapes stay skew-eligible)") {
    // complements the MANUAL salting rows (q55/q56, planning-time, for known
    // hot keys): AQE skew handling is the runtime path for skew you didn't
    // predict. Thresholds lowered to fire at test size; cluster defaults
    // (256 MB) fire on their own. Pins that a plain equi-key sort-merge
    // join — our big-big join shape — remains eligible: AQE marks the join
    // skew=true and splits the hot partition into parallel reads.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~99% of fact rows land on key 7 — one hot shuffle partition
      val fact = spark.range(300000).select(
        when(pmod(col("id"), lit(100)) =!= 0, lit(7L))
          .otherwise(pmod(col("id"), lit(50))).as("k"),
        col("id").as("v"))
      val dim = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, Seq("k"))
      // drain THIS dataframe so its adaptive plan fully finalizes
      import scala.jdk.CollectionConverters._
      assert(joined.toLocalIterator().asScala.length == 300000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true") && p.contains("AQEShuffleRead skewed"),
        s"expected AQE to mark and split the skewed join partition, got:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q88 (TPC-H Q12) / q89 (TPC-H Q16): equi-joins only; exclusion stays anti") {
    val p88 = plan("q88_tpch_q12")
    assert(!p88.contains("CartesianProduct") && !p88.contains("BroadcastNestedLoopJoin"),
      "the lateness predicate must ride the orderkey equi-join as a residual")
    val p89 = plan("q89_tpch_q16")
    assert(p89.contains("LeftAnti"),
      "the negative-balance supplier exclusion must be an anti join")
    assert(!p89.contains("CartesianProduct") && !p89.contains("BroadcastNestedLoopJoin"))
  }

  test("d35 (dup spans): shuffles key on the 8-byte gram digest, never the string") {
    val p = plan("d35_dupspan")
    assert(p.contains("Exchange hashpartitioning(gh"),
      "gram aggregation and join-back must shuffle on the xxhash64 digest")
    assert(!p.contains("Exchange hashpartitioning(gram"),
      "a shuffle keyed on the raw gram string defeats the digest-first design")
  }

  test("q91 (MV rewrite): roll-up served from the summary MV, no fact scan") {
    val p = plan("q91_mv_rewrite")
    assert(p.contains("graft_mv_"),
      "aggregate navigation must rewrite the query to scan the summary MV")
    assert(!p.contains("lineitem.parq"),
      "a lineitem FileScan means the MvRewrite rule did not fire")
    // ground truth: the same query with the rule stripped scans the fact
    // table and returns IDENTICAL rows (exactness of partial re-aggregation)
    val mvRows = SparkEntry.queries("q91_mv_rewrite")(spark, sf).collect().toSeq
    val base = SparkEntry.queries("q91_mv_rewrite")(spark, sf)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ == graft.plans.MvRewrite)
      assert(base.queryExecution.executedPlan.toString.contains("lineitem.parq"),
        "control run must scan the fact table once the rule is stripped")
      assert(base.collect().toSeq == mvRows)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("e17 (JL two-tier): shortlist served from the persisted tier-1 index") {
    val p = plan("e17_jl_recall")
    assert(p.contains("graft_index_jl"),
      "the shortlist must scan the persisted reduced-vector index, " +
        "not re-project the corpus")
  }

  test("q104 (MV join-back): fact⋈dim aggregate served from MV + dim, no fact scan") {
    val p = plan("q104_mv_joinback")
    assert(p.contains("graft_mvord_"),
      "join-back must rewrite the fact side to the per-custkey summary MV")
    assert(!p.contains("orders.parq"),
      "an orders FileScan means the join-back rewrite did not fire")
    assert(p.contains("customer.parq"),
      "the dim side must be reused verbatim")
    // ground truth: the rule-stripped run scans orders and returns
    // IDENTICAL rows (join-back re-aggregation is exact under key
    // multiplicity — partials and raw rows multiply identically)
    val mvRows = SparkEntry.queries("q104_mv_joinback")(spark, sf).collect().toSeq
    val base = SparkEntry.queries("q104_mv_joinback")(spark, sf)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ == graft.plans.MvRewrite)
      assert(base.queryExecution.executedPlan.toString.contains("orders.parq"),
        "control run must scan the fact table once the rule is stripped")
      assert(base.collect().toSeq == mvRows)
    } finally spark.experimental.extraOptimizations = saved
    // a fact-side aggregate the MV cannot serve (grouping outside the MV
    // keys) falls through to the fact scan even through the join
    val outside = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    assert(outside.queryExecution.executedPlan.toString.contains("orders.parq"),
      "a fact grouping column the MV lacks must scan the fact table")
  }

  test("q105 (MV snowflake): N-ary join-back — no fact scan, no cartesian") {
    val p = plan("q105_mv_snowflake")
    assert(p.contains("graft_mvord_"),
      "snowflake join-back must serve the fact side from the MV")
    assert(!p.contains("orders.parq"),
      "an orders FileScan means the N-ary join-back did not fire")
    assert(p.contains("customer.parq") && p.contains("nation.parq"),
      "both dim legs must be reused verbatim")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      "every rebuilt join must carry its condition (hash joins only)")
    // ground truth: rule-stripped run scans orders, identical rows
    val mvRows = SparkEntry.queries("q105_mv_snowflake")(spark, sf).collect().toSeq
    val base = SparkEntry.queries("q105_mv_snowflake")(spark, sf)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ == graft.plans.MvRewrite)
      assert(base.queryExecution.executedPlan.toString.contains("orders.parq"))
      assert(base.collect().toSeq == mvRows)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("MV lattice navigation is by MEASURED bytes: a finer-but-smaller MV beats a coarse-but-wide one") {
    import org.apache.spark.sql.functions.{concat, concat_ws, max, md5, sequence, sum => fsum, transform => ftransform}
    val dir = Artifacts.dir("mvcost").toPath
    val factPath = dir.resolve("fact").toString
    // fact: g2 refines g1; bigstr is ~64 KB of incompressible hex per row
    spark.range(0, 2000)
      .select(col("id"), (col("id") % 4).as("g1"), (col("id") % 500).as("g2"),
        col("id").as("v"),
        concat_ws("", ftransform(sequence(lit(1), lit(2000)),
          i => md5(concat(col("id").cast("string"), i.cast("string")))))
          .as("bigstr"))
      .write.mode("overwrite").parquet(factPath)
    val fact = spark.read.parquet(factPath)
    // COARSE MV: 4 rows, but drags a max(bigstr) measure — byte-heavy
    val coarsePath = dir.resolve("mv_coarse").toString
    def coarseDef = fact.groupBy(col("g1"))
      .agg(fsum(col("v")).as("mv_sum"), max(col("bigstr")).as("mv_big"))
    coarseDef.write.mode("overwrite").parquet(coarsePath)
    // FINE MV: 500 (g1, g2) rows, narrow — byte-light
    val finePath = dir.resolve("mv_fine").toString
    def fineDef = fact.groupBy(col("g1"), col("g2"))
      .agg(fsum(col("v")).as("mv_sum"))
    fineDef.write.mode("overwrite").parquet(finePath)
    assert(graft.sources.Sinks.dirBytes(spark, coarsePath) >
      graft.sources.Sinks.dirBytes(spark, finePath),
      "test setup: the coarse MV must be byte-heavier")
    try {
      graft.plans.MvRewrite.register(spark, factPath, coarseDef, coarsePath,
        Seq("g1"), Map("mv_sum" -> "sum", "mv_big" -> "max"))
      graft.plans.MvRewrite.register(spark, factPath, fineDef, finePath,
        Seq("g1", "g2"), Map("mv_sum" -> "sum"))
      def q = fact.groupBy(col("g1")).agg(fsum(col("v")).as("sv")).orderBy("g1")
      // coarsest-first would pick mv_coarse; measured bytes must pick
      // mv_fine (both answer exactly — only the scan cost differs). The
      // scanned roots, not the plan text: a scratch path may contain "fact"
      val roots = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
      assert(roots == Seq(finePath),
        s"only the smaller fine MV may be scanned, not the wide MV or the fact: $roots")
      // exactness: rule-stripped control returns identical rows
      val served = q.collect().toSeq
      val saved = spark.experimental.extraOptimizations
      try {
        spark.experimental.extraOptimizations =
          saved.filterNot(_ == graft.plans.MvRewrite)
        assert(q.collect().toSeq == served)
      } finally spark.experimental.extraOptimizations = saved
    } finally graft.plans.MvRewrite.unregister(factPath)
  }

  test("MV join-back on a BUSHY source: greedy dim ordering, no cartesian") {
    // fact ⋈ (dimA ⋈ dimB) with the fact key into dimB: flatten order puts
    // nation (dimA) before customer (dimB), so a flatten-order rebuild
    // would hand nation a condition-less join (a CartesianProduct). The
    // greedy-by-connectivity rebuild must pick customer first — the
    // rewrite still fires AND stays hash-joins-only.
    plan("q105_mv_snowflake") // registers the per-custkey orders MV
    import org.apache.spark.sql.functions.max
    def bushy = Tables.orders(spark, sf)
      .join(
        Tables.nation(spark, sf).join(Tables.customer(spark, sf),
          col("n_nationkey") === col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_orderkey")).as("max_ok"))
      .orderBy("n_name")
    val p = bushy.queryExecution.executedPlan.toString
    assert(p.contains("graft_mvord_"),
      "bushy join-back must still serve the fact side from the MV")
    assert(!p.contains("orders.parq"), "fact scan must disappear")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      "greedy dim ordering must never emit a condition-less join")
    // ground truth vs the rule-stripped plan
    val mvRows = bushy.collect().toSeq
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ == graft.plans.MvRewrite)
      val base = bushy
      assert(base.queryExecution.executedPlan.toString.contains("orders.parq"))
      assert(base.collect().toSeq == mvRows)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("s18 (streamed MV): post-refresh join-back serves the maintained version, no fact scan") {
    val p = plan("s18_stream_mv_joinback")
    assert(p.contains("mvjbstate"),
      "the aggregate must be served from the streaming-maintained MV version dir")
    assert(!p.contains("mvfact"),
      "a staged-fact FileScan means the post-refresh registration is stale")
    assert(p.contains("customer.parq"), "the dim side must be reused verbatim")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"))
    // ground truth: the rule-stripped run scans the staged fact and
    // returns IDENTICAL rows (maintained MV ≡ rebuilt-from-union MV)
    val mvRows = SparkEntry.queries("s18_stream_mv_joinback")(spark, sf)
      .collect().toSeq
    val base = SparkEntry.queries("s18_stream_mv_joinback")(spark, sf)
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ == graft.plans.MvRewrite)
      assert(base.queryExecution.executedPlan.toString.contains("mvfact"),
        "control run must scan the staged fact once the rule is stripped")
      assert(base.collect().toSeq == mvRows)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("q106 (AQE skew join): the split actually fires — skew=true on the SMJ") {
    // execute the planted-skew join under the test-scale thresholds and
    // read the FINAL adaptive plan: the hot partition must be detected
    // and split (salting — q56 — is the fallback for the cases the rule
    // declines; Skew.scala scaladoc enumerates them)
    val df = graft.queries.RelationalQueries.aqeSkewJoinDF(spark, sf)
    val p = graft.operators.Skew.withSkewJoinSplit(spark) {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(p.contains("SortMergeJoin(skew=true)"),
      s"AQE skew-join split did not fire:\n$p")
    assert(p.contains("skewed"),
      s"expected a skewed AQEShuffleRead on the hot side:\n$p")
    // and the row's materialized output equals the un-split plain join
    val viaRow = SparkEntry.queries("q106_aqe_skew_join")(spark, sf)
      .collect().toSeq
    val plain = df.orderBy("o_orderkey").collect().toSeq
    assert(viaRow == plain, "skew split must be result-invisible")
  }

  test("q93 (dt-partitioned events): planning-time partition pruning") {
    val p = plan("q93_partitioned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(dt") ||
      p.contains("PartitionFilters: [(dt"),
      "the date band must prune partitions at planning time, not post-scan")
    // the physical scan must carry the dt partition schema + filters
    // (sparkPlan, not executedPlan: AQE wraps the tree and hides leaves)
    graft.functions.GraftFunctions.register(spark)
    val scans = SparkEntry.queries("q93_partitioned_scan")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over the layout")
    assert(scans.head.relation.partitionSchema.fieldNames.sameElements(Array("dt")))
    assert(scans.head.metadata("PartitionFilters").nonEmpty)
  }

  test("d37 (BM25): two corpus scans, window df, heap-based top-k") {
    val p = plan("d37_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heaps, never a global sort Exchange")
    // scoring side tokenizes ONCE (df is a window over the tf frame, not
    // an agg joined back — that form re-scans the corpus); the only other
    // scan is the 1-row N/avgdl statistic
    assert("FileScan".r.findAllIn(p).size == 2,
      "expected exactly 2 corpus scans (tf pipeline + corpus stats)")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the corpus statistic must broadcast, never shuffle the tf frame")
  }

  test("d80 (dup-span removal): digest-keyed partial aggregation, no window-text shuffle key") {
    val p = plan("d80_dup_span_removal")
    // the wkey count+min and the per-doc mark aggregation both partial-
    // aggregate map-side — a hot boilerplate key must arrive at its
    // reducer as partials, never a raw occurrence list
    assert(p.contains("partial_count") && p.contains("partial_min"),
      "digest aggregation must run map-side partials")
    // shuffle keys are the md5 digest / doc id — the window TEXT must be
    // projected away before any exchange (fixed 32-byte keys at scale)
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9]+)"
      .r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(k => k.startsWith("wkey") || k.startsWith("doc_id")),
      s"expected only wkey/doc_id shuffle keys, got: $exchanges")
    assert(!p.contains("CartesianProduct"), "no cartesian in the dup join")
  }

  test("q92 (MV lattice): coarsest matching MV wins; non-matching falls through") {
    // q92 matches BOTH registered MVs (its keys ⊂ each MV's grouping set);
    // navigation must pick the coarser rf×ls summary, not the rf×ls×qty one
    val p = plan("q92_mv_navigate")
    assert(p.contains("graft_mv2_"),
      "lattice navigation must serve q92 from the coarser (smallest) MV")
    assert(!p.contains("graft_mv_") && !p.contains("lineitem.parq"),
      "q92 must touch neither the finer MV nor the fact table")
    // q91 (quantity filter) still needs the finer MV — selection is
    // per-query, not a global preference for the coarser table
    val p91 = plan("q91_mv_rewrite")
    assert(p91.contains("graft_mv_") && !p91.contains("graft_mv2_"))
    // a roll-up outside both MVs' grouping sets falls through to the fact
    val outside = Tables.lineitem(spark, sf)
      .groupBy(col("l_shipdate")).agg(count(lit(1)).as("n"))
    assert(outside.queryExecution.executedPlan.toString.contains("lineitem.parq"),
      "a grouping column no MV covers must scan the fact table")
  }

  test("q90 (bucketed layout): join + aggregate run with ZERO hash exchanges") {
    val p = plan("q90_bucketed_join")
    assert(p.contains("Bucketed: true") &&
      p.contains("SelectedBucketsCount: 8 out of 8"),
      "both scans must be served from the bucketed layout")
    assert(p.contains("SortMergeJoin"),
      "the merge hint must pin the sort-merge shape (a broadcast join at " +
        "test SF would bypass the layout being demonstrated)")
    assert(!p.contains("Exchange hashpartitioning"),
      "the bucketed layout must satisfy BOTH the join and the groupBy " +
        "distribution — any hash exchange means the co-location broke")
    assert("Exchange".r.findAllIn(p).size == 1,
      "the only exchange is the presentation orderBy's range partitioning")
  }

  test("q100 (LATERAL top-N): decorrelates to join + window, no per-row re-execution") {
    val p = plan("q100_lateral")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      s"the per-customer ORDER BY ... LIMIT must become a window rank:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decorrelation must produce an equi-join, not a nested loop")
  }

  test("q101/q102 (sketch aggs): two-phase ObjectHashAggregate with map-side partials") {
    // the custom TypedImperativeAggregates must ride Spark's standard
    // partial aggregation — a partial sketch per partition BEFORE the
    // shuffle, so shuffle volume is O(groups × sketch size), never
    // O(rows). A regression to single-phase (e.g. losing the partial_
    // step) silently turns the sketch build into a full-row shuffle.
    val kll = plan("q101_kll_union")
    assert(kll.contains("partial_kll_agg"),
      s"kll_agg must have a map-side partial phase:\n$kll")
    assert(kll.contains("ObjectHashAggregate"),
      "typed sketch buffers must use ObjectHashAggregate")
    val theta = plan("q102_theta_retention")
    assert(theta.contains("partial_theta_agg"),
      s"theta_agg must have a map-side partial phase:\n$theta")
  }

  test("q95 (compaction): exactly one shuffle, sized by the planned output files") {
    import graft.sources.Sinks
    val tmp = Artifacts.dir("cplan").toString
    Tables.events(spark, sf)
      .withColumn("dt", org.apache.spark.sql.functions.to_date(col("ts")))
      .repartition(8)
      .write.partitionBy("dt").mode("overwrite").parquet(tmp)
    val target = 16L << 10
    val df = Sinks.compactionPlan(spark, tmp, "dt", "event_id", target)
    val p = df.queryExecution.executedPlan.toString
    // one round-robin-free hash exchange on (dt, planned bucket) — input
    // fragmentation must not add stages, and nothing may sort globally
    assert("Exchange hashpartitioning\\(dt".r.findAllIn(p).size == 1,
      s"expected exactly one (dt, bucket) hash exchange:\n$p")
    assert(!p.contains("rangepartitioning"), "compaction must never sort")
    // the exchange width equals the bin-pack plan's total file count —
    // anchored INSIDE the exchange node so an unrelated "(.., N)" in the
    // plan text can neither satisfy nor spoof the check
    val planned = Sinks.fileStats(spark, tmp).values
      .map { case (_, b) => math.max(1L, (b + target - 1) / target) }.sum
    assert(s"Exchange hashpartitioning\\(dt[^)]*, $planned\\)".r
        .findFirstIn(p).isDefined,
      s"shuffle width must equal the planned $planned output files:\n$p")
  }

  test("e21/e23: greedy/curve steps reuse ONE materialized pool, no per-step corpus rescan") {
    // mmrTopK's pool (corpus scan × broadcast probes × window) used to be
    // referenced lazily by all k−1 greedy-step plans plus the seed row, so
    // the final plan paid k corpus scans. The pool is now localCheckpoint'd:
    // the returned frame must be served from checkpoint blocks with ZERO
    // FileScans of the embeddings table left in its plan. Same property for
    // ivfRecallCurve's shared index + brute-force baseline.
    for (name <- Seq("e21_mmr_topk", "e23_ivf_recall_curve")) {
      val p = plan(name)
      assert(p.contains("ExistingRDD"),
        s"$name must be served from the materialized checkpoint:\n$p")
      assert(!p.contains("embeddings.parquet"),
        s"$name's final plan must not rescan the corpus per greedy step/setting:\n$p")
    }
  }

  test("e26: queries broadcast; per-query top-k trims map-side before the shuffle") {
    val p = plan("e26_chunk_retrieval")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the query batch must broadcast against the chunk scan:\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank<=k must trim map-side (partial) AND post-shuffle (final):\n$p")
  }

  test("d69: the curriculum's global order rides range partitioning (two-pass), not a global funnel") {
    val p = plan("d69_curriculum")
    assert(p.contains("rangepartitioning"),
      s"curriculum order must range-partition on the sort key:\n$p")
    // the corpus-sized window must be per-partition (partitioned by __pid);
    // only the 1-row-per-partition offsets frame may funnel
    assert("Window \\[[^\\]]*\\], \\[__pid#".r.findFirstIn(p).isDefined,
      s"expected a __pid-partitioned window:\n$p")
  }

  test("d76: strata offsets ride the grouped two-pass, never a per-stratum funnel") {
    val p = plan("d76_length_strata")
    assert(p.contains("rangepartitioning"),
      s"stratified packing must range-partition on (stratum, key):\n$p")
    // BOTH corpus-sized windows (the global rank and the per-stratum
    // running total) must be __pid-partitioned; a Window partitioned by
    // stratum alone would funnel the corpus into |strata| reducers
    assert("Window \\[[^\\]]*\\], \\[__pid#".r.findAllIn(p).size >= 2,
      s"expected two __pid-partitioned windows (rank + grouped total):\n$p")
    // (a stratum-partitioned window DOES appear — over the per-(pid,
    // stratum) slice frame, which is broadcast-sized by construction;
    // the corpus-sized windows above are the ones that must stay __pid)
  }

  test("e28: batch fusion fuses broadcast-pruned lists with a query-partitioned window") {
    // the row itself now forces the fused result so its chunk/posting
    // blocks can be released eagerly (r16 advice) — so pin the BM25
    // batch plan SHAPE on the lazy plan builder directly, and the row
    // only for serving from the forced result
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Packing, TextAnalysis}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = docs.filter(pmod(col("doc_id"), lit(101)) === 5)
    val chunks = Packing
      .chunkTokens(docs.filter(pmod(col("doc_id"), lit(101)) =!= 5),
        "doc_id", "text", 16, 0)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      .localCheckpoint(true)
    try {
      val (ranked, tfq) = TextAnalysis.bm25TopKBatchPlan(chunks, queries,
        Seq("doc_id", "chunk_id"), "chunk_text", "doc_id", "text", k = 10)
      try {
        val p = ranked.queryExecution.executedPlan.toString
        // the posting frame is checkpointed once and shared; query terms,
        // stats, and the df table all broadcast; the per-query top-k
        // window compiles to WindowGroupLimit (map-side trim)
        assert(p.contains("ExistingRDD"),
          "the posting frame must be served from its checkpoint")
        assert("BroadcastExchange".r.findAllIn(p).size >= 3,
          s"qterms/stats/dfs must broadcast, never shuffle the posting frame:\n$p")
        assert(p.contains("WindowGroupLimit"),
          s"per-query top-k must trim map-side:\n$p")
        assert(!p.contains("CartesianProduct"),
          "no unplanned cross product (the stats broadcast is a " +
            "BroadcastNestedLoopJoin by design)")
      } finally graft.operators.Dedup.release(tfq)
    } finally graft.operators.Dedup.release(chunks)
    val rowPlan = plan("e28_hybrid_chunk_batch")
    assert(rowPlan.contains("ExistingRDD"),
      "the row must serve the fused result from its forced checkpoint")
  }

  test("d62 confirm join degrades to SMJ when the bench side can't broadcast") {
    // leakFreeSplit's "benchmark" is the corpus's own test split — at
    // 100 TB that side cannot broadcast. The fix routes the split's
    // decontamination through contaminationScoresPreppedShuffled: the
    // fixed-size Bloom still broadcasts (scalar literal, not a join), but
    // the exact confirm join is UNHINTED. Simulate "bench exceeds the
    // broadcast threshold" with autoBroadcastJoinThreshold=-1 and pin:
    // the hinted path still forces BroadcastHashJoin (hints ignore the
    // threshold — that is the OOM), the shuffled path plans SortMergeJoin.
    import graft.operators.Contamination
    graft.functions.GraftFunctions.register(spark)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val (b, bloom) = Contamination.prepBenchmark(bench, "text")
      val hinted = Contamination.contaminationScoresPrepped(
        corpus, b, bloom, "doc_id", "text")
        .queryExecution.executedPlan.toString
      val shuffled = Contamination.contaminationScoresPreppedShuffled(
        corpus, b, bloom, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        s"hinted confirm join must broadcast regardless of threshold:\n$hinted")
      assert(!shuffled.contains("BroadcastHashJoin"),
        s"unhinted confirm join must not broadcast a corpus-sized bench:\n$shuffled")
      assert(shuffled.contains("SortMergeJoin"),
        s"expected a sort-merge confirm join:\n$shuffled")
      // the Bloom prescreen survives in the shuffled plan: candidates are
      // pruned by might_contain BEFORE the exchange
      assert(shuffled.contains("might_contain"),
        s"Bloom prescreen must still gate the corpus scan:\n$shuffled")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
