package graft

/** End-to-end smoke over the driver contract: every SparkEntry query runs at
  * sf0.001, the flagship entry returns rows, and the oracle map is
  * consistent with the query map (the driver hash-compares per key). */
class QueriesSpec extends SparkTestBase {

  // fast fail on testdata/schema drift: force ANALYSIS (no execution) of
  // every declared query up front — seconds of runtime, so a regenerated
  // parquet vintage (e.g. events.ts arriving as TIMESTAMP_NTZ, round 9/10)
  // surfaces in the first moments of every `sbt test`, not 10 minutes in.
  test("all declared queries analyze at sf0.001") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).schema; None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(bad.isEmpty, s"${bad.size} queries fail analysis:\n${bad.mkString("\n")}")
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query has an oracle (hash-family operators via recall gates)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only set: $rowsOnly")
  }

  // every query executes and produces a sane schema; most must be non-empty
  private val mayBeEmptyAtSf0001 = Set("q08_except", "q15_join_anti",
    "q20_agg_having", "q17_self_join", "e04_embedding_neardup")

  // rows whose run reached a setup artifact: Bench derives its setup phase
  // the same way (Bench.warmup)
  private val setupRows = scala.collection.mutable.Set.empty[String]

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      lazy val df = fn(spark, sf)
      var n = 0L
      if (Artifacts.touching { n = df.count() }.nonEmpty) setupRows += name
      assert(df.columns.nonEmpty)
      if (!mayBeEmptyAtSf0001(name)) assert(n > 0, s"$name returned 0 rows")
      // a query may RETURN a checkpointed frame (its one allowed cached
      // block); release it the way a caller would, so the suite-wide leak
      // gate below only sees blocks a query abandoned internally
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ =>
      }
    }
  }

  // Runs after every per-query test above. Every row that builds a
  // one-time artifact (sink write, MV, index build, streamed state) must
  // be seen by the touch record, or its build would land in Bench's timed
  // region.
  test("every setup-artifact row is recorded for Bench's setup phase") {
    val expected = Set("q71_orc_roundtrip", "q74_csv_roundtrip",
      "q90_bucketed_join", "q91_mv_rewrite", "q92_mv_navigate",
      "q104_mv_joinback", "q105_mv_snowflake", "q93_partitioned_scan",
      "q106_aqe_skew_join", "d33_zorder_scan", "q95_compacted_scan",
      "s02_stream_ingest", "s12_stream_availablenow", "s03_stream_dedup",
      "e06_ivf_kmeans_recall", "e08_pq_recall", "e10_ivfpq_recall",
      "e17_jl_recall", "d67_training_shards", "d72_append_shards",
      "e27_chunk_ivf_recall", "e30_bm25_index_served", "e31_hybrid_served",
      "e34_bm25_retract", "e35_hybrid_takedown", "e38_bm25_compacted",
      "e39_bm25_cached", "e40_dense_cached", "e41_bm25_cache_pruned",
      "e42_bm25_segments_folded", "e43_dense_cache_pruned",
      "s33_stream_lifecycle", "e33_probe_operating",
      "e25_tier_recall_curves", "s08_stream_mv", "s18_stream_mv_joinback",
      "s19_stream_quality_routing", "s20_stream_incremental_dedup",
      "s21_stream_domain_cap", "s22_stream_decontam_gate",
      "s23_stream_signal_ingest", "s24_stream_datasheet",
      "s25_stream_chunk_index", "s32_stream_cached_serving",
      "s15_stream_sketch", "s17_stream_heavyhitters",
      "s26_stream_bm25_index", "s27_stream_hybrid_serving",
      "s28_stream_scd2", "s29_stream_takedown", "s30_stream_funnel",
      "s31_stream_retention", "d51_quality_classifier", "m07_binary_ingest")
    val missing = expected -- setupRows
    assert(missing.isEmpty, s"setup rows not recorded: $missing")
  }

  // Runs after every per-query test above (ScalaTest preserves registration
  // order). Any surviving block is a cache/checkpoint some query persisted
  // internally and never released — exactly the state that accumulates
  // across a 100+-query Bench/Verify run and turns into memory pressure.
  test("no persistent RDDs leak across the full query suite") {
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"leaked persistent RDDs: ${leaked.values.map(_.name).mkString(", ")}")
  }
}
