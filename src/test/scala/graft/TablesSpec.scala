package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.execution.FileSourceScanExec

/** The input-table schema memo: each table's schema is the one parquet
  * inference gives, building a query over memoized tables runs no Spark
  * job, and reading a table is not a setup artifact. */
class TablesSpec extends SparkTestBase {

  /** The Spark jobs started while `body` runs, counted after a drain. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    GraftPlanBridge.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try { body; GraftPlanBridge.drainListeners(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("the memo's schema is parquet's inferred schema for every table") {
    for (n <- Tables.names) {
      val inferred = spark.read.parquet(s"$sf/$n.parquet").schema
      val memo = Tables.schema(spark, sf, n)
      // StructField equality covers names, types, nullability and metadata
      assert(memo == inferred, s"$n: memo $memo vs inferred $inferred")
      assert(Tables.load(spark, sf, n).schema == inferred, n)
    }
  }

  test("building an interactive query a second time runs no Spark job") {
    for (name <- Seq("q03_limit", "q09_join_inner", "q12_join_full", "q21_agg_functions",
        "q36_window_range", "q37_window_frames", "q91_mv_rewrite")) {
      val fn = SparkEntry.queries(name)
      fn(spark, sf)
      val jobs = jobsOf(fn(spark, sf))
      assert(jobs == 0, s"$name ran $jobs jobs while building")
    }
  }

  test("reading a table reaches no setup artifact") {
    assert(Artifacts.touching(Tables.orders(spark, sf)).isEmpty)
  }

  test("q91 still scans only its MV after the registry is cleared") {
    val q91 = SparkEntry.queries("q91_mv_rewrite")
    q91(spark, sf)
    graft.plans.MvRewrite.clear()
    val roots = q91(spark, sf).queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("/graft_mv_")), roots)
  }
}
