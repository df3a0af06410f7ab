package graft

import graft.tools.Profile
import org.apache.spark.sql.GraftPlanBridge

/** The one row runner behind Bench and `graft.tools.Profile`: a batch row
  * records its jobs and tasks, a streaming row its batches, a failed rep is
  * not a reading, and the listeners are removed afterwards. */
class ProfileSpec extends SparkTestBase {

  private def profilers: Seq[String] =
    (GraftPlanBridge.listeners(spark.sparkContext) ++ spark.streams.listListeners().toSeq)
      .map(_.getClass.getName).filter(_.startsWith(Profile.getClass.getName.stripSuffix("$")))

  private def row(name: String) = SparkEntry.queries(name)

  test("a batch row records jobs and tasks") {
    val Seq(r) = Profile.profile(spark, "q19_agg", row("q19_agg"), sf, reps = 2)
    assert(r.repsS.size == 2)
    assert(r.census.jobs >= 1 && r.census.tasks >= 1, r.json)
    assert(r.census.stages.nonEmpty && r.census.taskMs >= r.census.maxTaskMs, r.json)
    assert(r.json.startsWith("{\"query\":\"q19_agg\""), r.json)
  }

  test("a streaming row records its batches' durationMs") {
    val name = SparkEntry.queries.keys.filter(_.startsWith("s01_")).head
    val Seq(r) = Profile.profile(spark, name, row(name), sf, reps = 1)
    assert(r.census.batchMs.nonEmpty, r.json)
    assert(r.census.batchMs.forall(_.contains("triggerExecution")), r.json)
  }

  test("a row's build is timed and its jobs counted apart from its action") {
    val jobsAtBuild: Profile.Row = (s, d) => {
      s.range(3).collect()
      row("q19_agg")(s, d)
    }
    val Seq(r) = Profile.profile(spark, "jobs_at_build", jobsAtBuild, sf, reps = 1)
    assert(r.census.buildJobs == 1 && r.census.jobs > 1, r.json)
    assert(r.census.buildMs > 0 && r.census.buildMs < r.repsS.head * 1000, r.json)
  }

  test("an A/B run yields one record per value and restores the conf") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val rs = Profile.profile(spark, "q19_agg", row("q19_agg"), sf, reps = 1,
      ab = Some(key -> Seq("1m", "64k")))
    assert(rs.map(_.conf) == Seq(Some(s"$key=1m"), Some(s"$key=64k")))
    assert(spark.conf.get(key) == "128k")
  }

  test("the listeners are gone afterwards") {
    Profile.profile(spark, "q19_agg", row("q19_agg"), sf, reps = 1)
    assert(profilers.isEmpty, profilers)
  }

  test("a failed rep is not a reading: the record keeps the successful reps and the first failure") {
    var calls = 0
    val flaky: Profile.Row = (s, d) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("rep 2 lost its input")
      row("q19_agg")(s, d)
    }
    val Seq(r) = Profile.profile(spark, "flaky", flaky, sf, reps = 3)
    assert(calls == 3 && r.repsS.size == 2, r.json)
    assert(r.error.contains("rep 2 lost its input"), r.json)
    assert(r.census.jobs >= 1, r.json)
  }

  test("a row that always throws gives Bench's 0.0 sentinel and counts one error") {
    var calls = 0
    val broken: Profile.Row = (_, _) => { calls += 1; throw new RuntimeException("no \"table\"") }
    val (Seq(r), errors) = Bench.timeRows(spark, sf, Seq("broken" -> broken))
    assert(errors == 1 && Bench.best(r) == 0.0, r.json)
    // a failed row gets no slow-row third rep
    assert(calls == 2 && r.repsS.isEmpty && r.census == Profile.Census.empty, r.json)
    assert(r.error.contains("no \"table\""), r.json)
  }

  test("each BENCH_profile.json line parses and names its row") {
    val stream = SparkEntry.queries.keys.filter(_.startsWith("s01_")).head
    val broken: Profile.Row = (_, _) => throw new RuntimeException("a \"quoted\"\nmessage")
    val (records, _) = Bench.timeRows(spark, sf,
      Seq("q19_agg" -> row("q19_agg"), stream -> row(stream), "broken" -> broken))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (r <- records) {
      val j = mapper.readTree(r.json)
      assert(j.get("query").asText == r.query, r.json)
      for (k <- Seq("reps_s", "build_ms", "build_jobs", "jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "gc_ms", "batch_ms"))
        assert(j.has(k), s"$k missing: ${r.json}")
    }
    val Seq(q, s, b) = records.map(r => mapper.readTree(r.json))
    assert(q.get("reps_s").size >= 2 && !q.has("error"))
    assert(s.get("batch_ms").size > 0)
    assert(b.get("error").asText == "a \"quoted\"\nmessage")
  }

  test("consume runs the whole plan: q33 keeps its Window, d57 its Join and Generate") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val aqe = new AdaptiveSparkPlanHelper {}
    // the executed nodes of `action` on row `name`, AQE stages included
    def executed(name: String, action: DataFrame => Unit): Seq[SparkPlan] = {
      val df = row(name)(spark, sf)
      GraftPlanBridge.drainListeners(spark.sparkContext)
      plans.synchronized(plans.clear())
      action(df)
      GraftPlanBridge.drainListeners(spark.sparkContext)
      plans.synchronized(plans.toSeq).flatMap(p => aqe.collect(p) { case n => n })
    }
    spark.listenerManager.register(listener)
    try {
      val count: DataFrame => Unit = df => { df.count(); () }
      for ((name, kinds) <- Seq(
          "q33_window_rank" -> Seq[SparkPlan => Boolean](_.isInstanceOf[WindowExec]),
          "d57_html_extract" -> Seq[SparkPlan => Boolean](
            _.isInstanceOf[BaseJoinExec], _.isInstanceOf[GenerateExec]))) {
        val whole = executed(name, Profile.consume)
        val counted = executed(name, count)
        assert(counted.nonEmpty, s"$name: no plan seen under count()")
        for (kind <- kinds) {
          assert(whole.exists(kind), s"$name under consume: ${whole.map(_.nodeName)}")
          assert(!counted.exists(kind), s"$name under count(): ${counted.map(_.nodeName)}")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("malformed arguments fail with a message naming them") {
    assert(Profile.parseArgs(Seq("--reps", "3", "q19_agg")) ==
      Profile.Args(3, None, Seq("q19_agg")))
    for ((args, word) <- Seq(Seq("--reps", "0") -> "--reps", Seq("--reps", "x") -> "--reps",
        Seq("--ab", "nokey") -> "--ab", Seq("--ab") -> "--ab", Seq("no_such_row") -> "no_such_row")) {
      val e = intercept[IllegalArgumentException](Profile.parseArgs(args))
      assert(e.getMessage.contains(word), e.getMessage)
    }
  }
}
