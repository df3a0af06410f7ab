package graft

import graft.tools.Profile
import org.apache.spark.sql.GraftPlanBridge

/** The per-row profile behind `graft.tools.Profile`: a batch row records
  * its jobs and tasks, a streaming row its batches, and the listeners are
  * removed afterwards. */
class ProfileSpec extends SparkTestBase {

  private def profilers: Seq[String] =
    (GraftPlanBridge.listeners(spark.sparkContext) ++ spark.streams.listListeners().toSeq)
      .map(_.getClass.getName).filter(_.startsWith(Profile.getClass.getName.stripSuffix("$")))

  test("a batch row records jobs and tasks") {
    val Seq(r) = Profile.profile(spark, "q19_agg", sf, reps = 2)
    assert(r.repsS.size == 2)
    assert(r.census.jobs >= 1 && r.census.tasks >= 1, r.json)
    assert(r.census.stages.nonEmpty && r.census.taskMs >= r.census.maxTaskMs, r.json)
    assert(r.json.startsWith("{\"query\":\"q19_agg\""), r.json)
  }

  test("a streaming row records its batches' durationMs") {
    val name = SparkEntry.queries.keys.filter(_.startsWith("s01_")).head
    val Seq(r) = Profile.profile(spark, name, sf, reps = 1)
    assert(r.census.batchMs.nonEmpty, r.json)
    assert(r.census.batchMs.forall(_.contains("triggerExecution")), r.json)
  }

  test("an A/B run yields one record per value and restores the conf") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val rs = Profile.profile(spark, "q19_agg", sf, reps = 1, ab = Some(key -> Seq("1m", "64k")))
    assert(rs.map(_.conf) == Seq(Some(s"$key=1m"), Some(s"$key=64k")))
    assert(spark.conf.get(key) == "128k")
  }

  test("the listeners are gone afterwards") {
    Profile.profile(spark, "q19_agg", sf, reps = 1)
    assert(profilers.isEmpty, profilers)
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
