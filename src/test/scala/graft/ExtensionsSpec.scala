package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `spark.sql.extensions` entry point (GraftExtensions): a session
  * built through it carries the full function surface and the MV
  * navigation rule with ZERO runtime `register()` / `extraOptimizations`
  * installs — the cluster-deployment path. */
class ExtensionsSpec extends SparkTestBase {

  test("GraftExtensions: functions + MV rewrite active in a fresh session, no runtime installs") {
    spark // force the shared session (and its SparkContext) up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s2 ne spark, "builder must create a NEW session on the shared context")

      // custom functions resolve through plain SQL without register()
      val h = s2.sql("SELECT hamming64(CAST(5 AS BIGINT), CAST(6 AS BIGINT)) AS h")
        .collect().head.getInt(0)
      assert(h == 2) // 101 vs 110
      val q = s2.sql(
        "SELECT kll_quantile(kll_agg(CAST(id AS DOUBLE)), 0.5d) FROM range(0, 1001)")
        .collect().head.getDouble(0)
      assert(math.abs(q - 500.0) <= 30.0)

      // the MV rule runs from the injected optimizer batch alone: register
      // an MV through the runtime API, then STRIP the runtime install —
      // the rewrite must still fire
      val dir = Artifacts.dir("ext").toPath
      val base = dir.resolve("ext_base").toString
      val mv = dir.resolve("ext_mv").toString
      s2.range(0, 1000)
        .select((col("id") % 7).as("k"), col("id").as("v"))
        .write.parquet(base)
      val mvDef = s2.read.parquet(base).groupBy(col("k"))
        .agg(sum(col("v")).as("s"))
      mvDef.write.parquet(mv)
      graft.plans.MvRewrite.register(s2, base, mvDef, mv, Seq("k"),
        Map("s" -> "sum"))
      s2.experimental.extraOptimizations = Seq.empty
      val plan = s2.read.parquet(base).groupBy(col("k"))
        .agg(sum(col("v")).as("s"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("ext_mv"),
        s"extension-injected rule must serve the MV:\n$plan")
      assert(!plan.contains("ext_base"),
        s"base table must not be scanned:\n$plan")
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
