package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.api.Context

/** The `interactive` workload: spear-surface queries at sf0.01, results
  * collected to the client. Each op builds its DataFrame, then collects
  * every row and column in the query's order; never `count()`, which lets
  * Catalyst prune the projections, sorts and joins the user would pay for. */
object QueryWorkloads {

  /** Runs one built DataFrame: in a traced run, forces analysis,
    * optimization and physical planning one at a time before the action. */
  private def execute(op: Op, build: => DataFrame, buildMetric: String): Out = {
    var df: DataFrame = null
    val rows = op.timed {
      df = op.trace.fold(op.span(buildMetric)(build))(t =>
        t.phase("build")(op.span(buildMetric)(build)))
      if (op.trace.isDefined) {
        val qe = df.queryExecution
        op.span("catalyst.analyze_ms")(qe.analyzed)
        op.layer("catalyst.analyze_ms") +=
          qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        op.span("catalyst.optimize_ms")(qe.optimizedPlan)
        op.span("catalyst.plan_ms")(qe.executedPlan)
      }
      df.collect()
    }
    Out(rows = Some(rows -> df.schema))
  }

  /** A query of the program's inventory (`SparkEntry.queries`). */
  final class Inventory(spark: SparkSession, val name: String, sfDir: String) extends Kind {
    private val fn = SparkEntry.queries(name)
    def oracle: String = SparkEntry.oracleSql(name)
    def run(op: Op): Out = execute(op, fn(spark, sfDir), "queries.build_ms")
  }

  /** A query written against the reference-shaped facade
    * (`graft.api.Context`), with the benchmark's own DuckDB oracle. */
  final class Facade(val name: String, ctx: Context, val oracle: String)(
      build: Context => graft.api.DataFrame) extends Kind {
    def run(op: Op): Out = execute(op, build(ctx).df, "api.build_ms")
  }

  private def facadeKinds(spark: SparkSession): Seq[Facade] = {
    val ctx = new Context(spark)
    val having =
      """SELECT o_custkey, count(*) AS n_orders, max(o_totalprice) AS max_price
         FROM orders GROUP BY o_custkey HAVING count(*) >= 15
         ORDER BY n_orders DESC, o_custkey"""
    Seq(
      new Facade("api_sql_having", ctx, having)(_.sql(having)),
      // spear dialect: `^` is POWER and INTERSECT keeps bag semantics
      new Facade("api_spear_bag_intersect", ctx,
        """SELECT power(c_nationkey, 2) AS p FROM customer WHERE c_acctbal > 5000
           INTERSECT ALL
           SELECT power(c_nationkey, 2) AS p FROM customer WHERE c_mktsegment = 'BUILDING'""")(
        _.spearSql(
          """SELECT c_nationkey ^ 2 AS p FROM customer WHERE c_acctbal > 5000
             INTERSECT
             SELECT c_nationkey ^ 2 AS p FROM customer WHERE c_mktsegment = 'BUILDING'""")),
      // DSL union of an INT and a BIGINT column: the facade widens to BIGINT
      new Facade("api_dsl_union_widen", ctx,
        """SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer WHERE c_acctbal > 9900
           UNION ALL
           SELECT o_custkey AS k FROM orders WHERE o_totalprice > 499000
           ORDER BY k""")(c =>
        c.table("customer").filter(col("c_acctbal") > 9900).select(col("c_nationkey").as("k"))
          .union(c.table("orders").filter(col("o_totalprice") > 499000)
            .select(col("o_custkey").as("k")))
          .orderBy(col("k"))))
  }

  /** Query kinds whose last warm-up output is written as parquet, for the
    * Python side to compare with DuckDB running the kind's oracle. */
  private class QueryWorkload(
      spark: SparkSession, sfDir: String, out: File, val kinds: IndexedSeq[Kind])
      extends Workload {
    override def setup(): Unit = Tables.registerViews(spark, sfDir)
    /** A cycle takes 2.5-6 s here, so four cycles always exceed the
      * benchmark's 8 s: every run measures the same number of cycles
      * whatever the machine's speed (runs of three and of four cycles read
      * about 10% apart, since later cycles run faster). */
    override def minCycles: Int = 4
    override def reference(k: Kind, rows: Array[Row], schema: StructType): Map[String, Any] = {
      val dir = new File(out, s"ref/${k.name}").toString
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val oracle = k match {
        case q: Inventory => q.oracle
        case f: Facade => f.oracle
      }
      Map("dir" -> dir, "sql" -> oracle)
    }
  }

  /** One inventory query per surface the facade kinds do not cover. */
  val interactiveKinds: Seq[String] = Seq(
    "q03_limit", "q09_join_inner", "q12_join_full", "q36_window_range", "q37_window_frames",
    "q21_agg_functions", "q91_mv_rewrite")

  def interactive(spark: SparkSession, sfDir: String, out: File): Workload = {
    val kinds = interactiveKinds.map(n => new Inventory(spark, n, sfDir)) ++ facadeKinds(spark)
    new QueryWorkload(spark, sfDir, out, kinds.toIndexedSeq)
  }
}
