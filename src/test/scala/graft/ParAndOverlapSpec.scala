package graft

import graft.operators.{Graph, Par}
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Focused gates for the r21 optimization internals: the scan-stage
  * parallelism floor must move only physical placement (never content),
  * the gopherRules carry variant must equal the flags-join it replaced,
  * and the folded convergence delta in the PageRank iteration must equal
  * the ranks⋈next join it replaced. */
class ParAndOverlapSpec extends SparkTestBase {

  test("Par.floor preserves content and raises partitions to the session floor") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val before = docs.rdd.getNumPartitions
    val floored = Par.floor(docs, "doc_id")
    val par = spark.sparkContext.defaultParallelism
    assert(floored.rdd.getNumPartitions >= math.min(par, before.max(par)),
      s"floor must not land below defaultParallelism=$par when input had $before")
    // identical multiset of rows
    assert(floored.exceptAll(docs).isEmpty && docs.exceptAll(floored).isEmpty)
    // an input already at/above the floor passes through untouched
    val wide = docs.repartition(par + 2)
    assert(Par.floor(wide, "doc_id").rdd.getNumPartitions == par + 2)
  }

  test("Par.join2 waits for both legs and keeps both failures") {
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Par.join2(
        throw new IllegalStateException("leg a"),
        try { Thread.sleep(300); throw new IllegalArgumentException("leg b") }
        finally bDone.set(true))
    }
    assert(bDone.get, "join2 must not return before leg b has finished")
    assert(err.getMessage == "leg a")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("leg b"))
  }

  test("gopherRulesCarry(carry) == gopherRules joined back on the carried columns") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val carried = TextAnalysis.gopherRulesCarry(docs, "doc_id", "text",
      Seq("the", "a"), Seq("source", "text"))
    val joined = docs.join(
      TextAnalysis.gopherRules(docs, "doc_id", "text"), Seq("doc_id"))
    val cols = carried.columns.sorted.map(col).toSeq
    assert(carried.select(cols: _*).exceptAll(joined.select(cols: _*)).isEmpty &&
      joined.select(cols: _*).exceptAll(carried.select(cols: _*)).isEmpty)
  }

  test("iterationPlan withDelta: same rank vector, d == |r_new - r_prev| (the old join)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 1L))
      .toDF("src", "dst").localCheckpoint(true)
    val ed = edges.join(
      edges.groupBy(col("src")).agg(count(lit(1)).as("od")), Seq("src"))
      .localCheckpoint(true)
    val verts = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v"))).distinct()
    val ranks = verts.select(col("v"), lit(1000000000L).as("r"))
      .localCheckpoint(true)
    val plain = Graph.iterationPlan(ed, ranks, 85L, 100L, 150000000L)
    val withD = Graph.iterationPlan(ed, ranks, 85L, 100L, 150000000L,
      withDelta = true)
    // (v, r) identical between the two shapes
    assert(withD.select("v", "r").exceptAll(plain).isEmpty &&
      plain.exceptAll(withD.select("v", "r")).isEmpty)
    // d equals the old ranks⋈next |Δ| join, row for row
    val oldDelta = ranks.as("a")
      .join(plain.as("b"), Seq("v"))
      .select(col("v"), abs(col("a.r") - col("b.r")).as("d"))
    assert(withD.select("v", "d").exceptAll(oldDelta).isEmpty &&
      oldDelta.exceptAll(withD.select("v", "d")).isEmpty)
  }
}
