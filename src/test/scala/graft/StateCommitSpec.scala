package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.functions._

import graft.operators.{Bm25Index, IncrementalAgg}

/** The append commit of `IncrementalAgg`: each part's read schema is
  * recorded in the version dir, the manifest's per-segment statistics come
  * from the segment write itself, the monotone guard runs after the write
  * and commits nothing when it fails, and a warm commit stays within a
  * fixed job budget with no schema-inference job. */
class StateCommitSpec extends SparkTestBase {
  import spark.implicits._

  /** (jobs started while `body` runs, of them jobs outside any SQL
    * execution), counted after a drain. */
  private def jobsOf(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    GraftPlanBridge.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bare = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          bare.incrementAndGet()
        ()
      }
    }
    sc.addSparkListener(listener)
    try { body; GraftPlanBridge.drainListeners(sc) } finally sc.removeSparkListener(listener)
    (jobs.get, bare.get)
  }

  private val words = Seq("apple", "banana", "cherry", "durian", "fig", "grape", "melon")
  private def docs(ids: Range) = ids.map(i =>
    (i.toLong, Seq.tabulate(3 + i % 4)(j => words((i * 3 + j) % words.size)).mkString(" ")))
    .toDF("doc_id", "text")

  private def hasParquet(f: java.io.File): Boolean =
    if (f.isFile) f.getName.endsWith(".parquet")
    else Option(f.listFiles()).exists(_.exists(hasParquet))

  private def latestDir(state: String) =
    s"$state/v${IncrementalAgg.latestVersion(spark, state).get}"

  /** Every part of the latest version has a record, and each record equals
    * parquet's own inference over the part's dir. */
  private def checkRecords(state: String): Unit = {
    val m = IncrementalAgg.manifestOf(spark, state).get
    val vdir = new java.io.File(latestDir(state))
    val rewriteParts = vdir.listFiles().filter(_.isDirectory).map(_.getName)
    assert((m.parts.keySet ++ rewriteParts) == m.schemas.keySet, state)
    for ((part, recorded) <- m.schemas) {
      val path = if (m.parts.contains(part)) s"$state/seg/$part" else s"$vdir/$part"
      if (hasParquet(new java.io.File(path))) {
        // StructField equality covers names, types, nullability and metadata
        val inferred = spark.read.parquet(path).schema
        assert(recorded == inferred, s"$state $part: $recorded vs $inferred")
      }
    }
  }

  test("each part's recorded schema is parquet's inferred schema") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("schemarec")
    val index = s"$dir/index"
    Bm25Index.extendIndex(spark, index, docs(1 to 6), Seq("doc_id"), "text", 0L)
    Bm25Index.extendIndex(spark, index, docs(7 to 12), Seq("doc_id"), "text", 1L)
    Bm25Index.retractFromIndex(spark, index, Seq(2L).toDF("doc_id"), Seq("doc_id"), 2L)
    checkRecords(index)
    val cache = s"$dir/cache"
    Bm25Index.bm25TopKBatchCached(spark, index, cache,
      Seq((100L, "apple fig"), (200L, "melon")).toDF("qid", "qtext"),
      Seq("doc_id"), "qid", "qtext", k = 3).collect()
    checkRecords(cache)
    val rows = s"$dir/rows"
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "payload").build()
    IncrementalAgg.appendOnce(spark, rows,
      Seq((1L, "a", Seq(1, 2)), (2L, "b", Seq.empty[Int])).toDF("id", "payload", "xs")
        .withColumn("payload", col("payload").as("payload", meta)), 0L, "id")
    checkRecords(rows)
    assert(IncrementalAgg.readState(spark, rows).schema("payload").metadata == meta)
  }

  test("each segment's committed [min, max] and row count equal an aggregate over it") {
    graft.functions.GraftFunctions.register(spark)
    val index = s"${Artifacts.dir("segstats")}/index"
    Bm25Index.extendIndex(spark, index, docs(1 to 5), Seq("doc_id"), "text", 0L)
    Bm25Index.extendIndex(spark, index, docs(6 to 11), Seq("doc_id"), "text", 1L)
    Bm25Index.retractFromIndex(spark, index, Seq(3L, 4L).toDF("doc_id"), Seq("doc_id"), 2L)
    Bm25Index.compactIndexWhenDue(spark, index, 3L, maxFraction = 0.01)
    Bm25Index.extendIndex(spark, index, docs(12 to 14), Seq("doc_id"), "text", 4L)
    val m = IncrementalAgg.manifestOf(spark, index).get
    for (part <- Seq(Bm25Index.PostingsPart, Bm25Index.ItemsPart); seg <- m.parts(part)) {
      val r = spark.read.parquet(s"$index/seg/$part").filter(col("__seg") === seg.name)
        .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1))).head
      assert(seg.range.contains((r.getLong(0), r.getLong(1))), s"$part ${seg.name}")
      assert(seg.rows.contains(r.getLong(2)), s"$part ${seg.name}")
    }
    assert(m.parts(Bm25Index.PostingsPart).length == 2)
  }

  test("a refused delta commits nothing and leaves no segment dir behind") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("guardwrite")
    val rows = s"$dir/rows"
    IncrementalAgg.appendOnce(spark, rows, (1L to 5L).map(i => (i, s"p$i")).toDF("id", "p"),
      0L, "id")
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.appendOnce(spark, rows, Seq((5L, "dup"), (6L, "x")).toDF("id", "p"), 1L, "id")
    }
    assert(e.getMessage.contains("strictly greater"), e.getMessage)
    assert(IncrementalAgg.latestVersion(spark, rows).contains(0L))
    assert(!new java.io.File(s"$rows/seg/rows/__seg=s1").exists())
    assert(IncrementalAgg.readState(spark, rows).count() == 5L)
    val index = s"$dir/index"
    Bm25Index.extendIndex(spark, index, docs(1 to 4), Seq("doc_id"), "text", 0L)
    intercept[IllegalArgumentException] {
      Bm25Index.extendIndex(spark, index, docs(4 to 6), Seq("doc_id"), "text", 1L)
    }
    assert(IncrementalAgg.latestVersion(spark, index).contains(0L))
    for (part <- Seq(Bm25Index.PostingsPart, Bm25Index.ItemsPart))
      assert(!new java.io.File(s"$index/seg/$part/__seg=s1").exists(), part)
    // the same batch id then commits a valid delta
    Bm25Index.extendIndex(spark, index, docs(5 to 6), Seq("doc_id"), "text", 1L)
    assert(IncrementalAgg.readStatePart(spark, index, Bm25Index.ItemsPart).count() == 6L)
  }

  test("a state written without schema records still reads and extends") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("norecords")
    val index = s"$dir/index"
    val rows = s"$dir/rows"
    Bm25Index.extendIndex(spark, index, docs(1 to 6), Seq("doc_id"), "text", 0L)
    Bm25Index.retractFromIndex(spark, index, Seq(2L).toDF("doc_id"), Seq("doc_id"), 1L)
    IncrementalAgg.appendOnce(spark, rows, Seq((1L, "a"), (2L, "b")).toDF("id", "p"), 0L, "id")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val parts = Seq(Bm25Index.PostingsPart, Bm25Index.TermsPart, Bm25Index.StatsPart,
      Bm25Index.ItemsPart)
    val before = parts.map(p => canon(IncrementalAgg.readStatePart(spark, index, p)))
    // the layout before schema records: no _schemas file in any version
    for (st <- Seq(index, rows); v <- new java.io.File(st).listFiles()
        if v.getName.startsWith("v")) {
      new java.io.File(v, "_schemas").delete()
      new java.io.File(v, "._schemas.crc").delete()
    }
    assert(IncrementalAgg.manifestOf(spark, index).get.schemas.isEmpty)
    assert(parts.map(p => canon(IncrementalAgg.readStatePart(spark, index, p))) == before)
    assert(canon(IncrementalAgg.readState(spark, rows)) == Seq("[1,a]", "[2,b]"))
    Bm25Index.extendIndex(spark, index, docs(7 to 9), Seq("doc_id"), "text", 2L)
    Bm25Index.retractFromIndex(spark, index, Seq(8L).toDF("doc_id"), Seq("doc_id"), 3L)
    IncrementalAgg.appendOnce(spark, rows, Seq((3L, "c")).toDF("id", "p"), 1L, "id")
    assert(canon(IncrementalAgg.readState(spark, rows)) == Seq("[1,a]", "[2,b]", "[3,c]"))
    val rebuilt = s"$dir/rebuilt"
    Bm25Index.extendIndex(spark, rebuilt,
      docs(1 to 9).filter(!col("doc_id").isin(2L, 8L)), Seq("doc_id"), "text", 0L)
    for (p <- parts)
      assert(canon(IncrementalAgg.readStatePart(spark, index, p)) ==
        canon(IncrementalAgg.readStatePart(spark, rebuilt, p)), p)
    checkRecords(index)
    checkRecords(rows)
  }

  test("job budget: a warm extend and a retract with its fold run no schema inference") {
    graft.functions.GraftFunctions.register(spark)
    val index = s"${Artifacts.dir("jobbudget")}/index"
    val keys = Seq("doc_id")
    Bm25Index.extendIndex(spark, index, docs(1 to 6), keys, "text", 0L)
    Bm25Index.extendIndex(spark, index, docs(7 to 12), keys, "text", 1L)
    Bm25Index.retractFromIndex(spark, index, Seq(1L).toDF("doc_id"), keys, 2L)
    Bm25Index.compactIndexWhenDue(spark, index, 3L, maxFraction = 0.01)
    val (extendJobs, extendBare) = jobsOf(
      Bm25Index.extendIndex(spark, index, docs(13 to 18), keys, "text", 4L))
    assert(extendJobs <= 13, s"warm extendIndex ran $extendJobs jobs")
    assert(extendBare == 0, s"warm extendIndex ran $extendBare jobs outside an SQL execution")
    val (foldJobs, foldBare) = jobsOf {
      Bm25Index.retractFromIndex(spark, index, Seq(8L, 9L).toDF("doc_id"), keys, 5L)
      assert(Bm25Index.compactIndexWhenDue(spark, index, 6L, maxFraction = 0.01))
    }
    assert(foldJobs <= 24, s"retract plus fold ran $foldJobs jobs")
    assert(foldBare == 0, s"retract plus fold ran $foldBare jobs outside an SQL execution")
    // a cached serve, populate then all-hit, reads index and cache by record
    val cache = s"${Artifacts.dir("jobbudget")}/cache"
    val qs = Seq((100L, "apple fig"), (200L, "melon")).toDF("qid", "qtext")
    def serve() = Bm25Index.bm25TopKBatchCached(spark, index, cache, qs, keys, "qid", "qtext",
      k = 3).collect()
    val (_, serveBare) = jobsOf { serve(); serve() }
    assert(serveBare == 0, s"cached serves ran $serveBare jobs outside an SQL execution")
    info(s"warm extend $extendJobs jobs, retract plus fold $foldJobs jobs")
  }

  test("state confs name themselves and the bad value") {
    val rows = s"${Artifacts.dir("stateconf")}/rows"
    def commit(id: Long) = IncrementalAgg.appendOnce(spark, rows,
      Seq((id, "x")).toDF("id", "p"), id, "id")
    commit(0L)
    for ((key, value) <- Seq("spark.graft.state.retainVersions" -> "two",
        "spark.graft.state.retainVersions" -> "0",
        "spark.graft.state.lockStaleMs" -> "10m",
        "spark.graft.state.lockStaleMs" -> "-1")) {
      spark.conf.set(key, value)
      try {
        val e = intercept[IllegalArgumentException](commit(1L))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"), e.getMessage)
        assert(IncrementalAgg.latestVersion(spark, rows).contains(0L))
      } finally spark.conf.unset(key)
    }
    commit(1L)
    assert(IncrementalAgg.latestVersion(spark, rows).contains(1L))
  }
}
