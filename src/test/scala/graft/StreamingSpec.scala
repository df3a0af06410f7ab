package graft

import graft.operators.IncrementalAgg
import graft.streaming.EventStreams
import graft.streaming.EventStreams.UserEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming tests: drive MemoryStream micro-batches through the event-time
  * operators and check against batch-mode golden results (the transforms are
  * identical for batch and streaming inputs). */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val eventsData = Seq(
    UserEvent(1L, ts(0), 1L, "click", 1.5),
    UserEvent(2L, ts(5), 1L, "view", 2.0),
    UserEvent(3L, ts(50), 1L, "click", 0.5),   // same hour, new session (45m gap)
    UserEvent(4L, ts(2), 2L, "click", 3.0)
  )

  test("windowedCounts over a MemoryStream matches batch execution") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.toMemorySink(
      EventStreams.windowedCounts(input.toDF(), "1 hour", "2 hours"),
      "win_counts")
    input.addData(eventsData: _*)
    q.processAllAvailable()
    val streamed = spark.table("win_counts")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    q.stop()
    val batch = EventStreams.windowedCounts(eventsData.toDF(), "1 hour", "2 hours")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.filter(_._1 == "click").map(_._2).sum == 3L)
  }

  test("sessionWindows splits on the 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.toMemorySink(
      EventStreams.sessionWindows(input.toDF(), "30 minutes", "1 hour"),
      "sessions")
    input.addData(eventsData: _*)
    q.processAllAvailable()
    val got = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    q.stop()
    assert(got(1L) == Seq(1L, 2L)) // session of 2 events + session of 1
    assert(got(2L) == Seq(1L))
  }

  test("customSessions (flatMapGroupsWithState): gap split in-batch, timeout flush by watermark") {
    implicit val sqlCtx = spark.sqlContext
    def hts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[UserEvent]
    val q = EventStreams.customSessions(input.toDS(), gapMs = 30L * 60 * 1000,
        watermark = "1 hour")
      .toDF()
      .writeStream.format("memory").queryName("custom_sessions")
      .outputMode("append").start()
    // batch 1: two events 10 min apart (one session), then a 50-min gap —
    // the gap closes the first session within the same batch
    input.addData(
      UserEvent(1L, hts(10, 0), 1L, "click", 1.0),
      UserEvent(2L, hts(10, 10), 1L, "view", 1.0),
      UserEvent(3L, hts(11, 0), 1L, "click", 1.0))
    q.processAllAvailable()
    // batch 2: another user far in the future advances the watermark to
    // 13:00 (> 11:00 + gap), timing out user 1's open session
    input.addData(UserEvent(4L, hts(14, 0), 2L, "click", 1.0))
    q.processAllAvailable()
    val got = spark.table("custom_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.getTime)).toSeq
    q.stop()
    assert(got == Seq(
      (1L, hts(10, 0), hts(10, 10), 2L), // closed by the in-batch gap
      (1L, hts(11, 0), hts(11, 0), 1L))) // flushed by event-time timeout
    // user 2's session is still open — not emitted
  }

  test("customSessions merges a within-watermark earlier event symmetrically (start widens)") {
    implicit val sqlCtx = spark.sqlContext
    def hts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[UserEvent]
    val q = EventStreams.customSessions(input.toDS(), gapMs = 30L * 60 * 1000,
        watermark = "1 hour")
      .toDF()
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    // batch 1 opens the session at 10:20
    input.addData(UserEvent(1L, hts(10, 20), 1L, "click", 1.0))
    q.processAllAvailable()
    // batch 2: an out-of-order event at 10:00 — earlier than the open
    // session's start, within the watermark — must widen session_start,
    // not be silently absorbed with the old bounds
    input.addData(UserEvent(2L, hts(10, 0), 1L, "view", 1.0))
    q.processAllAvailable()
    // batch 3: far-future event advances the watermark past 10:20 + gap,
    // timing out user 1's open session
    input.addData(UserEvent(3L, hts(14, 0), 2L, "click", 1.0))
    q.processAllAvailable()
    val got = spark.table("ooo_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSeq
    q.stop()
    assert(got == Seq((1L, hts(10, 0), hts(10, 20), 2L)))
  }

  test("clickViewJoin: stream-stream interval join matches batch, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      UserEvent(1L, ts(0), 1L, "view", 1.0),
      UserEvent(2L, ts(10), 1L, "click", 1.0),  // pairs with view@0
      UserEvent(3L, ts(50), 1L, "click", 1.0),  // view@0 outside 30m lookback
      UserEvent(4L, ts(5), 2L, "view", 1.0),    // other user: never pairs
      UserEvent(5L, ts(8), 1L, "view", 1.0)     // pairs with click@10 only
    )
    val input = MemoryStream[UserEvent]
    val q = EventStreams.clickViewJoin(input.toDF())
      .writeStream.format("memory").queryName("cv_join")
      .outputMode("append").start()
    input.addData(data.take(3): _*)
    q.processAllAvailable()
    input.addData(data.drop(3): _*)  // late-arriving view within watermark
    q.processAllAvailable()
    val streamed = spark.table("cv_join")
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val batch = EventStreams.clickViewJoin(data.toDF())
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((2L, 1L), (2L, 5L)))
    assert(streamed == batch)
  }

  test("streamingDedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.streamingDedup(
        input.toDF(), "ts", Seq("user_id", "event_type", "value"), "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    // batch 1: e1 + same-payload duplicate
    input.addData(
      UserEvent(1L, ts(0), 1L, "click", 1.5),
      UserEvent(2L, ts(1), 1L, "click", 1.5))
    q.processAllAvailable()
    // batch 2: another duplicate of e1 (within watermark) + a new payload
    input.addData(
      UserEvent(3L, ts(5), 1L, "click", 1.5),
      UserEvent(4L, ts(6), 2L, "view", 2.0))
    q.processAllAvailable()
    val kept = spark.table("deduped").collect()
      .map(r => (r.getLong(2), r.getString(3))).sorted.toSeq
    q.stop()
    assert(kept == Seq((1L, "click"), (2L, "view")))
  }

  test("streamingDedup exact mode survives digest collisions that drop rows in key mode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // two distinct payloads engineered to collide on a narrow digest
    // (pmod(xxhash64, 1) == 0 for everything): the key-based mechanism
    // drops the second — demonstrating what a digest collision does —
    // while exact mode keys on the payload itself and keeps both
    val events = Seq(
      UserEvent(1L, ts(0), 1L, "click", 1.5),
      UserEvent(2L, ts(1), 2L, "view", 2.0),
      UserEvent(3L, ts(2), 2L, "view", 2.0)) // true duplicate of event 2
    val narrow = Seq(pmod(xxhash64(col("user_id"), col("event_type"), col("value")), lit(1L)))

    val in1 = MemoryStream[UserEvent]
    val q1 = EventStreams.streamingDedupByKeys(
        in1.toDF(), "ts", narrow, "1 hour")
      .writeStream.format("memory").queryName("collided")
      .outputMode("append").start()
    in1.addData(events: _*)
    q1.processAllAvailable(); q1.stop()
    assert(spark.table("collided").count() == 1) // collision silently drops

    val in2 = MemoryStream[UserEvent]
    val q2 = EventStreams.streamingDedup(
        in2.toDF(), "ts", Seq("user_id", "event_type", "value"), "1 hour",
        exact = true)
      .writeStream.format("memory").queryName("exactmode")
      .outputMode("append").start()
    in2.addData(events: _*)
    q2.processAllAvailable(); q2.stop()
    val kept = spark.table("exactmode").collect()
      .map(r => (r.getLong(2), r.getString(3))).sorted.toSeq
    assert(kept == Seq((1L, "click"), (2L, "view"))) // distinct both survive
  }

  test("file-source streaming: readStream over the events parquet matches batch") {
    import org.apache.spark.sql.types.LongType
    // the real pipeline shape: stream the driver-generated parquet through
    // the same event-time aggregation the batch path uses
    // the file stream source lists a directory; stage the single test file
    val dir = Artifacts.dir("events_stream").toPath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val stream0 = spark.readStream.schema(raw.schema).parquet(dir.toString)
    // same vintage normalization as the production loaders (Tables.events /
    // StreamQueries.eventsStream): nanos-as-long and TIMESTAMP_NTZ both
    // land on TimestampType, which withWatermark requires
    val stream = raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) as long
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream0.withColumn("ts", col("ts").cast("timestamp"))
      case _ => stream0
    }
    val q = EventStreams.toMemorySink(
      EventStreams.windowedCounts(stream, "1 hour", "2 hours"), "file_counts")
    q.processAllAvailable()
    val streamAgg = spark.table("file_counts")
      .orderBy("window_start", "event_type").collect().toSeq
    q.stop()
    val batchAgg = EventStreams.windowedCounts(
        Tables.events(spark, sf), "1 hour", "2 hours")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamAgg.nonEmpty)
    assert(streamAgg == batchAgg)
  }

  test("runningUserStats accumulates per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.runningUserStats(input.toDS())
      .toDF()
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    input.addData(eventsData.take(2): _*)
    q.processAllAvailable()
    input.addData(eventsData.drop(2): _*)
    q.processAllAvailable()
    val byUser = spark.table("running")
      .groupBy($"user_id").agg(max($"n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    assert(byUser(1L) == 3L)
    assert(byUser(2L) == 1L)
  }

  test("transformWithState running stats: cross-batch accumulation ≡ mapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[UserEvent]
      val q = EventStreams.runningUserStatsTws(input.toDS())
        .toDF()
        .writeStream.format("memory").queryName("running_tws")
        .outputMode("update").start()
      input.addData(eventsData.take(2): _*)
      q.processAllAvailable()
      input.addData(eventsData.drop(2): _*)
      q.processAllAvailable()
      // latest update per user equals the mapGroupsWithState kernel's
      // final state — the TWS re-expression must not drift semantically
      val byUser = spark.table("running_tws")
        .groupBy($"user_id").agg(max($"n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      q.stop()
      assert(byUser(1L) == 3L)
      assert(byUser(2L) == 1L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ingestSharded: micro-batches upsert the sharded layout, updates win, shards stay addressable") {
    import graft.sources.Sinks
    implicit val sqlCtx = spark.sqlContext
    val dir = Artifacts.dir("ingest_shards").toPath
    val path = dir.resolve("data").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "payload")
    val q = EventStreams.ingestSharded(stream, path, "doc_id", nShards = 4, ckpt)
    // batch 0 bootstraps the layout
    input.addData((1L, "a"), (2L, "b"), (5L, "c"))
    q.processAllAvailable()
    assert(Sinks.readSharded(spark, path).count() == 3)
    // batch 1: update doc 1, insert doc 3 — docs 2 and 5 must survive
    input.addData((1L, "a2"), (3L, "d"))
    q.processAllAvailable()
    q.stop()
    val back = Sinks.readSharded(spark, path)
    assert(back.count() == 4)
    val byId = back.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("payload")).toMap
    assert(byId == Map(1L -> "a2", 2L -> "b", 3L -> "d", 5L -> "c"))
    // layout stays deterministic: every row in the shard its id hashes to
    assert(back.filter(col("shard") =!=
      pmod(col("doc_id"), lit(4)).cast("int")).isEmpty)
  }

  test("aggMaintain: micro-batches maintain the MV; a replayed batchId merges once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Artifacts.dir("mv_state").toPath
    val path = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("key", "v")
    val q = EventStreams.aggMaintain(stream, path, "key", "v", ckpt)
    input.addData(("a", 10L), ("a", 20L), ("b", 5L))
    q.processAllAvailable()
    input.addData(("a", 30L), ("c", 1L))
    q.processAllAvailable()
    q.stop()
    def snap() = IncrementalAgg.readState(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue(),
        r.getLong(3))).sortBy(_._1).toSeq
    val maintained = snap()
    assert(maintained ==
      Seq(("a", 3L, 60L, 30L), ("b", 1L, 5L, 5L), ("c", 1L, 1L, 1L)))
    // at-least-once replay: re-merging an already-committed batchId is a
    // no-op (the marker gate), while a NEW batchId merges
    val replay = Seq(("a", 100L)).toDF("key", "v")
    EventStreams.mergeBatchOnce(replay, path, "key", "v", batchId = 1L)
    assert(snap() == maintained, "replayed batchId must not double-count")
    EventStreams.mergeBatchOnce(replay, path, "key", "v", batchId = 99L)
    assert(snap().find(_._1 == "a").get == ("a", 4L, 160L, 100L))
  }

  test("mvMaintain: MV keeps serving the join-back BETWEEN micro-batches") {
    val dir = Artifacts.dir("mvserve").toPath
    val statePath = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    // the fact TABLE is the stream's source dir: every ingested file is
    // part of the table the instant it lands, so the maintained MV always
    // equals the rebuilt one and the rewrite is result-preserving
    val factPath = dir.resolve("factdir").toString
    new java.io.File(factPath).mkdirs()
    def land(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = dir.resolve(s"w_$name")
      rows.toDF("k", "amount").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(factPath, name)); ()
    }
    land(Seq((1L, 10L), (2L, 20L)), "f0.parquet")
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("k", "seg")
    val rollups = Map("mv_sum" -> "sum", "mv_cnt" -> "sum")
    def rollup(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("k"))
      .agg(sum(col("amount")).as("mv_sum"), count(lit(1)).as("mv_cnt"))
    val stream = spark.readStream
      .schema(spark.read.parquet(factPath).schema)
      .option("maxFilesPerTrigger", 1).parquet(factPath)
    val q = EventStreams.mvMaintain(
      stream, statePath, Seq("k"), rollup, rollups, ckpt,
      onRefresh = { _ =>
        graft.plans.MvRewrite.unregister(factPath)
        IncrementalAgg.latestStateDir(spark, statePath).foreach { vdir =>
          graft.plans.MvRewrite.register(spark, factPath,
            rollup(spark.read.parquet(factPath)), vdir, Seq("k"), rollups)
        }
      })
    def serve() = spark.read.parquet(factPath)
      .join(dim, "k").groupBy(col("seg"))
      .agg(sum(col("amount")).as("amt"), count(lit(1)).as("n"))
      .orderBy("seg")
    try {
      // batch 0 (f0) commits v0 — the query must be MV-served NOW, while
      // the stream is still running
      q.processAllAvailable()
      val p0 = serve().queryExecution.executedPlan.toString
      assert(p0.contains("state/v0") && !p0.contains("factdir"),
        s"between batches the aggregate must serve from v0:\n$p0")
      assert(serve().collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq == Seq(("x", 10L, 1L), ("y", 20L, 1L)))
      // a delta file lands: the refresh commits v1, registration
      // re-points, and the same query serves the UPDATED summary — still
      // no fact scan
      land(Seq((1L, 5L), (3L, 7L)), "f1.parquet")
      q.processAllAvailable()
      val p1 = serve().queryExecution.executedPlan.toString
      assert(p1.contains("state/v1") && !p1.contains("factdir"),
        s"post-refresh the aggregate must serve from v1:\n$p1")
      assert(serve().collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq == Seq(("x", 15L, 2L), ("y", 27L, 2L)))
    } finally {
      q.stop()
      graft.plans.MvRewrite.unregister(factPath)
    }
  }

  test("incrementalDedupOnce: batched kept == full greedy; replayed batchId is a no-op") {
    import graft.operators.Dedup
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("sdedup").toPath
    val state = dir.resolve("state").toString
    val out = dir.resolve("out").toString
    // near-dups across the batch boundary: 2 ≈ 1 (lives in batch 0),
    // 12 ≈ 1 (arrives in batch 1 — must still lose to the indexed 1),
    // 13 is novel
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val b0 = Seq((1L, t1), (2L, t1 + " iota"), (3L, "one two three four five six"))
      .toDF("doc_id", "text")
    val b1 = Seq((12L, t1 + " kappa"), (13L, "seven eight nine ten eleven dozen"))
      .toDF("doc_id", "text")
    def sink(id: Long)(kept: org.apache.spark.sql.DataFrame): Unit =
      kept.write.mode("overwrite").parquet(s"$out/batch=$id")
    Dedup.incrementalDedupOnce(spark, state, b0, "doc_id", "text", 0L,
      sink(0L), threshold = 0.5)
    Dedup.incrementalDedupOnce(spark, state, b1, "doc_id", "text", 1L,
      sink(1L), threshold = 0.5)
    def keptIds() = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // greedy by id over the union: 2 loses to 1, 12 loses to 1, 13 kept
    assert(keptIds() == Seq(1L, 3L, 13L), keptIds().toString)
    // equivalence with the one-shot greedy dedup over the union
    val full = Dedup.dropNearDupsGreedy(b0.unionByName(b1),
        "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds() == full)
    // a replayed batchId must not touch state or output (the sink isn't
    // even invoked — poison it to prove the skip)
    Dedup.incrementalDedupOnce(spark, state, b1, "doc_id", "text", 1L,
      _ => fail("replayed batchId must skip the whole body"),
      threshold = 0.5)
    assert(keptIds() == Seq(1L, 3L, 13L))
  }

  test("domainCapOnce: cross-batch cap == arrival-order cap; crash+replay safe") {
    import graft.operators.UrlCuration
    val dir = Artifacts.dir("domcap").toPath
    val state = dir.resolve("state").toString
    val out = dir.resolve("out").toString
    def urls(ids: Seq[Long], host: Long => String) =
      ids.map(i => (i, s"http://${host(i)}/p/$i")).toDF("doc_id", "url")
    // host a: 4 docs in batch 0 (cap=3 trims the 4th), 2 more in batch 1
    //   (both must be dropped — the cross-batch count is already full)
    // host b: 1 in batch 0 + 2 in batch 1 (all kept, total 3)
    // blocked.example: one direct hit + one subdomain, both dropped
    val b0 = urls(Seq(1L, 2L, 3L, 4L), i => if (i <= 4) "a.example" else "?")
      .unionByName(urls(Seq(5L), _ => "b.example"))
      .unionByName(urls(Seq(6L), _ => "blocked.example"))
    val b1 = urls(Seq(11L, 12L), _ => "a.example")
      .unionByName(urls(Seq(13L, 14L), _ => "b.example"))
      .unionByName(urls(Seq(15L), _ => "spam.blocked.example"))
    def sink(id: Long)(kept: org.apache.spark.sql.DataFrame): Unit =
      kept.write.mode("overwrite").parquet(s"$out/batch=$id")
    val block = Seq("blocked.example")
    UrlCuration.domainCapOnce(spark, state, b0, "doc_id", "url", 0L,
      sink(0L), block, maxPerDomain = 3)
    // crash AFTER the sink, BEFORE the commit: batch 1's kept rows land
    // but the counts never commit — the replay must recompute against
    // UNCHANGED state and overwrite identically
    intercept[RuntimeException] {
      UrlCuration.domainCapOnce(spark, state, b1, "doc_id", "url", 1L,
        kept => { sink(1L)(kept); throw new RuntimeException("crash") },
        block, maxPerDomain = 3)
    }
    assert(graft.operators.IncrementalAgg.latestVersion(spark, state)
      .contains(0L), "a crash before commit must leave state at v0")
    UrlCuration.domainCapOnce(spark, state, b1, "doc_id", "url", 1L,
      sink(1L), block, maxPerDomain = 3)
    def keptIds() = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds() == Seq(1L, 2L, 3L, 5L, 13L, 14L), keptIds().toString)
    // equivalence: streamed union == batch-global arrival-order cap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("doc_id"))
    val full = UrlCuration.blocklistFilter(b0.unionByName(b1), "url", block)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds() == full)
    // a replayed committed batchId must skip the whole body
    UrlCuration.domainCapOnce(spark, state, b1, "doc_id", "url", 1L,
      _ => fail("replayed batchId must skip the whole body"),
      block, maxPerDomain = 3)
    assert(keptIds() == Seq(1L, 2L, 3L, 5L, 13L, 14L))
  }

  test("decontamGate: total disjoint routing == batch decontaminate; replay idempotent") {
    import graft.operators.{Contamination, Dedup}
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("decontam").toPath
    val srcDir = dir.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    val leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((900L, leak)).toDF("doc_id", "text")
    // batch 0: one clean doc, one carrying the full benchmark passage;
    // batch 1: one clean doc, one null-text doc (scores 0-of-0 → kept)
    def land(rows: Seq[(Long, Option[String])], name: String): Unit = {
      val tmp = dir.resolve(s"w_$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name)); ()
    }
    land(Seq((1L, Some("one two three four five six seven")),
      (2L, Some(leak + " and more"))), "f0.parquet")
    land(Seq((3L, Some("eight nine ten eleven twelve thirteen")),
      (4L, None)), "f1.parquet")
    val keep = dir.resolve("keep").toString
    val rej = dir.resolve("rej").toString
    val (benchSh, bloom) = Contamination.prepBenchmark(bench, "text")
    val benchCk = benchSh.localCheckpoint()
    try {
      def runOnce(ckpt: String): Unit = {
        val stream = spark.readStream
          .schema(spark.read.parquet(srcDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        val q = EventStreams.decontamGate(stream, benchCk, bloom,
          "doc_id", "text", keep, rej, dir.resolve(ckpt).toString,
          threshold = 0.5)
        try q.processAllAvailable() finally q.stop()
      }
      runOnce("ckpt1")
      def ids(p: String) = spark.read.parquet(p)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids(keep) == Seq(1L, 3L, 4L), ids(keep).toString)
      assert(ids(rej) == Seq(2L), ids(rej).toString)
      // equals the batch pipeline ending over the same corpus
      val corpus = spark.read.parquet(srcDir)
      val batchKeep = Contamination.decontaminate(corpus, bench,
        "doc_id", "text", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids(keep) == batchKeep)
      // a full replay (fresh checkpoint, same sinks) overwrites
      // identically — no duplicates, no drift
      runOnce("ckpt2")
      assert(ids(keep) == Seq(1L, 3L, 4L) && ids(rej) == Seq(2L))
    } finally Dedup.release(benchCk)
  }

  test("routeBinary: disjoint total routing; replay overwrites, never duplicates") {
    val dir = Artifacts.dir("route").toPath
    val srcDir = dir.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    def land(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = dir.resolve(s"w_$name")
      rows.toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name)); ()
    }
    land((1L to 10L).map(i => (i, i * 10)), "f0.parquet")
    land((11L to 20L).map(i => (i, i * 10)), "f1.parquet")
    // a NULL-evaluating predicate row must land in the reject sink, not
    // vanish from both (routing is total: null coalesces to false)
    locally {
      val tmp = dir.resolve("w_null")
      Seq((21L, Option.empty[Long])).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, "f2.parquet")); ()
    }
    val keepDir = dir.resolve("keep").toString
    val rejDir = dir.resolve("rej").toString
    def runOnce(ckptName: String): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = EventStreams.routeBinary(stream, col("v") >= 100,
        keepDir, rejDir, dir.resolve(ckptName).toString)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce("ckpt1")
    def ids(p: String) = spark.read.parquet(p)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(keepDir) == (10L to 20L))
    assert(ids(rejDir) == ((1L to 9L) :+ 21L))
    // full REPLAY (fresh checkpoint, same sinks): per-batch overwrite
    // dirs make it idempotent — identical contents, no duplicates
    runOnce("ckpt2")
    assert(ids(keepDir) == (10L to 20L) && ids(rejDir) == ((1L to 9L) :+ 21L))
  }

  test("transformIngest: streamed bundle == batch bundle; fresh-checkpoint replay idempotent") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Artifacts.dir("tingest").toPath
    val srcDir = dir.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = dir.resolve(s"w_$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name)); ()
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spam spam spam spam spam spam"),
      (3L, "der hund und die katze sind nicht da"),
      (4L, "numbers 123 and 456 with punctuation, lots of it!"))
    land(docs.take(2), "f0.parquet")
    land(docs.drop(2), "f1.parquet")
    val out = dir.resolve("out").toString
    def runOnce(ckptName: String): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = EventStreams.transformIngest(stream,
        b => graft.operators.TextAnalysis.signalBundle(b, "doc_id", "text"),
        out, dir.resolve(ckptName).toString)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce("ckpt1")
    val batch = graft.operators.TextAnalysis.signalBundle(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    def streamed() = spark.read.parquet(out).drop("batch")
      .select(batch.head.schema.fieldNames.map(col): _*)
      .orderBy("doc_id").collect().toSeq
    assert(streamed() == batch, "streamed signals must equal the batch bundle")
    // full replay with a fresh checkpoint into the SAME out dir: the
    // per-batch overwrite dirs rewrite identically — no duplicates
    runOnce("ckpt2")
    assert(streamed() == batch, "replay must overwrite, never duplicate")
  }

  test("streamed chunk index: maintained index equals full rebuild; served retrieval equals batch") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Similarity
    val dir = Artifacts.dir("cidx").toPath
    val srcDir = dir.resolve("src").toString
    new java.io.File(srcDir).mkdirs()
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = dir.resolve(s"w_$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name)); ()
    }
    val c1 = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val docs = Seq(
      (1L, c1),
      (2L, (1 to 25).map(i => s"beta$i").mkString(" ")),
      (3L, (1 to 9).map(i => s"gamma$i").mkString(" ")))
    land(docs.take(2), "f0.parquet")
    land(docs.drop(2), "f1.parquet")
    val out = dir.resolve("out").toString
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = EventStreams.transformIngest(stream,
      b => Similarity.chunkIndex(b, "doc_id", "text"),
      out, dir.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    // per-batch chunk+embed is row-local ⇒ the maintained index equals a
    // full rebuild row-for-row (the e18/e20 delta-equivalence fact)
    val maintained = spark.read.parquet(out).drop("batch")
    val rebuilt = Similarity.chunkIndex(docs.toDF("doc_id", "text"),
      "doc_id", "text")
    assert(maintained.count() == rebuilt.count())
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "streamed-maintained chunk index must equal the batch rebuild")
    // and retrieval served from it equals the batch pipeline
    val queries = Seq((100L, c1)).toDF("doc_id", "text")
    val served = Similarity.chunkRetrieveFromIndex(maintained, queries,
      "doc_id", "text", k = 2).collect().map(_.toString).sorted.toSeq
    val batch = Similarity.chunkRetrieveTopK(docs.toDF("doc_id", "text"),
      queries, "doc_id", "text", k = 2).collect().map(_.toString).sorted.toSeq
    assert(served == batch)
    // e27 composition: the maintained index serves the cell-pruned IVF
    // tier identically to a full rebuild (cell assignment is row-local
    // over the frozen codebook), and exhaustive probes (nProbe = nCells)
    // equal the exact scan ranking
    val rebuiltCk = rebuilt.localCheckpoint(true)
    val cents = Similarity.chunkIvfCentroidsCollected(rebuiltCk, nCells = 2)
    def ivfServe(idx: org.apache.spark.sql.DataFrame) =
      Similarity.chunkRetrieveFromIvfIndex(
        Similarity.chunkIvfIndex(idx, cents), cents, queries,
        "doc_id", "text", k = 2, nProbe = 2)
        .collect().map(_.toString).sorted.toSeq
    val servedIvf = ivfServe(maintained)
    assert(servedIvf == ivfServe(rebuiltCk),
      "maintained-index IVF serve must equal the rebuilt-index serve")
    assert(servedIvf == batch,
      "exhaustive probes must reproduce the exact scan ranking")
    // versioned-commit maintenance of the PERSISTED cell-partitioned
    // index (chunkIvfExtendIndex — the e20 economics at chunk level):
    // two batches commit, a replayed batchId is a no-op, and the
    // committed table equals a full rebuild row-for-row
    val state = dir.resolve("ivfstate").toString
    Similarity.chunkIvfExtendIndex(spark, state,
      docs.take(2).toDF("doc_id", "text"), "doc_id", "text", cents, 0L)
    Similarity.chunkIvfExtendIndex(spark, state,
      docs.drop(2).toDF("doc_id", "text"), "doc_id", "text", cents, 1L)
    Similarity.chunkIvfExtendIndex(spark, state,
      docs.drop(2).toDF("doc_id", "text"), "doc_id", "text", cents, 1L) // replay
    val committed = graft.operators.IncrementalAgg.readState(spark, state)
    val fullIvf = Similarity.chunkIvfIndex(rebuiltCk, cents)
    assert(committed.count() == fullIvf.count())
    assert(committed.exceptAll(fullIvf).isEmpty &&
      fullIvf.exceptAll(committed).isEmpty,
      "committed chunk-IVF index must equal the batch rebuild")
    // generic row-local retraction: dropping a doc's rows in place must
    // equal the index rebuilt on the survivors (row-local assignment
    // under the frozen quantizer), and an absent key is a no-op
    graft.operators.IncrementalAgg.retractRows(spark, state,
      Seq(docs(1)._1).toDF("doc_id"), batchId = 2L)
    graft.operators.IncrementalAgg.retractRows(spark, state,
      Seq(99999L).toDF("doc_id"), batchId = 3L)
    val retracted = graft.operators.IncrementalAgg.readState(spark, state)
    val survivorIvf = fullIvf.filter(col("doc_id") =!= docs(1)._1)
    assert(retracted.exceptAll(survivorIvf).isEmpty &&
      survivorIvf.exceptAll(retracted).isEmpty,
      "retracted chunk-IVF state must equal the survivor rebuild")
  }

  test("bm25 posting index: maintained state equals rebuild; replay no-op; served equals recompute") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, IncrementalAgg, TextAnalysis}
    val dir = Artifacts.dir("bm25state").toPath
    val b0 = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "apple fig cherry banana"), (4L, "durian fig"))
      .toDF("doc_id", "text")
    val full = b0.unionAll(b1)
    val state = dir.resolve("state").toString
    Bm25Index.extendIndex(spark, state, b0, Seq("doc_id"), "text", 0L)
    Bm25Index.extendIndex(spark, state, b1, Seq("doc_id"), "text", 1L)
    Bm25Index.extendIndex(spark, state, b1, Seq("doc_id"), "text", 1L) // replay
    val oneShot = dir.resolve("oneshot").toString
    Bm25Index.extendIndex(spark, oneShot, full, Seq("doc_id"), "text", 0L)
    // every part of the two-batch state equals the one-shot rebuild's —
    // postings are row-local per item, df/len/n_docs are additive over
    // the disjoint batches (and the replayed batchId merged nothing)
    for (part <- Seq(Bm25Index.PostingsPart, Bm25Index.TermsPart,
        Bm25Index.StatsPart, Bm25Index.ItemsPart)) {
      val m = IncrementalAgg.readStatePart(spark, state, part)
      val r = IncrementalAgg.readStatePart(spark, oneShot, part)
      assert(m.count() == r.count(), part)
      assert(m.exceptAll(r).isEmpty && r.exceptAll(m).isEmpty,
        s"$part: maintained state must equal the one-shot rebuild")
    }
    // serving from the maintained index ≡ the from-scratch recompute path
    val queries = Seq((100L, "fig banana"), (200L, "apple grape"))
      .toDF("qid", "qtext")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"doc_id", $"bm25_fp", $"rank")
      .collect().map(_.toString).sorted.toSeq
    val served = canon(Bm25Index.bm25TopKBatchFromIndex(spark, state,
      queries, Seq("doc_id"), "qid", "qtext", k = 3))
    assert(served == canon(TextAnalysis.bm25TopKBatch(full, queries,
      Seq("doc_id"), "text", "qid", "qtext", k = 3)))
    assert(served.nonEmpty)
    // overlapping delta ids raise (a duplicated item would double-count
    // df and score wrong) — and the failed commit leaves the state read
    val e = intercept[IllegalArgumentException] {
      Bm25Index.extendIndex(spark, state,
        Seq((2L, "banana")).toDF("doc_id", "text"), Seq("doc_id"),
        "text", 2L)
    }
    assert(e.getMessage.contains("strictly greater"), e.getMessage)
    assert(canon(Bm25Index.bm25TopKBatchFromIndex(spark, state, queries,
      Seq("doc_id"), "qid", "qtext", k = 3)) == served,
      "a refused delta must leave the committed state serving unchanged")
    // deletion propagation: retract doc 2 in place — the retracted index
    // must serve EXACTLY what a from-scratch build on the surviving
    // corpus serves (postings gone, df subtracted with df-0 terms
    // dropped, totals subtracted)
    Bm25Index.retractFromIndex(spark, state,
      Seq(2L).toDF("doc_id"), Seq("doc_id"), batchId = 3L)
    val survivors = full.filter($"doc_id" =!= 2L)
    val surviving = dir.resolve("surviving").toString
    Bm25Index.extendIndex(spark, surviving, survivors, Seq("doc_id"),
      "text", 0L)
    assert(canon(Bm25Index.bm25TopKBatchFromIndex(spark, state, queries,
      Seq("doc_id"), "qid", "qtext", k = 3)) ==
      canon(Bm25Index.bm25TopKBatchFromIndex(spark, surviving, queries,
        Seq("doc_id"), "qid", "qtext", k = 3)),
      "retract ≡ rebuild on the surviving corpus")
    for (part <- Seq(Bm25Index.PostingsPart, Bm25Index.TermsPart,
        Bm25Index.StatsPart, Bm25Index.ItemsPart)) {
      val m = IncrementalAgg.readStatePart(spark, state, part)
      val r = IncrementalAgg.readStatePart(spark, surviving, part)
      assert(m.count() == r.count(), part)
      assert(m.exceptAll(r).isEmpty && r.exceptAll(m).isEmpty,
        s"$part: retracted state must equal the surviving-corpus rebuild")
    }
    // a delete key absent from the index is a no-op (new version, same rows)
    Bm25Index.retractFromIndex(spark, state,
      Seq(99L).toDF("doc_id"), Seq("doc_id"), batchId = 4L)
    assert(canon(Bm25Index.bm25TopKBatchFromIndex(spark, state, queries,
      Seq("doc_id"), "qid", "qtext", k = 3)) ==
      canon(Bm25Index.bm25TopKBatchFromIndex(spark, surviving, queries,
        Seq("doc_id"), "qid", "qtext", k = 3)))
  }

  test("append commits are O(delta): prior segments untouched; retraction O(deletes); compaction ≡ eager rewrite") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, IncrementalAgg}
    val dir = Artifacts.dir("bm25seg").toPath
    val state = dir.resolve("state").toString
    val b0 = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "apple fig cherry banana"), (4L, "durian fig"))
      .toDF("doc_id", "text")
    Bm25Index.extendIndex(spark, state, b0, Seq("doc_id"), "text", 0L)
    // fingerprint batch 0's committed postings segment files
    def segFiles(part: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(state, "seg", part)
      if (!java.nio.file.Files.exists(root)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala.filter(p =>
            p.toString.endsWith(".parquet"))
          .map(p => p.toString ->
            (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap
        finally s.close()
      }
    }
    val before = segFiles(Bm25Index.PostingsPart)
    assert(before.nonEmpty)
    Bm25Index.extendIndex(spark, state, b1, Seq("doc_id"), "text", 1L)
    val after = segFiles(Bm25Index.PostingsPart)
    // O(delta): every batch-0 file survives BYTE-IDENTICAL (same path,
    // size, mtime) — the second commit wrote only its own segment
    assert(before.forall { case (p, sig) => after.get(p).contains(sig) },
      "extending the index must never rewrite previously committed " +
        "posting segments")
    assert(after.size > before.size)
    // tombstone retraction: data segments untouched, the commit adds only
    // tombstones + the vocabulary-bounded terms/stats rewrite
    Bm25Index.retractFromIndex(spark, state, Seq(2L).toDF("doc_id"),
      Seq("doc_id"), batchId = 2L)
    val postRetract = segFiles(Bm25Index.PostingsPart)
    assert(after.forall { case (p, sig) => postRetract.get(p).contains(sig) },
      "a retraction must not rewrite posting segments — it commits " +
        "tombstones")
    assert(segFiles(IncrementalAgg.tombstonePart(Bm25Index.PostingsPart))
      .nonEmpty, "the retraction must land as a tombstone segment")
    // the resolved read already equals the survivor rebuild (the pin in
    // the test above); compaction must not change ANY resolved read
    def canonParts(): Map[String, Seq[String]] =
      Seq(Bm25Index.PostingsPart, Bm25Index.TermsPart, Bm25Index.StatsPart,
          Bm25Index.ItemsPart).map { part =>
        part -> IncrementalAgg.readStatePart(spark, state, part)
          .collect().map(_.toString).sorted.toSeq
      }.toMap
    val resolvedBefore = canonParts()
    Bm25Index.compactIndex(spark, state, batchId = 3L)
    assert(canonParts() == resolvedBefore,
      "compaction must be read-invisible: it only folds tombstones into " +
        "a rewritten segment")
    // compaction clears the tombstones from the LATEST manifest at once;
    // the cleared segment FILES stay on disk for the retention window
    // (the previous retained manifest still references them — that is
    // what keeps a reader bound to the pre-compaction version alive) and
    // sweep on the commit after
    assert(IncrementalAgg.tombstoneRows(spark, state,
      Bm25Index.PostingsPart) == 0L,
      "compaction must clear the tombstones from the committed manifest")
    assert(IncrementalAgg.segmentCount(spark, state,
      IncrementalAgg.tombstonePart(Bm25Index.PostingsPart)) == 0)
    // a post-compaction extend still appends O(delta): the fold segment
    // survives byte-identical (pre-fold segments may sweep here — the
    // retention window just passed them)
    val compacted = segFiles(Bm25Index.PostingsPart)
    val foldFiles = compacted.filter(_._1.contains("__seg=s3"))
    assert(foldFiles.nonEmpty, "the compaction fold segment must exist")
    Bm25Index.extendIndex(spark, state,
      Seq((9L, "apple melon")).toDF("doc_id", "text"), Seq("doc_id"),
      "text", 4L)
    val extended = segFiles(Bm25Index.PostingsPart)
    assert(foldFiles.forall { case (p, sig) => extended.get(p).contains(sig) },
      "an extend must never rewrite the compacted fold segment")
    assert(segFiles(IncrementalAgg.tombstonePart(Bm25Index.PostingsPart))
      .isEmpty,
      "cleared tombstone segments must sweep once the retention window " +
        "passes")
    // tombstone key-shape discipline: retracting with a different key
    // column set than the committed tombstones raises with guidance
    Bm25Index.retractFromIndex(spark, state, Seq(9L).toDF("doc_id"),
      Seq("doc_id"), batchId = 5L)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.appendOnceWithParts(spark, state, 6L,
        appendDeltas = Seq(
          IncrementalAgg.tombstonePart(Bm25Index.PostingsPart) ->
            Seq((1L, "x")).toDF("doc_id", "other")))
    }
    assert(e.getMessage.contains("compact the state"), e.getMessage)
    // the amortized schedule is metadata-driven: after the doc-9
    // retraction the committed tombstone fraction is positive, a lenient
    // threshold does NOT fold, a strict one does and resets it to zero
    val frac = IncrementalAgg.tombstoneFraction(spark, state,
      Bm25Index.ItemsPart)
    assert(frac > 0.0 && frac < 1.0, s"fraction $frac")
    val itemsPreFold = IncrementalAgg.readStatePart(spark, state,
      Bm25Index.ItemsPart).collect().map(_.toString).sorted.toSeq
    assert(!Bm25Index.compactIndexWhenDue(spark, state, 6L,
      maxFraction = 0.9))
    assert(Bm25Index.compactIndexWhenDue(spark, state, 7L,
      maxFraction = frac / 2))
    assert(IncrementalAgg.tombstoneFraction(spark, state,
      Bm25Index.ItemsPart) == 0.0)
    assert(IncrementalAgg.readStatePart(spark, state, Bm25Index.ItemsPart)
      .collect().map(_.toString).sorted.toSeq == itemsPreFold,
      "a due compaction must stay read-invisible")
  }

  test("append-commit crash window: an orphan segment is reader-invisible and swept by the next commit") {
    import graft.operators.IncrementalAgg
    val dir = Artifacts.dir("segcrash").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), 0L, "id")
    // simulate a crash AFTER a segment write but BEFORE the version
    // commit: a fully-formed parquet segment lands with no manifest
    // naming it
    Seq((99L, "ghost")).toDF("id", "payload")
      .withColumn("__seg", lit("s7"))
      .write.partitionBy("__seg").mode("append")
      .parquet(s"$state/seg/rows")
    // the reader's planning-time __seg filter never admits the orphan
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // the next successful commit appends normally and sweeps the orphan
    IncrementalAgg.appendOnce(spark, state,
      Seq((3L, "c")).toDF("id", "payload"), 1L, "id")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(!new java.io.File(s"$state/seg/rows/__seg=s7").exists(),
      "unreferenced segments must be swept after the next commit")
    // tombstone mode + compaction on the generic rows state: O(deletes)
    // retraction then a read-invisible fold
    IncrementalAgg.retractRows(spark, state, Seq(2L).toDF("id"), 2L)
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    IncrementalAgg.compactRows(spark, state, 3L)
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // post-compaction the monotone guard still binds (metadata range)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.appendOnce(spark, state,
        Seq((3L, "dup")).toDF("id", "payload"), 4L, "id")
    }
    assert(e.getMessage.contains("strictly greater"), e.getMessage)
  }

  test("readStatePartRanged: committed id ranges prune to intersecting segments; tombstones still apply") {
    import graft.operators.IncrementalAgg
    val dir = Artifacts.dir("ranged").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      (1L to 10L).map(i => (i, s"p$i")).toDF("id", "payload"), 0L, "id")
    IncrementalAgg.appendOnce(spark, state,
      (11L to 20L).map(i => (i, s"p$i")).toDF("id", "payload"), 1L, "id")
    def ids(lo: Long, hi: Long) = IncrementalAgg.readStatePartRanged(
        spark, state, IncrementalAgg.RowsPart, lo, hi)
      .collect().map(_.getLong(0)).sorted.toSeq
    // a point inside segment 0's range reads ONLY that segment (superset
    // of the range — the caller still filters/joins; pruning is the win)
    assert(ids(5L, 5L) == (1L to 10L))
    assert(ids(15L, 15L) == (11L to 20L))
    assert(ids(5L, 15L) == (1L to 20L))
    assert(ids(100L, 200L) == Seq.empty)
    // tombstones apply inside the pruned read too
    IncrementalAgg.retractRows(spark, state, Seq(5L).toDF("id"), 2L)
    assert(ids(5L, 5L) == (1L to 10L).filter(_ != 5L))
  }

  test("query-result cache: cached ≡ direct; partial batches mix; index maintenance invalidates by version") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, IncrementalAgg}
    val dir = Artifacts.dir("bm25qc").toPath
    val state = dir.resolve("state").toString
    val cache = dir.resolve("cache").toString
    Bm25Index.extendIndex(spark, state,
      Seq((1L, "apple banana apple"), (2L, "banana cherry"),
        (3L, "apple fig cherry banana"), (4L, "durian fig"))
        .toDF("doc_id", "text"),
      Seq("doc_id"), "text", 0L)
    def direct(qs: Seq[(Long, String)]) =
      Bm25Index.bm25TopKBatchFromIndex(spark, state,
        qs.toDF("qid", "qtext"), Seq("doc_id"), "qid", "qtext", k = 3)
        .collect().map(_.toString).sorted.toSeq
    def cachedServe(qs: Seq[(Long, String)]) =
      Bm25Index.bm25TopKBatchCached(spark, state, cache,
        qs.toDF("qid", "qtext"), Seq("doc_id"), "qid", "qtext", k = 3)
        .collect().map(_.toString).sorted.toSeq
    val q1 = Seq((100L, "fig banana"), (200L, "apple grape"))
    assert(cachedServe(q1) == direct(q1), "cold pass (all misses)")
    assert(cachedServe(q1) == direct(q1), "hot pass (all hits)")
    // partial batch: one hit, one new query, and a text-identical query
    // under a NEW id resolves from the shared entry
    val q2 = Seq((100L, "fig banana"), (300L, "cherry"),
      (400L, "fig banana"))
    assert(cachedServe(q2) == direct(q2), "mixed hit/miss batch")
    // maintenance invalidates by construction: a new committed index
    // version changes every digest, so the same texts re-serve against
    // the EXTENDED index (doc 9 now matches "grape")
    Bm25Index.extendIndex(spark, state,
      Seq((9L, "grape grape")).toDF("doc_id", "text"),
      Seq("doc_id"), "text", 1L)
    assert(cachedServe(q1) == direct(q1),
      "post-maintenance serve must reflect the new index version")
    assert(direct(q1).exists(_.contains("9")),
      "the extended index must actually surface doc 9")
    // the cache state never grew beyond (distinct digests x k)
    assert(IncrementalAgg.readState(spark, cache)
      .select("__qd").distinct().count() >= 3L)
  }

  test("bm25 index predating items bookkeeping raises a rebuild-required error") {
    import graft.operators.Bm25Index
    val dir = Artifacts.dir("bm25legacy").toPath
    val state = dir.resolve("state").toString
    // hand-build a legacy three-part rewrite-protocol version (no items)
    Seq(("apple", 1L)).toDF("term", "df").write.parquet(s"$state/v0/terms")
    Seq((1L, 3L, 64)).toDF("n_docs", "len_sum", "n_buckets")
      .write.parquet(s"$state/v0/stats")
    Seq((1L, 3L, "apple", 1.0, 7)).toDF("doc_id", "len", "term", "tf", "__tb")
      .write.parquet(s"$state/v0/postings")
    for (op <- Seq(
        () => Bm25Index.retractFromIndex(spark, state,
          Seq(1L).toDF("doc_id"), Seq("doc_id"), 1L),
        () => Bm25Index.extendIndex(spark, state,
          Seq((5L, "pear")).toDF("doc_id", "text"), Seq("doc_id"),
          "text", 1L),
        () => Bm25Index.compactIndex(spark, state, 1L))) {
      val e = intercept[IllegalStateException] { op() }
      assert(e.getMessage.contains("rebuild required"), e.getMessage)
    }
  }

  test("streamingFunnelN: 4-step anchors equal batch firstTouch under ts-monotone batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.FunnelEvent
    import graft.operators.Funnel
    val H = 3600000000L
    val evs = Seq(
      // user 1: full 4-step conversion
      FunnelEvent(1L, 1 * H, 1L, "a"), FunnelEvent(1L, 2 * H, 2L, "b"),
      FunnelEvent(1L, 3 * H, 3L, "c"), FunnelEvent(1L, 4 * H, 4L, "d"),
      // user 2: b outside the 2h gap → breaks after step 1
      FunnelEvent(2L, 1 * H, 5L, "a"), FunnelEvent(2L, 4 * H, 6L, "b"),
      // user 3: never enters (b before any a)
      FunnelEvent(3L, 1 * H, 7L, "b"),
      // user 4: 3 steps, d misses the gap
      FunnelEvent(4L, 1 * H, 8L, "a"), FunnelEvent(4L, 2 * H, 9L, "b"),
      FunnelEvent(4L, 2 * H + H / 2, 10L, "c"),
      FunnelEvent(4L, 10 * H, 11L, "d"))
    val steps = Seq("a", "b", "c", "d")
    val input = MemoryStream[FunnelEvent]
    val q = EventStreams.toMemorySinkMode(
      EventStreams.streamingFunnelN(input.toDS(), steps,
        gapMicros = 2 * H).toDF(),
      "funnel_n", org.apache.spark.sql.streaming.OutputMode.Update)
    val (b1, b2) = evs.partition(_.t_us <= 2 * H)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // Update sink emits per-batch states; every anchor is monotone
    // (−1 → set), so max per user collapses to the final state
    val fin = spark.table("funnel_n").groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("ts_us"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(fin(1L) == Seq(1 * H, 2 * H, 3 * H, 4 * H))
    assert(fin(2L) == Seq(1 * H, -1L, -1L, -1L))
    assert(fin(3L) == Seq(-1L, -1L, -1L, -1L))
    assert(fin(4L) == Seq(1 * H, 2 * H, 2 * H + H / 2, -1L))
    // the drained state equals the batch funnel on the same events
    val batch = Funnel.firstTouch(
        evs.toDF().select(col("user_id"),
          timestamp_micros(col("t_us")).as("ts"), col("event_id"),
          col("event_type")),
        "user_id", "ts", "event_id", "event_type", steps, 2 * H)
      .collect().map(r => r.getLong(0) ->
        (1 to 4).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)).toSeq)
      .toMap
    for ((u, a) <- fin if a(0) >= 0) assert(batch(u) == a, s"user $u")
    assert(!batch.contains(3L))
  }

  test("streamingRetentionSharded: bitmaps shard across the 63-day boundary; block 0 agrees with the one-bitmap form") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.DayEvent
    val D = 86400000000L
    val evs = Seq(
      DayEvent(1L, 0L), DayEvent(1L, 5 * D), DayEvent(1L, 62 * D),
      // past the one-bitmap window — the offsets streamingRetention raises on
      DayEvent(1L, 63 * D), DayEvent(1L, 70 * D), DayEvent(1L, 130 * D),
      DayEvent(2L, 10 * D))
    val input = MemoryStream[DayEvent]
    val q = EventStreams.toMemorySinkMode(
      EventStreams.streamingRetentionSharded(input.toDS()).toDF(),
      "ret_blocks", org.apache.spark.sql.streaming.OutputMode.Update)
    val (b1, b2) = evs.partition(_.day_us <= 62 * D)
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // per-(user, block) bitmaps are monotone → max collapses per block
    val fin = spark.table("ret_blocks")
      .groupBy(col("user_id"), col("block_id"))
      .agg(max(col("bitmap")).as("bm"), max(col("cohort_us")).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(fin((1L, 0)) == (((1L << 0) | (1L << 5) | (1L << 62), 0L)))
    // offsets 63 and 70 land in block 1 at bits 0 and 7; 130 in block 2
    assert(fin((1L, 1)) == (((1L << 0) | (1L << 7), 0L)))
    assert(fin((1L, 2)) == ((1L << 4, 0L)))
    assert(fin((2L, 0)) == ((1L, 10 * D)))
    assert(fin.size == 4)
    // sub-63-day history: block 0's bitmap ≡ streamingRetention's single
    // bitmap on the same events
    val in2 = MemoryStream[DayEvent]
    val q2 = EventStreams.toMemorySinkMode(
      EventStreams.streamingRetention(in2.toDS()).toDF(), "ret_flat",
      org.apache.spark.sql.streaming.OutputMode.Update)
    in2.addData(DayEvent(2L, 10 * D)); q2.processAllAvailable(); q2.stop()
    val flat = spark.table("ret_flat").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(flat(2L) == ((10 * D, 1L)))
    assert(fin((2L, 0))._1 == flat(2L)._2)
  }

  test("streamed datasheet: maintained card equals batch card, replayed batchId no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val dir = Artifacts.dir("dsheet").toPath
    val state = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val rollups = Map("n_docs" -> "sum", "n_tokens" -> "sum",
      "n_chars" -> "sum", "n_quality_kept" -> "sum", "q_sum_fp" -> "sum")
    val input = MemoryStream[(String, String, String)]
    val q = EventStreams.mvMaintain(
      input.toDF().toDF("source", "lang", "text"), state,
      Seq("source", "lang"),
      b => TextAnalysis.datasheetCells(b, "source", "lang", "text"),
      rollups, ckpt)
    val b1 = Seq(("web", "en", "the cat sat on the mat and looked at the dog"),
      ("web", "de", "der hund und die katze laufen durch den park heute"))
    val b2 = Seq(("web", "en", "a second english doc with plenty of the words in it"),
      ("book", "en", "it was the best of times it was the worst of times"))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def stateRows = IncrementalAgg.readState(spark, state)
      .orderBy("source", "lang").collect().toSeq
    val batch = TextAnalysis.datasheetCells(
        (b1 ++ b2).toDF("source", "lang", "text"), "source", "lang", "text")
      .select(stateRows.head.schema.fieldNames.map(col): _*)
      .orderBy("source", "lang").collect().toSeq
    assert(stateRows == batch, "maintained card must equal the batch card")
    // a replayed batchId must skip the whole merge (poison delta untouched)
    val poison = Seq(("poison", "xx", 999L, 999L, 999L, 999L, 999L))
      .toDF("source", "lang", "n_docs", "n_tokens", "n_chars",
        "n_quality_kept", "q_sum_fp")
    IncrementalAgg.refreshOnceWith(spark, state, poison, batchId = 1L,
      (st, dl) => graft.operators.MvMaintain.merge(st, dl,
        Seq("source", "lang"), rollups))
    assert(stateRows == batch, "replayed batchId must be a no-op")
  }

  test("sketchMaintain: per-batch sketch union, replayed batchId merges once") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.kllQuantile
    val dir = Artifacts.dir("sk_state").toPath
    val path = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("key", "v")
    val q = EventStreams.sketchMaintain(stream, path, "key", "v", ckpt)
    // two batches: key a sees 1..1000 split across them
    input.addData((1 to 500).map(i => ("a", i.toDouble)): _*)
    q.processAllAvailable()
    input.addData((501 to 1000).map(i => ("a", i.toDouble)): _*)
    q.processAllAvailable()
    q.stop()
    def p50() = IncrementalAgg.readState(spark, path)
      .select(kllQuantile(col("sk"), 0.5)).collect().head.getDouble(0)
    // maintained sketch ≡ one stream of 1..1000 within the rank bound
    val med = p50()
    assert(math.abs(med / 1000.0 - 0.5) < 0.03, s"median $med")
    // a replayed batchId must not re-union its rows into the sketch
    val replay = Seq(("a", 1.0e9)).toDF("key", "v")
    EventStreams.sketchBatchOnce(replay, path, "key", "v", batchId = 0L)
    assert(p50() == med, "replayed batchId must not re-merge")
    // a NEW batchId merges: 3000 giant values make the giants the clear
    // majority (3000 of 4000), pushing the median deep into them — well
    // clear of the rank-error boundary a 50/50 split would sit on
    val fresh = (1 to 3000).map(_ => ("a", 1.0e9)).toDF("key", "v")
    EventStreams.sketchBatchOnce(fresh, path, "key", "v", batchId = 77L)
    assert(p50() > 1.0e6, "new batch must merge into the state")
  }

  test("freqMaintain: heavy hitters survive batching; replayed batchId merges once") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.{freqItems, freqMaxError}
    val dir = Artifacts.dir("fh_state").toPath
    val path = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("k", "term")
    val q = EventStreams.freqMaintain(stream, path, "k", "term", 16, ckpt)
    // two batches: 64 uniform background terms + one hot term
    input.addData((0 until 3200).map(i => ("g", s"bg_${i % 64}")): _*)
    q.processAllAvailable()
    input.addData((0 until 5000).map(_ => ("g", "hot")): _*)
    q.processAllAvailable()
    q.stop()
    def report() = IncrementalAgg.readState(spark, path)
      .select(freqItems(col("sk")).as("items"), freqMaxError(col("sk")).as("me"))
      .collect().head
    val r = report()
    val items = r.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(r.getLong(1) < 5000, s"error bound ${r.getLong(1)} must stay below the hot count")
    assert(items.contains("hot"), s"hot term missing from $items")
    // a replayed batchId must not re-merge
    EventStreams.freqBatchOnce(
      Seq(("g", "ghost")).toDF("k", "term"), path, "k", "term", 16, batchId = 0L)
    assert(report().getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)) == items)
  }

  test("checkpoint restart: a NEW query resumes the offsets, old files never recount") {
    // production recovery path: the maintaining query dies (here: stops),
    // data keeps landing, a fresh query starts from the SAME checkpoint —
    // it must pick up only the unread files, so the maintained state equals
    // the one-shot aggregate with nothing double-counted
    val root = Artifacts.dir("restart").toPath
    val src = root.resolve("src"); java.nio.file.Files.createDirectory(src)
    val path = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    Seq(("a", 10L), ("b", 5L)).toDF("key", "v")
      .write.parquet(src.resolve("f1").toString)
    val schema = spark.read.parquet(src.resolve("f1").toString).schema
    def start() = EventStreams.aggMaintain(
      spark.readStream.schema(schema).parquet(src.toString + "/*"),
      path, "key", "v", ckpt)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    Seq(("a", 20L), ("c", 1L)).toDF("key", "v")
      .write.parquet(src.resolve("f2").toString)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val state = IncrementalAgg.readState(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue()))
      .sortBy(_._1).toSeq
    assert(state == Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 1L, 1L)),
      s"restart must process exactly the new file: $state")
  }

  test("AvailableNow: rate-limited catch-up self-terminates; relaunch drains only the backlog") {
    // the scheduled-batch pattern behind s12: each launch paces through
    // pending files (maxFilesPerTrigger per batch), stops on its own, and
    // the next launch resumes from the checkpoint — nothing recounted
    val root = Artifacts.dir("an").toPath
    val src = root.resolve("src"); java.nio.file.Files.createDirectory(src)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def land(name: String, rows: (String, Long)*): Unit =
      rows.toDF("key", "v").coalesce(1)
        .write.parquet(src.resolve(name).toString)
    land("f1", ("a", 1L)); land("f2", ("b", 2L)); land("f3", ("c", 3L))
    val schema = spark.read.parquet(src.resolve("f1").toString).schema
    def launch() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString + "/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    val q1 = launch()
    assert(q1.awaitTermination(120000), "AvailableNow must stop unaided")
    // rate limit respected: 3 backlog files at 1/trigger → ≥3 batches
    assert(q1.lastProgress.batchId >= 2,
      s"expected ≥3 rate-limited batches, last id ${q1.lastProgress.batchId}")
    val afterFirst = spark.read.parquet(out).as[(String, Long)].collect().toSet
    assert(afterFirst == Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // new backlog lands while no query is running; relaunch catches up
    land("f4", ("d", 4L)); land("f5", ("a", 5L))
    val q2 = launch()
    assert(q2.awaitTermination(120000))
    val afterSecond = spark.read.parquet(out).as[(String, Long)].collect()
    assert(afterSecond.sorted.toSeq ==
      Seq(("a", 1L), ("a", 5L), ("b", 2L), ("c", 3L), ("d", 4L)),
      s"relaunch must land exactly the new files once: ${afterSecond.toSeq}")
  }

  test("legacy-index takedown: retractFromIndex migrates the base parts so tombstones actually apply") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Bm25Index
    val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry fig"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    // build a real index, then RECONSTRUCT it in the pre-manifest rewrite
    // layout: all four parts as plain parquet dirs under v0, no manifest
    val dir = Artifacts.dir("bm25legacytomb").toPath
    val modern = dir.resolve("modern").toString
    Bm25Index.extendIndex(spark, modern, docs, Seq("doc_id"), "text", 0L)
    val legacy = dir.resolve("legacy").toString
    for (part <- Seq(Bm25Index.PostingsPart, Bm25Index.TermsPart,
        Bm25Index.StatsPart, Bm25Index.ItemsPart))
      IncrementalAgg.readStatePart(spark, modern, part)
        .write.parquet(s"$legacy/v0/$part")
    def serve(state: String) =
      Bm25Index.bm25TopKBatchFromIndex(spark, state,
          Seq((100L, "apple cherry")).toDF("qid", "qtext"),
          Seq("doc_id"), "qid", "qtext", k = 3)
        .collect().map(_.toString).sorted.toSeq
    assert(serve(legacy) == serve(modern),
      "the reconstructed legacy layout must serve identically before any " +
        "maintenance")
    // the takedown against the LEGACY layout: the commit must migrate the
    // base postings/items parts into the manifest alongside the tombstone
    // parts — without that the tombstones silently never apply (the
    // r18-advice hazard: doc 1 still served while df/stats already
    // subtracted)
    Bm25Index.retractFromIndex(spark, legacy, Seq(1L).toDF("doc_id"),
      Seq("doc_id"), batchId = 1L)
    val survivors = dir.resolve("survivors").toString
    Bm25Index.extendIndex(spark, survivors, docs.filter(col("doc_id") =!= 1L),
      Seq("doc_id"), "text", 0L)
    assert(serve(legacy) == serve(survivors),
      "takedown on a legacy index must equal the rebuild on survivors — " +
        "tombstones must apply through the migrated manifest (the " +
        "survivors index never indexed doc 1, so equality implies the " +
        "deleted doc is not served)")
    // and the migrated index keeps working: extend + serve again
    Bm25Index.extendIndex(spark, legacy,
      Seq((9L, "apple fig")).toDF("doc_id", "text"), Seq("doc_id"),
      "text", 2L)
    Bm25Index.extendIndex(spark, survivors,
      Seq((9L, "apple fig")).toDF("doc_id", "text"), Seq("doc_id"),
      "text", 1L)
    assert(serve(legacy) == serve(survivors))
  }

  test("partial legacy migration: a later first append to a carried-forward part keeps its prior rows") {
    val dir = Artifacts.dir("legacypartial").toPath
    val state = dir.resolve("state").toString
    // legacy layout: TWO data parts as plain version-dir parquet (no
    // manifest)
    Seq((1L, "a1"), (2L, "a2")).toDF("id", "p").write.parquet(s"$state/v0/a")
    Seq((10L, "b1")).toDF("id", "p").write.parquet(s"$state/v0/b")
    // first manifest commit touches ONLY part a: b survives as a
    // carried-forward version-dir copy
    IncrementalAgg.appendOnceWithParts(spark, state, 1L,
      appendDeltas = Seq("a" -> Seq((3L, "a3")).toDF("id", "p")),
      guardIdCols = Map("a" -> "id", "b" -> "id"))
    def ids(part: String) = IncrementalAgg.readStatePart(spark, state, part)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids("a") == Seq(1L, 2L, 3L) && ids("b") == Seq(10L))
    // the hazard commit (r18 advice): part b gains its FIRST manifest
    // entry while its prior rows still live as the carried-forward dir —
    // the commit must migrate them, not strand them outside the manifest
    IncrementalAgg.appendOnceWithParts(spark, state, 2L,
      appendDeltas = Seq("b" -> Seq((11L, "b2")).toDF("id", "p")))
    assert(ids("b") == Seq(10L, 11L),
      "a part's first manifest entry must not lose its carried-forward " +
        "legacy rows")
    assert(ids("a") == Seq(1L, 2L, 3L))
    // tombstones against the migrated parts resolve through the manifest
    IncrementalAgg.appendOnceWithParts(spark, state, 3L,
      appendDeltas = Seq(
        IncrementalAgg.tombstonePart("b") -> Seq(10L).toDF("id")))
    assert(ids("b") == Seq(11L) && ids("a") == Seq(1L, 2L, 3L))
  }

  test("single-writer contract: a version committed mid-commit raises instead of clobbering") {
    val dir = Artifacts.dir("drift").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      Seq((1L, "a")).toDF("id", "p"), 0L, "id")
    // the competing writer fires from INSIDE the in-flight commit: the
    // delta's first evaluation (the commit's own delta-stats aggregate)
    // drops a committed version the protocol did not read at entry
    val rival = udf { (x: Long) =>
      new java.io.File(s"$state/v3").mkdirs(); x
    }.asNondeterministic()
    val delta = spark.range(1)
      .select(rival(col("id") + 100L).as("id"), lit("x").as("p"))
    val e = intercept[java.util.ConcurrentModificationException] {
      IncrementalAgg.appendOnce(spark, state, delta, 5L, "id")
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // the refused commit left no version; the rival's (empty) v3 is the
    // latest — state hygiene: committed data still readable via v0's
    // manifest? No: v3 has no manifest, so readState falls back to the
    // raw dir read of an EMPTY version. Clean up the fake and the
    // original state is intact — nothing was clobbered.
    assert(new java.io.File(s"$state/v3").delete())
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the REWRITE protocol (mergeCommit) trips the same wire: the merged
    // snapshot's own write evaluation commits the rival version
    val state2 = dir.resolve("state2").toString
    IncrementalAgg.refreshOnceWith(spark, state2,
      Seq((1L, 10L)).toDF("k", "v"), 0L, (_, dl) => dl)
    val rival2 = udf { (x: Long) =>
      new java.io.File(s"$state2/v3").mkdirs(); x
    }.asNondeterministic()
    val e2 = intercept[java.util.ConcurrentModificationException] {
      IncrementalAgg.refreshOnceWith(spark, state2,
        Seq((2L, 20L)).toDF("k", "v").select(rival2(col("k")).as("k"),
          col("v")),
        5L, (st, dl) => st.unionByName(dl))
    }
    assert(e2.getMessage.contains("single-writer"), e2.getMessage)
    assert(new java.io.File(s"$state2/v3").delete())
    assert(IncrementalAgg.readState(spark, state2)
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the refused rewrite commit must leave the prior snapshot intact")
  }

  test("absolute tombstone triggers: row/byte bounds fire where the fraction cannot; reads invariant") {
    val dir = Artifacts.dir("abstrig").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      (1L to 200L).map(i => (i, s"p$i")).toDF("id", "p"), 0L, "id")
    IncrementalAgg.retractRows(spark, state, Seq(7L, 8L).toDF("id"), 1L)
    val part = IncrementalAgg.RowsPart
    assert(IncrementalAgg.tombstoneRows(spark, state, part) == 2L)
    assert(IncrementalAgg.tombstoneBytes(spark, state, part) > 0L)
    val before = IncrementalAgg.readState(spark, state)
      .collect().map(_.toString).sorted.toSeq
    // fraction 2/200 = 1% — a lenient fraction alone never fires ...
    assert(!IncrementalAgg.compactWhenDue(spark, state, 2L, Seq(part),
      maxFraction = 0.5))
    // ... but the absolute row bound does (the 100 TB regime: tiny
    // fraction, backlog past the broadcast ceiling)
    assert(IncrementalAgg.compactWhenDue(spark, state, 3L, Seq(part),
      maxFraction = 0.5, maxTombRows = 1L))
    assert(IncrementalAgg.tombstoneRows(spark, state, part) == 0L)
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.toString).sorted.toSeq == before,
      "an absolute-trigger fold must stay read-invisible")
    // byte trigger: same machinery, byte-denominated
    IncrementalAgg.retractRows(spark, state, Seq(9L).toDF("id"), 4L)
    assert(IncrementalAgg.compactWhenDue(spark, state, 5L, Seq(part),
      maxFraction = 0.5, maxTombBytes = 1L))
    assert(IncrementalAgg.tombstoneBytes(spark, state, part) == 0L)
  }

  test("segment-count compaction: bounded manifest over a long append stream; folds read-invisible; tiering never rewrites large folds") {
    val dir = Artifacts.dir("segfold").toPath
    val state = dir.resolve("state").toString
    val part = IncrementalAgg.RowsPart
    var expect = Vector.empty[Long]
    var batch = 0L
    def appendBlock(ids: Range): Unit = {
      IncrementalAgg.appendOnce(spark, state,
        ids.map(i => (i.toLong, s"p$i")).toDF("id", "p"), batch, "id")
      batch += 1
      expect ++= ids.map(_.toLong)
      // maintenance wired the production way: after every commit
      IncrementalAgg.compactSegmentsWhenDue(spark, state, batch,
        Seq(part), maxSegments = 4, smallRows = 50L)
      batch += 1
    }
    for (b <- 0 until 12) appendBlock((b * 10 + 1) to (b * 10 + 10))
    // bounded: never more than maxSegments + 1 segments committed
    assert(IncrementalAgg.segmentCount(spark, state, part) <= 5,
      s"manifest must stay bounded, got " +
        s"${IncrementalAgg.segmentCount(spark, state, part)}")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == expect.sorted,
      "every committed row must survive every fold")
    // the monotone guard still binds on the folded manifest (metadata)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.appendOnce(spark, state,
        Seq((5L, "dup")).toDF("id", "p"), batch, "id")
    }
    assert(e.getMessage.contains("strictly greater"))
    batch += 1
    // ranged reads survive folds: early ids live only in the fold
    assert(IncrementalAgg.readStatePartRanged(spark, state, part, 5L, 5L)
      .collect().map(_.getLong(0)).min == 1L)
    // tiering: a 50-row fold exceeds smallRows, so later folds keep it —
    // its files must be byte-identical across later maintenance (never
    // re-read, never rewritten: the LSM economics)
    def segFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$state/seg/$part"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val bigFolds = segFiles()
    for (b <- 12 until 16) appendBlock((b * 10 + 1) to (b * 10 + 10))
    val after = segFiles()
    val survivors = bigFolds.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty, "large folded segments must survive")
    assert(survivors.forall(k => bigFolds(k) == after(k)),
      "a large folded segment must never be rewritten by later folds")
  }

  test("tombstone-segment folding: a long takedown stream's per-batch tombstone segments fold, reads unchanged") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Bm25Index
    val dir = Artifacts.dir("tombfold").toPath
    val state = dir.resolve("state").toString
    Bm25Index.extendIndex(spark, state,
      (1L to 60L).map(i => (i, s"w$i apple w${i % 7}"))
        .toDF("doc_id", "text"), Seq("doc_id"), "text", 0L)
    // 8 tiny takedown batches: volume never trips the fraction/absolute
    // triggers, but the tombstone parts accumulate one segment per batch
    var b = 1L
    for (i <- 1 to 8) {
      Bm25Index.retractFromIndex(spark, state,
        Seq(i.toLong * 7).toDF("doc_id"), Seq("doc_id"), b)
      b += 1
      assert(!Bm25Index.compactIndexWhenDue(spark, state, b,
        maxFraction = 0.5, maxTombRows = 1000000L))
      b += 1
    }
    val tname = graft.operators.IncrementalAgg
      .tombstonePart(Bm25Index.ItemsPart)
    assert(graft.operators.IncrementalAgg
      .segmentCount(spark, state, tname) == 8)
    val before = Bm25Index.bm25TopKBatchFromIndex(spark, state,
        Seq((1L, "apple w3")).toDF("qid", "qtext"), Seq("doc_id"),
        "qid", "qtext", k = 5)
      .collect().map(_.toString).sorted.toSeq
    // the segment-count schedule folds the tombstone parts too
    assert(Bm25Index.compactIndexSegmentsWhenDue(spark, state, b,
      maxSegments = 4))
    b += 1
    assert(graft.operators.IncrementalAgg
      .segmentCount(spark, state, tname) == 1,
      "per-batch tombstone segments must fold to one")
    assert(graft.operators.IncrementalAgg
      .tombstoneRows(spark, state, Bm25Index.ItemsPart) == 8L,
      "the folded tombstone segment keeps its committed row metadata")
    assert(Bm25Index.bm25TopKBatchFromIndex(spark, state,
        Seq((1L, "apple w3")).toDF("qid", "qtext"), Seq("doc_id"),
        "qid", "qtext", k = 5)
      .collect().map(_.toString).sorted.toSeq == before,
      "a tombstone-segment fold must be read-invisible")
  }

  test("cache maintenance: stale-salt entries evicted, live entries still hit with zero recompute commits") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.{Bm25Index, IncrementalAgg}
    val dir = Artifacts.dir("cachemaint").toPath
    val state = dir.resolve("state").toString
    val cache = dir.resolve("cache").toString
    Bm25Index.extendIndex(spark, state,
      Seq((1L, "apple banana"), (2L, "banana cherry"))
        .toDF("doc_id", "text"), Seq("doc_id"), "text", 0L)
    val qs = Seq((100L, "apple"), (200L, "cherry banana"))
    def served() = Bm25Index.bm25TopKBatchCached(spark, state, cache,
        qs.toDF("qid", "qtext"), Seq("doc_id"), "qid", "qtext", k = 2)
      .collect().map(_.toString).sorted.toSeq
    val v0pass = served() // populates v0-salted entries
    // index churn: every digest changes; the v0 entries are dead weight
    Bm25Index.extendIndex(spark, state,
      Seq((3L, "apple fig")).toDF("doc_id", "text"), Seq("doc_id"),
      "text", 1L)
    val v1pass = served() // repopulates under v1
    assert(v1pass != v0pass, "the extended index must change the results")
    val entriesBefore = IncrementalAgg.readState(spark, cache).count()
    assert(Bm25Index.maintainQueryCache(spark, state, cache, k = 2,
      maxSegments = 1), "two miss-batch segments must trip the budget")
    // post-maintenance: ONLY live-version entries survive ...
    val cacheRows = IncrementalAgg.readState(spark, cache)
    val salts = cacheRows.select("__salt").distinct().collect().map(_.getString(0))
    assert(salts.length == 1, s"one live salt expected, got ${salts.toSeq}")
    assert(cacheRows.count() < entriesBefore,
      "stale v0 entries must actually be evicted")
    assert(IncrementalAgg.segmentCount(spark, cache,
      IncrementalAgg.RowsPart) == 1, "segments must fold to one")
    // ... and the pruned cache still serves the SAME bytes as all-hits,
    // committing nothing (no new cache version — the all-hit contract)
    val v = IncrementalAgg.latestVersion(spark, cache)
    assert(served() == v1pass, "post-maintenance hits must serve same bytes")
    assert(IncrementalAgg.latestVersion(spark, cache) == v,
      "an all-hit pass must not commit")
    // a pre-salt cache AUTO-RESETS (disposable by contract; the new
    // digest scheme invalidates every old entry anyway) instead of
    // raising or mixing schemas: pruning it clears the dir ...
    val legacy = dir.resolve("legacycache").toString
    IncrementalAgg.appendOnceWithParts(spark, legacy, 0L,
      appendDeltas = Seq(IncrementalAgg.RowsPart ->
        Seq(("deadbeef", 1L)).toDF("__qd", "x")))
    assert(IncrementalAgg.pruneCachedServe(spark, legacy, Seq("s"), 1L) == 0L)
    assert(IncrementalAgg.latestVersion(spark, legacy).isEmpty,
      "a pre-salt cache prune must reset the disposable cache")
    // ... and serving THROUGH a pre-salt cache resets then repopulates
    // under the current schema, same bytes as the direct path
    val legacy2 = dir.resolve("legacycache2").toString
    IncrementalAgg.appendOnceWithParts(spark, legacy2, 0L,
      appendDeltas = Seq(IncrementalAgg.RowsPart ->
        Seq(("deadbeef", 1L)).toDF("__qd", "x")))
    val viaReset = Bm25Index.bm25TopKBatchCached(spark, state, legacy2,
        qs.toDF("qid", "qtext"), Seq("doc_id"), "qid", "qtext", k = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(viaReset == v1pass,
      "a serve through a pre-salt cache must reset + repopulate, not raise")
    assert(IncrementalAgg.readState(spark, legacy2).columns
      .contains("__salt"), "the repopulated cache must carry __salt")
  }

  test("commit lease: a held lock raises before any rename; stale leases break by age") {
    val dir = Artifacts.dir("lease").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      Seq((1L, "a")).toDF("id", "p"), 0L, "id")
    // a rival writer holds the lease: the commit must refuse BEFORE any
    // staging rename — no new version, no segment, prior state intact
    val lock = new java.io.File(s"$state/_lock")
    assert(lock.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException] {
      IncrementalAgg.appendOnce(spark, state,
        Seq((2L, "b")).toDF("id", "p"), 1L, "id")
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    assert(!new java.io.File(s"$state/v1").exists(),
      "a lease-refused commit must not have renamed anything")
    assert(lock.exists(), "a refused writer must not delete a live lease")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the rewrite protocol refuses on the same lease
    val e2 = intercept[java.util.ConcurrentModificationException] {
      IncrementalAgg.refreshOnceWith(spark, state,
        Seq((9L, "z")).toDF("id", "p"), 2L, (_, dl) => dl)
    }
    assert(e2.getMessage.contains("lease"), e2.getMessage)
    // a CRASHED writer's lease (older than spark.graft.state.lockStaleMs)
    // breaks: the commit proceeds and releases the lease afterwards
    assert(lock.setLastModified(
      System.currentTimeMillis() - 2L * 600000L))
    IncrementalAgg.appendOnce(spark, state,
      Seq((2L, "b")).toDF("id", "p"), 1L, "id")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(!lock.exists(), "a successful commit must release the lease")
  }

  test("version retention: a reader bound to the previous version survives the next commit; storage stays bounded") {
    val dir = Artifacts.dir("retain").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      (1L to 5L).map(i => (i, s"p$i")).toDF("id", "p"), 0L, "id")
    IncrementalAgg.appendOnce(spark, state,
      (6L to 10L).map(i => (i, s"p$i")).toDF("id", "p"), 1L, "id")
    // bind a reader to v1 (segments s0 + s1), THEN fold everything into
    // a fresh segment at v2: under eager pruning the fold's sweep would
    // delete s0/s1 out from under the bound plan
    val bound = IncrementalAgg.readState(spark, state)
    IncrementalAgg.compactRows(spark, state, 2L)
    assert(new java.io.File(s"$state/v1").exists(),
      "the previous version must survive one commit (retention window)")
    assert(bound.collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L),
      "a reader bound to v_n must still materialize after v_{n+1} commits")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    // storage bounded over a long maintained stream: never more than the
    // retention window of version dirs, and the segment sweep reclaims
    // everything no retained manifest references
    var batch = 3L
    for (b <- 1 to 10) {
      IncrementalAgg.appendOnce(spark, state,
        Seq((10L + b, s"q$b")).toDF("id", "p"), batch, "id")
      batch += 1
      IncrementalAgg.compactSegmentsWhenDue(spark, state, batch,
        Seq(IncrementalAgg.RowsPart), maxSegments = 3)
      batch += 1
      val vdirs = new java.io.File(state).listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      assert(vdirs.length <= 2,
        s"version dirs must stay within the retention window, got " +
          vdirs.map(_.getName).toSeq.sorted.mkString(", "))
    }
    // live segments on disk ≤ segments referenced by the ≤2 retained
    // manifests (bounded), not one per historical commit
    val segDirs = new java.io.File(s"$state/seg/${IncrementalAgg.RowsPart}")
      .listFiles().filter(_.getName.startsWith("__seg=")).map(_.getName)
    assert(segDirs.length <= 2 * (3 + 2),
      s"swept segments must not accumulate, got ${segDirs.length}")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 20L))
  }

  test("default absolute trigger: an untuned takedown schedule folds at the broadcast ceiling") {
    val dir = Artifacts.dir("deftrig").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      (1L to 10L).map(i => (i, s"p$i")).toDF("id", "p"), 0L, "id")
    // a delete backlog one past the read path's broadcast ceiling (the
    // keys match nothing — metadata-counted rows are what schedule)
    IncrementalAgg.retractRows(spark, state,
      spark.range(IncrementalAgg.TombBroadcastMaxRows + 1)
        .select((col("id") + 1000000000L).as("id")),
      1L)
    val part = IncrementalAgg.RowsPart
    assert(IncrementalAgg.tombstoneRows(spark, state, part) ==
      IncrementalAgg.TombBroadcastMaxRows + 1)
    // DEFAULT schedule — no absolute parameter passed; the fraction is
    // set unreachably high so only the default row trigger can fire
    assert(IncrementalAgg.compactWhenDue(spark, state, 2L, Seq(part),
      maxFraction = 1e15),
      "the default maxTombRows must fire at the broadcast ceiling")
    assert(IncrementalAgg.tombstoneRows(spark, state, part) == 0L)
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
  }

  test("manifest-level fold: a stream of no-op takedowns cannot grow the manifest unboundedly") {
    val dir = Artifacts.dir("noopfold").toPath
    val state = dir.resolve("state").toString
    IncrementalAgg.appendOnce(spark, state,
      (1L to 5L).map(i => (i, s"p$i")).toDF("id", "p"), 0L, "id")
    // 6 takedown batches whose delete keys resolved against nothing live
    // (the Bm25Index.retractFromIndex shape): each commits an EMPTY
    // tombstone segment — a manifest entry with zero data files
    val tombOf = IncrementalAgg.tombstonePart(IncrementalAgg.RowsPart)
    var batch = 1L
    for (_ <- 1 to 6) {
      IncrementalAgg.appendOnceWithParts(spark, state, batch,
        appendDeltas = Seq(tombOf -> Seq.empty[Long].toDF("id")))
      batch += 1
    }
    val tname = IncrementalAgg.tombstonePart(IncrementalAgg.RowsPart)
    assert(IncrementalAgg.segmentCount(spark, state, tname) == 6)
    // the segment-count schedule folds the all-empty part METADATA-ONLY
    // (there is nothing to read — the old behavior skipped it forever)
    assert(IncrementalAgg.compactSegmentsWhenDue(spark, state, batch,
      Seq(tname), maxSegments = 4))
    batch += 1
    assert(IncrementalAgg.segmentCount(spark, state, tname) == 0,
      "an all-empty part must collapse at the manifest level")
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L),
      "clearing empty tombstone segments must be read-invisible")
    // and the state keeps working: a real takedown still lands
    IncrementalAgg.retractRows(spark, state, Seq(3L).toDF("id"), batch)
    assert(IncrementalAgg.readState(spark, state)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L, 5L))
  }
}
