package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.{Bm25Index, IncrementalAgg, Packing}
import graft.streaming.EventStreams

/** `ingest_serve`: writes beside reads on versioned state, over one
  * long-running stream per input. Each cycle runs four kinds, in this
  * order, so every serve follows the cycle's writes:
  *
  *   - `ingest`: a fresh batch of documents lands in the document stream's
  *     source directory; its micro-batch chunks them and commits them to the
  *     BM25 posting index (`Bm25Index.extendIndex`, then
  *     `compactIndexSegmentsWhenDue` where s26 wires it, at the 16-segment
  *     budget s26 names for production);
  *   - `takedown`: the doc ids of the oldest live batch land in the takedown
  *     stream (`retractFromIndex`, then both folds as s29 wires them), so
  *     the live corpus slides at [[Live]] batches;
  *   - `serve`: e30's query batch is answered through the version-exact
  *     result cache (`bm25TopKBatchCached`) twice, populate then all-hits
  *     as e39 serves it, then `maintainQueryCache` where s32 wires it, at
  *     its default 8-segment budget;
  *   - `events`: an events slice, every event sent twice as s09 stages
  *     them, lands in a stateful stream of digest dedup and hourly counts.
  *
  * Documents come from e30's corpus in a seeded order and get fresh ids
  * counting upward, so when the corpus wraps its texts return under new
  * ids. Events slices take the events table in time order; a wrap shifts
  * ids and times past the previous lap. Every op leaves a check record for
  * `perfbench/run.py`, which replays the same corpus and slices in DuckDB. */
final class IngestServe(spark: SparkSession, sfDir: String, seed: Long, out: File)
    extends Workload {
  import IngestServe._

  private val root = Files.createTempDirectory("ingest_serve").toFile
  private def dir(name: String): File = { val f = new File(root, name); f.mkdirs(); f }
  private val state = new File(root, "state/index").toString
  private val cache = new File(root, "state/cache").toString
  private val staging = dir("staging")
  private val docsIn = dir("docs_in")
  private val takedownIn = dir("takedown_in")
  private val eventsIn = dir("events_in")

  private val rng = new scala.util.Random(seed ^ 0x5eedL)
  // e30's corpus and query batch
  private val pool: Array[(Long, String)] = Tables.documents(spark, sfDir)
    .filter(pmod(col("doc_id"), lit(101)) =!= 5)
    .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
    .map(r => (r.getLong(0), r.getString(1)))
  private val queries = Tables.documents(spark, sfDir)
    .filter(pmod(col("doc_id"), lit(101)) === 5)
    .select(col("doc_id"), col("text"))
  private val n = pool.length
  /** One of s29's two takedown micro-batches: half the doc_id % 13 = 3
    * share of the corpus. Ingest batches are the same size, so the live
    * corpus levels off. */
  private val batchDocs: Int = pool.count(_._1 % 13 == 3) / 2
  // position p of the stream reads pool((stepA * p + stepB) mod n)
  private val stepA: Long = Iterator.continually(1L + rng.nextInt(n - 1))
    .find(a => BigInt(a).gcd(BigInt(n)) == 1).get
  private val stepB: Long = rng.nextInt(n).toLong
  private val eventsTotal = Tables.events(spark, sfDir).count()

  private var nextBatch = 0
  private val live = mutable.Queue[Int]()
  private var nextSlice = 0
  private var commitId = 0L
  @volatile private var compactions = 0
  private def nextCommit(): Long = { commitId += 1; commitId }

  private var ingestQ: StreamingQuery = _
  private var takedownQ: StreamingQuery = _
  private var eventsQ: StreamingQuery = _
  private val sink = "perfbench_events"

  def batchRows(b: Int): Seq[Row] = (0 until batchDocs).map { j =>
    val p = b.toLong * batchDocs + j
    Row(p, pool(((stepA * p + stepB) % n).toInt)._2)
  }

  private def stage(df: DataFrame, name: String): Path = {
    val tmp = new File(staging, name).toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(staging, s"$name.parquet").toPath
    Files.move(part.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
    dest
  }

  /** Lands a staged file in a stream's source directory (the arrival). */
  private def land(file: Path, into: File): Unit =
    Files.move(file, into.toPath.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)

  private def await(q: StreamingQuery, op: Op): Unit = {
    q.processAllAvailable()
    // a traced op must see its batch's progress event before the trace is read
    if (op.trace.isDefined) {
      val want = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
      while (q.lastProgress == null || q.lastProgress.batchId < want) Thread.sleep(1)
    }
  }

  private def files(): Map[String, Long] = {
    val base = new File(root, "state").toPath
    if (!Files.exists(base)) Map.empty
    else Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
  }

  private def stats(): (Long, Long) = {
    val r = IncrementalAgg.readStatePart(spark, state, Bm25Index.StatsPart)
      .select(col("n_docs"), col("len_sum")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Runs a state-writing op and records what it wrote. */
  private def writeOp(op: Op, kind: String, input: Path, q: StreamingQuery, into: File): Out = {
    val before = files()
    val inBytes = Files.size(input)
    val c0 = compactions
    op.timed { land(input, into); await(q, op) }
    val after = files()
    val written = after.filter { case (p, _) => !before.contains(p) }
    val (nDocs, lenSum) = stats()
    Out(
      check = Map("op" -> kind, "live" -> live.toList, "n_docs" -> nDocs, "len_sum" -> lenSum),
      layer = Map(
        "state.written_mb" -> written.values.sum / Trace.MB,
        "state.files_written" -> written.size.toDouble,
        "state.ingested_mb" -> inBytes / Trace.MB,
        "state.segments" -> IncrementalAgg.segmentCount(spark, state, Bm25Index.PostingsPart)
          .toDouble,
        "state.dir_mb" -> after.values.sum / Trace.MB,
        "state.compactions" -> (compactions - c0).toDouble))
  }

  private def ingest(op: Op): Out = {
    val b = nextBatch
    nextBatch += 1
    val file = stage(spark.createDataFrame(batchRows(b).asJava, DocSchema), s"docs_$b")
    live.enqueue(b)
    writeOp(op, "ingest", file, ingestQ, docsIn)
  }

  private def takedown(op: Op): Out = {
    val b = live.dequeue()
    val ids = spark.range(b.toLong * batchDocs, (b + 1L) * batchDocs).toDF("doc_id")
    writeOp(op, "takedown", stage(ids, s"takedown_$b"), takedownQ, takedownIn)
  }

  private def serve(op: Op): Out = {
    def once(): Array[Row] = Bm25Index.bm25TopKBatchCached(spark, state, cache, queries,
        Seq("doc_id", "chunk_id"), "doc_id", "text", k = TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_id"), col("bm25_fp"))
      .collect()
    def version() = IncrementalAgg.latestVersion(spark, cache).getOrElse(-1L)
    val v0 = version()
    val c0 = compactions
    val (first, second) = op.timed {
      val r1 = once()
      val r2 = once()
      if (Bm25Index.maintainQueryCache(spark, state, cache, k = TopK))
        compactions += 1
      (r1, r2)
    }
    // a serve that misses commits one cache version; an all-hit serve none
    val hits = 2 - (version() - v0 - (compactions - c0))
    val rows = first.map(r => (0 until 5).map(i => r.get(i).asInstanceOf[Number].longValue).toList)
      .toList
    Out(
      check = Map("op" -> "serve", "live" -> live.toList, "rows" -> rows,
        "repeat_equal" -> (first.map(_.toString).sorted.toSeq == second.map(_.toString).sorted.toSeq)),
      layer = Map("state.serves" -> 2.0,
        "state.cache_hits" -> hits.toDouble,
        "state.compactions" -> (compactions - c0).toDouble))
  }

  private def events(op: Op): Out = {
    val s = nextSlice
    nextSlice += 1
    val lap = s.toLong * SliceEvents / eventsTotal
    val lo = s.toLong * SliceEvents % eventsTotal
    val slice = Tables.events(spark, sfDir)
      .filter(col("event_id") >= lo && col("event_id") < lo + SliceEvents)
      .withColumn("event_id", col("event_id") + lit(lap * eventsTotal))
      .withColumn("ts", col("ts") + expr(s"make_interval(0, 0, 0, ${lap * LapDays})"))
    // every event is sent twice; dedup must drop the copy
    val file = stage(slice.unionByName(slice), s"events_$s")
    val rows = op.timed {
      land(file, eventsIn)
      await(eventsQ, op)
      spark.table(sink)
        .select(unix_micros(col("window_start")).as("window_us"), col("event_type"),
          col("n"), col("sum_value"))
        .collect()
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    var fp = 0L
    rows.foreach { r =>
      val line = s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        s"${math.round(r.getDouble(3) * 1000)}"
      fp += java.nio.ByteBuffer.wrap(md.digest(line.getBytes("UTF-8"))).getLong
    }
    Out(check = Map("op" -> "events", "slices" -> (s + 1), "n_rows" -> rows.length,
      "fingerprint" -> java.lang.Long.toUnsignedString(fp)))
  }

  private def kind(n: String)(f: Op => Out): Kind = new Kind {
    val name = n
    def run(op: Op): Out = f(op)
  }

  val kinds: IndexedSeq[Kind] = IndexedSeq(
    kind("ingest")(ingest), kind("takedown")(takedown), kind("serve")(serve),
    kind("events")(events))
  /** A fixed order: every serve follows the cycle's writes, so each serve
    * pays one cache-miss pass and one all-hit pass. */
  override def order(rng: scala.util.Random): IndexedSeq[Kind] = kinds
  /** Set-up already sends the index fill through the ingest stream, and a
    * warm-up cycle (about 20 s) left the next ops no faster than the first
    * measured ones, so the measured cycles start right after set-up. */
  override def warmRound: Boolean = false

  override def setup(): Unit = {
    Main.log(s"corpus ${n} docs, batches of $batchDocs")
    graft.functions.GraftFunctions.register(spark)
    val ckpt = dir("checkpoints")
    ingestQ = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", "1")
      .parquet(docsIn.toString)
      .writeStream.trigger(Poll)
      .option("checkpointLocation", new File(ckpt, "ingest").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val chunks = Packing.chunkTokens(batch, "doc_id", "text", ChunkTokens, 0)
          .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
        Bm25Index.extendIndex(spark, state, chunks, Seq("doc_id", "chunk_id"), "chunk_text",
          nextCommit())
        if (Bm25Index.compactIndexSegmentsWhenDue(spark, state, nextCommit(), maxSegments = 16))
          compactions += 1
        ()
      }.start()
    takedownQ = spark.readStream.schema(KeySchema).option("maxFilesPerTrigger", "1")
      .parquet(takedownIn.toString)
      .writeStream.trigger(Poll)
      .option("checkpointLocation", new File(ckpt, "takedown").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Bm25Index.retractFromIndex(spark, state, batch, Seq("doc_id", "chunk_id"), nextCommit())
        if (Bm25Index.compactIndexWhenDue(spark, state, nextCommit(), maxFraction = 0.2,
            maxTombRows = 2000000L))
          compactions += 1
        if (Bm25Index.compactIndexSegmentsWhenDue(spark, state, nextCommit(), maxSegments = 16))
          compactions += 1
        ()
      }.start()
    val evSchema = Tables.events(spark, sfDir).schema
    val deduped = EventStreams.streamingDedup(
      spark.readStream.schema(evSchema).option("maxFilesPerTrigger", "1")
        .parquet(eventsIn.toString),
      "ts", Seq("event_id", "user_id", "event_type", "value"), watermark = "10 hours")
    // EventStreams.windowedCounts' aggregation, under the dedup's watermark
    // (a stream may define its event-time watermark only once)
    eventsQ = deduped.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000).cast("long")).cast("double") / 1000).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .writeStream.trigger(Poll).format("memory").queryName(sink).outputMode("complete")
      .option("checkpointLocation", new File(ckpt, "events").toString).start()
    Main.log("streams started")
    // the index starts at its sliding size: the first batches arrive in the
    // ingest stream as one file
    val fill = (0 until Live).flatMap(batchRows)
    land(stage(spark.createDataFrame(fill.asJava, DocSchema), "docs_fill"), docsIn)
    ingestQ.processAllAvailable()
    (0 until Live).foreach(live.enqueue(_))
    nextBatch = Live
  }

  /** Parameters `perfbench/run.py` needs to replay the inputs in DuckDB. */
  override def replay: Map[String, Any] = Map(
    "batch_docs" -> batchDocs, "step_a" -> stepA, "step_b" -> stepB,
    "slice_events" -> SliceEvents,
    "lap_days" -> LapDays, "top_k" -> TopK,
    "bm25_sql" -> SparkEntry.oracleSql("e30_bm25_index_served"))

  override def close(): Unit = {
    Seq(ingestQ, takedownQ, eventsQ).filter(_ != null).foreach(_.stop())
  }
}

object IngestServe {
  /** Live batches: under s29's fold threshold (tombstones over 0.2 of the
    * rows) every takedown folds (1/3 of the rows, far enough above 0.2 that
    * no seed's batch sizes change it), so every takedown sample is a fold. */
  val Live = 2
  val TopK = 10
  val ChunkTokens = 16
  val SliceEvents = 1000
  val LapDays = 30
  /** Idle streams look for new files this often: the default 10 ms poll
    * of three idle streams costs about half a core. */
  val Poll: Trigger = Trigger.ProcessingTime("50 milliseconds")
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  val KeySchema: StructType = StructType(Seq(StructField("doc_id", LongType, nullable = false)))
}
