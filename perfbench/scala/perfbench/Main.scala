package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one op hands back to the harness, outside its timed region:
  * either collected rows (checked against the kind's reference output) or
  * a check record the Python side verifies against DuckDB, plus any
  * layer counters the kind measures itself (state sizes, cache hits). */
final case class Out(
    rows: Option[(Array[Row], StructType)] = None,
    check: Map[String, Any] = Map.empty,
    layer: Map[String, Double] = Map.empty)

/** One op in flight: `timed` marks the region whose wall and CPU time is
  * the op's latency; everything outside it (staging an input file,
  * reading state sizes, digesting rows) is harness bookkeeping. */
final class Op(val trace: Option[Trace]) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var ms = 0.0
  var cpuMs = 0.0
  /** The trace's layer totals for the timed region (traced runs). */
  var traced: Map[String, Double] = Map.empty
  def timed[T](body: => T): T = {
    trace.foreach(_.reset())
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      ms = (System.nanoTime() - t0) / 1e6
      cpuMs = (os.getProcessCpuTime - c0) / 1e6
      trace.foreach(t => traced = t.take(ms))
    }
  }
  /** Times `body` into a layer counter (traced runs only add it). */
  val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
  def span[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally layer(metric) += (System.nanoTime() - t0) / 1e6
  }
}

trait Kind {
  def name: String
  def run(op: Op): Out
}

trait Workload {
  def kinds: IndexedSeq[Kind]
  /** The kinds of one cycle, in order. */
  def order(rng: scala.util.Random): IndexedSeq[Kind] = rng.shuffle(kinds)
  /** One-time staging and artifact builds. */
  def setup(): Unit = ()
  /** Whether set-up ends with one unmeasured round of every kind. */
  def warmRound: Boolean = true
  /** Measured cycles at least, so every kind's median has this many samples. */
  def minCycles: Int = 2
  /** Records the warm-up output of a kind as its reference. */
  def reference(kind: Kind, rows: Array[Row], schema: StructType): Map[String, Any] = Map.empty
  /** What the Python side needs to replay the workload's inputs. */
  def replay: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The benchmark's JVM side: runs one workload in one session, closed
  * loop, one client thread, and writes every op's time and output check
  * to `<out>/result.json` for `perfbench/run.py` to verify and report.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        [--train 1] --data DIR --out DIR */
object Main {
  val Slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(tmp: String): SparkSession = {
    // the same settings as the program's own graft.Bench session
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.cleaner.periodicGC.interval", "900s")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Order-insensitive digest of a row multiset: the sum of each row's
    * md5 prefix, so the same rows in any order digest alike. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      acc += java.nio.ByteBuffer.wrap(md.digest(r.toString.getBytes(UTF_8))).getLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(acc)}"
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress lines on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val train = opts.get("train").contains("1")
    val data = opts("data")
    val out = new File(opts("out"))
    val tmp = System.getProperty("java.io.tmpdir")

    val spark = session(tmp)
    log("session started")
    val trace = if (traced) Some(new Trace(spark)) else None
    val wl: Workload = name match {
      case "interactive" => QueryWorkloads.interactive(spark, s"$data/sf0.01", out)
      case "ingest_serve" => new IngestServe(spark, s"$data/sf0.01", seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rng = new scala.util.Random(seed)
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val warm = mutable.ArrayBuffer[Map[String, Any]]()
    val refDigest = mutable.Map[String, String]()
    val refs = mutable.Map[String, Map[String, Any]]()
    val layerOps = mutable.ArrayBuffer[Map[String, Double]]()
    val layerKinds = mutable.ArrayBuffer[String]()

    def runOp(k: Kind, measured: Boolean): Unit = {
      val op = new Op(if (measured) trace else None)
      val o = k.run(op)
      val rec = mutable.Map[String, Any]("kind" -> k.name, "ms" -> op.ms, "cpu_ms" -> op.cpuMs)
      if (measured && trace.isDefined) {
        layerOps += op.traced ++ op.layer ++ o.layer
        layerKinds += k.name
      }
      o.rows.foreach { case (rows, schema) =>
        val d = digest(rows)
        if (!measured) {
          refDigest(k.name) = d
          refs(k.name) = wl.reference(k, rows, schema)
        }
        rec("match_ref") = refDigest.get(k.name).contains(d)
      }
      if (o.check.nonEmpty) rec("check") = o.check
      o.layer.get("state.compactions").foreach(c => rec("compactions") = c)
      log(s"${if (measured) "op" else "warm"} ${k.name} ${op.ms.round} ms")
      if (measured) ops += rec.toMap else warm += rec.toMap
    }

    var setupS = 0.0
    try {
      wl.setup()
      log("setup done")
      // one warm-up round of every kind; its outputs are the references. A
      // training run (for run.py's class-data archive) ends after it
      if (wl.warmRound || train) for (k <- wl.order(rng)) runOp(k, measured = false)
      if (train) return
      System.gc(); System.gc()
      Trace.resetHeapPeak()
      setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      var measuredMs = 0.0
      var cycles = 0
      while (cycles < wl.minCycles || measuredMs < seconds * 1000) {
        for (k <- wl.order(rng)) {
          runOp(k, measured = true)
          measuredMs += ops.last("ms").asInstanceOf[Double]
        }
        cycles += 1
      }
      val heapPeak = Trace.heapPeakMb
      // Spark's ContextCleaner frees checkpointed blocks and broadcasts only
      // after a GC has cleared their weak references: collect, let it run,
      // collect again
      System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(200); System.gc()
      val heapLive = {
        val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        m.getUsed / Trace.MB
      }
      val result = mutable.Map[String, Any](
        "workload" -> name, "seed" -> seed, "setup_s" -> setupS, "cycles" -> cycles,
        "heap_live_mb" -> heapLive, "slots" -> Slots, "ops" -> ops.toSeq, "warm_ops" -> warm.toSeq,
        "refs" -> refs.toMap, "replay" -> wl.replay)
      trace.foreach { t =>
        val byKind = layerKinds.zip(layerOps).groupBy(_._1).map { case (k, v) =>
          k -> Trace.summarize(v.map(_._2).toSeq, Slots, heapPeak) }
        result("layers") = Trace.summarize(layerOps.toSeq, Slots, heapPeak)
        result("layers_by_kind") = byKind
      }
      out.mkdirs()
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.write(new File(out, "result.json").toPath,
        mapper.writeValueAsString(result.toMap).getBytes(UTF_8))
    } finally {
      wl.close()
      spark.stop()
    }
  }
}
