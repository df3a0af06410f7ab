package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Bench, Session, SparkEntry, Verify}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one row runner: [[run]] is the one place a row executes, and
  * [[profile]] times the reps of Bench, its 10× panel, ScaleSmoke and this
  * main, each behind a gc+settle boundary (without it the previous rep's
  * async block release steals cores from the next rep and the spread
  * swamps real deltas). The main runs the warm-up and setup phase through
  * [[Bench.warmup]], then prints one JSON line per row — the lines Bench
  * writes to BENCH_profile.json: the successful rep times, the first
  * failure's message, and what one SparkListener and one
  * StreamingQueryListener saw in the fastest rep — the ms and jobs of
  * building the row's DataFrame before its action; jobs, stages and tasks;
  * summed and max task ms with the top stages; shuffle read/write and spill
  * bytes; GC ms; each streaming batch's durationMs.
  *
  * `--ab key=v1|v2[|...]` alternates a runtime SQL conf per rep within one
  * JVM, the strongest control for box noise, and prints one line per row
  * and value. With no query names every row runs.
  *
  * Usage: scripts/run_main.sh graft.tools.Profile [--reps N]
  *        [--ab key=v1|v2] [query ...]      (data: SPARK_GRAFT_SF_DIR) */
object Profile {

  /** A SparkEntry row: builds its result for a session and an sf dir. */
  type Row = (SparkSession, String) => DataFrame

  /** Executes `df`'s whole plan without shipping its rows to the driver:
    * count() lets Catalyst prune projections, windows, generators, joins. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs row `fn` once at `sfDir` through [[consume]], calling `built`
    * between building the row's DataFrame and consuming it; returns the
    * failure's message if it threw. */
  def run(spark: SparkSession, fn: Row, sfDir: String,
      built: () => Unit = () => ()): Option[String] =
    try { val df = fn(spark, sfDir); built(); consume(df); None }
    catch { case t: Throwable => Some(String.valueOf(t.getMessage)) }

  final case class Stage(id: Int, tasks: Int, taskMs: Long, maxTaskMs: Long, name: String)

  /** What the listeners saw in one rep; `buildMs` and `buildJobs` cover
    * building the row's DataFrame, which `jobs` includes. */
  final case class Census(jobs: Int, stages: Seq[Stage], shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long,
      batchMs: Seq[Map[String, Long]], buildMs: Double = 0.0, buildJobs: Int = 0) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.taskMs).sum
    def maxTaskMs: Long = stages.map(_.maxTaskMs).maxOption.getOrElse(0L)
  }
  object Census { val empty: Census = Census(0, Nil, 0L, 0L, 0L, 0L, Nil) }

  /** One row under one conf value: the successful reps' seconds, the census
    * of the fastest of them (empty when none succeeded) and the first
    * failure's message. */
  final case class Record(query: String, conf: Option[String], repsS: Seq[Double],
      census: Census, error: Option[String] = None) {
    def json: String = {
      def num(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      def obj(kv: (String, String)*) =
        kv.map { case (k, v) => s"${Verify.jsonString(k)}:$v" }.mkString("{", ",", "}")
      val c = census
      val top = c.stages.sortBy(-_.taskMs).take(5).map(s => obj(
        "id" -> s.id.toString, "tasks" -> s.tasks.toString, "task_ms" -> s.taskMs.toString,
        "max_task_ms" -> s.maxTaskMs.toString, "name" -> Verify.jsonString(s.name)))
      val batches = c.batchMs.map(b => obj(b.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*))
      obj(Seq("query" -> Verify.jsonString(query)) ++
        conf.map(v => "conf" -> Verify.jsonString(v)) ++ Seq(
        "reps_s" -> repsS.map(num).mkString("[", ",", "]"),
        "build_ms" -> num(c.buildMs), "build_jobs" -> c.buildJobs.toString,
        "jobs" -> c.jobs.toString, "stages" -> c.stages.size.toString,
        "tasks" -> c.tasks.toString, "task_ms" -> c.taskMs.toString,
        "task_max_ms" -> c.maxTaskMs.toString, "top_stages" -> top.mkString("[", ",", "]"),
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "gc_ms" -> c.gcMs.toString,
        "batch_ms" -> batches.mkString("[", ",", "]")) ++
        error.map(e => "error" -> Verify.jsonString(e)): _*)
    }
  }

  /** The two listeners, registered until [[close]]. [[take]] waits for the
    * bus to deliver everything posted so far and returns what arrived since
    * the previous take. */
  private final class Recorder(spark: SparkSession) extends AutoCloseable {
    private var jobs = 0
    private val running = mutable.Map[Int, Array[Long]]() // tasks, sum ms, max ms
    private val stages = mutable.ArrayBuffer[Stage]()
    private var shuffleRead, shuffleWrite, spill = 0L
    private val batches = mutable.ArrayBuffer[Map[String, Long]]()
    private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    private def gcMillis: Long = gcBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    private var gc0 = gcMillis

    private val sparkListener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Recorder.this.synchronized { jobs += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          val s = running.getOrElseUpdate(e.stageId, new Array[Long](3))
          s(0) += 1; s(1) += m.executorRunTime; s(2) = math.max(s(2), m.executorRunTime)
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Recorder.this.synchronized {
          val si = e.stageInfo
          val Array(n, sum, max) = running.remove(si.stageId).getOrElse(new Array[Long](3))
          stages += Stage(si.stageId, n.toInt, sum, max, si.name.takeWhile(_ != '\n').take(80))
        }
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized {
          batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        }
    }

    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)

    def take(): Census = {
      GraftPlanBridge.drainListeners(spark.sparkContext)
      synchronized {
        val gc = gcMillis
        val c = Census(jobs, stages.toSeq, shuffleRead, shuffleWrite, spill, gc - gc0,
          batches.toSeq)
        jobs = 0; running.clear(); stages.clear(); batches.clear()
        shuffleRead = 0; shuffleWrite = 0; spill = 0; gc0 = gc
        c
      }
    }

    /** The jobs ended since the previous take, once the bus has delivered
      * everything posted so far; does not reset. */
    def jobsSoFar(): Int = {
      GraftPlanBridge.drainListeners(spark.sparkContext)
      synchronized(jobs)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Times `reps` runs of row `fn` at `sfDir` (each behind a gc+settle
    * boundary), plus one more when every rep succeeded and the fastest took
    * over `slowSec` seconds, under each value of `ab` in turn when given.
    * Returns one record per value, named `name`. A rep that throws is not a
    * reading. The conf is restored to the session's own value after. */
  def profile(spark: SparkSession, name: String, fn: Row, sfDir: String, reps: Int,
      ab: Option[(String, Seq[String])] = None,
      slowSec: Double = Double.PositiveInfinity): Seq[Record] = {
    require(reps > 0, s"reps must be positive, got $reps")
    val settings: Seq[Option[(String, String)]] =
      ab.fold(Seq(Option.empty[(String, String)])) { case (k, vs) => vs.map(v => Some(k -> v)) }
    val saved = ab.map { case (k, _) => k -> spark.conf.getOption(k) }
    val runs = settings.map(_ => mutable.ArrayBuffer[(Double, Census)]())
    val errors = mutable.ArrayBuffer.fill(settings.size)(Option.empty[String])
    val recorder = new Recorder(spark)
    def rep(i: Int): Unit = {
      settings(i).foreach { case (k, v) => spark.conf.set(k, v) }
      System.gc()
      Thread.sleep(150)
      recorder.take()
      // the build's job count is read outside the timed span
      var buildNs, pausedNs = 0L
      var buildJobs = 0
      val t0 = System.nanoTime()
      val failure = run(spark, fn, sfDir, built = () => {
        val t1 = System.nanoTime()
        buildNs = t1 - t0
        buildJobs = recorder.jobsSoFar()
        pausedNs = System.nanoTime() - t1
      })
      val dt = (System.nanoTime() - t0 - pausedNs) / 1e9
      val census = recorder.take().copy(buildMs = buildNs / 1e6, buildJobs = buildJobs)
      if (failure.isEmpty) runs(i) += dt -> census
      else if (errors(i).isEmpty) errors(i) = failure
    }
    try {
      for (_ <- 1 to reps; i <- settings.indices) rep(i)
      for (i <- settings.indices
           if errors(i).isEmpty && runs(i).map(_._1).min > slowSec) rep(i)
    } finally {
      recorder.close()
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    settings.indices.map { i =>
      Record(name, settings(i).map { case (k, v) => s"$k=$v" }, runs(i).map(_._1).toSeq,
        runs(i).minByOption(_._1).fold(Census.empty)(_._2), errors(i))
    }
  }

  final case class Args(reps: Int, ab: Option[(String, Seq[String])], queries: Seq[String])

  /** Parses `[--reps N] [--ab key=v1|v2[|...]] [query ...]`; no query
    * names means every row. Throws IllegalArgumentException naming the
    * malformed argument. */
  def parseArgs(args: Seq[String]): Args = {
    def bad(msg: String) = throw new IllegalArgumentException(msg)
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Args = rest match {
      case "--reps" :: n :: tail =>
        go(tail, acc.copy(reps = n.toIntOption.filter(_ > 0)
          .getOrElse(bad(s"--reps must be a positive integer, got: $n"))))
      case "--ab" :: s :: tail =>
        go(tail, acc.copy(ab = Some(s.split("=", 2) match {
          case Array(k, vs) if k.nonEmpty && vs.nonEmpty => (k, vs.split("\\|").toSeq)
          case _ => bad(s"--ab must be <conf.key>=<v1>|<v2>[|...], got: $s")
        })))
      case (flag @ ("--reps" | "--ab")) :: Nil => bad(s"$flag needs a value")
      case q :: tail => go(tail, acc.copy(queries = acc.queries :+ q))
      case Nil => acc
    }
    val parsed = go(args.toList, Args(4, None, Vector.empty))
    val known = SparkEntry.queries.keySet
    val unknown = parsed.queries.filterNot(known)
    if (unknown.nonEmpty) bad(s"unknown queries: ${unknown.mkString(", ")}")
    if (parsed.queries.isEmpty) parsed.copy(queries = known.toSeq.sorted) else parsed
  }

  def main(args: Array[String]): Unit = {
    val opts = try parseArgs(args.toSeq) catch { case e: IllegalArgumentException =>
      System.err.println(s"[profile] ${e.getMessage}\nusage: graft.tools.Profile " +
        "[--reps N] [--ab key=v1|v2] [query ...]")
      sys.exit(2)
    }
    val sfDir = Session.sfDir
    val spark = Session.local()
    Bench.warmup(spark, sfDir, "profile", opts.queries)
    var failed = false
    opts.queries.foreach { n =>
      profile(spark, n, SparkEntry.queries(n), sfDir, opts.reps, opts.ab).foreach { r =>
        println(r.json)
        failed ||= r.error.isDefined
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
