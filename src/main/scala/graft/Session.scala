package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a SparkSession: Bench, Verify, the tests, the
  * facade's `Context.local` and the tools all run under these settings.
  * `SPARK_GRAFT_CPUS` (slot count) and `SPARK_GRAFT_SF_DIR` (data dir) are
  * read once per JVM; the first session built announces its slot count and
  * the sf dir on stderr. */
object Session {

  /** `SPARK_GRAFT_CPUS`: a positive integer; unset means min(32, cores). */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => math.min(32, Runtime.getRuntime.availableProcessors())
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got: \"$s\""))
  }

  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private val announced = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A local session on `slots` slots, or the live one if it exists (Spark
    * then applies only the runtime SQL settings below). */
  def local(slots: Int = cpus): SparkSession = {
    if (!announced.getAndSet(true))
      System.err.println(s"[session] $slots slots (SPARK_GRAFT_CPUS=" +
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset") +
        s"), sf dir $sfDir (SPARK_GRAFT_SF_DIR=" +
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "unset") + ")")
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor lowered 1m -> 128k (OPTIMIZATION_r20.md):
      // with parallelismFirst the coalesce target is max(bytes/cores,
      // minPartitionSize), so at small per-shuffle byte counts the 1m
      // floor binds and caps shuffle-consumer stages at a handful of
      // tasks on a 32-core session. 128k keeps the partition count
      // derived from input size / parallelism (scale-adaptive — at
      // production shuffle sizes bytes/cores >> either floor and the
      // setting is inert); measured -5% on the shuffle-heavy rows,
      // neutral on the tail.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      // ContextCleaner reclaims broadcast/shuffle/RDD state only when GC
      // collects the weak refs; the default periodic-GC interval (30 min)
      // never fires within a bench run, so 100+ queries' worth of state
      // accumulates and turns into execution-memory pressure (round-6
      // blowups). But a 30s timer (round 7) fires stop-the-world full GCs
      // MID-query and taxed the suite ~1.3x. Resolution: effectively
      // disable the timer; long runs System.gc() at query boundaries
      // (Bench), where the pause is outside every timed region.
      .config("spark.cleaner.periodicGC.interval", "900s")
      // no managed table is written outside the tests; any that is lands
      // in this JVM's scratch dir, not in the working directory
      .config("spark.sql.warehouse.dir", Artifacts.dir("warehouse").toString)
      .getOrCreate()
    // ERROR, not WARN: harmless "function X replaced" warnings would land on
    // stdout between sbt [info] lines and eat into the fixed-size stdout
    // tail that Bench's final JSON line is read from.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
