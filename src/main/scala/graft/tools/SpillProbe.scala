package graft.tools

import graft.{Artifacts, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spill-path proof: every agg/join row normally runs inside a roomy
  * 128 GiB heap, but a 100 TB deployment WILL exceed executor memory and
  * live or die on Spark's spill path (ExternalAppendOnlyUnsafeRowArray,
  * UnsafeExternalSorter, spillable aggregation maps). This probe runs the
  * shuffle-heaviest rows twice in one JVM — first under a normal session
  * for a reference digest, then under a deliberately starved execution
  * pool (`spark.memory.fraction` floor, default 0.05 ≈ a few MB of
  * execution memory per task at 32 threads) with a TaskEnd listener
  * summing memory/disk spill bytes — and asserts:
  *
  *   1. results are HASH-IDENTICAL under starvation (an order-independent
  *      sum of per-row md5 digests — spilling must never change answers);
  *   2. the starved run actually spilled (nonzero bytes — otherwise the
  *      "proof" exercised nothing).
  *
  * Run against the 10× tiled dir (ScaleSmoke.ensureData) so per-task
  * state comfortably exceeds the starved pool.
  *
  * Usage: SPARK_DRIVER_MEM=4g scripts/run_main.sh graft.tools.SpillProbe
  *        [memoryFraction] [queries...]
  */
object SpillProbe {

  /** (row, expectSpill): d05 proper is EXPECTED NOT to spill — map-side
    * combine bounds its aggregation state by per-task DISTINCT digests,
    * so clone-heavy tilings at any size never grow it (measured: zero
    * spill bytes even at the 100× tile under a 0.05 fraction). That
    * boundedness is the d05 scale design; the spill-path exercise for the
    * exact-dedup SHAPE is d05_salted_dedup, where per-tile-salted texts
    * make distinct keys ∝ input rows and the starved pool must spill. */
  private val DEFAULT = Seq(
    "d05_exact_dedup" -> false,
    "d05_salted_dedup" -> true,
    "d28_canonical_dedup" -> true,
    "q75_tpch_q9" -> true,
    "q90_bucketed_join" -> true,
    "d35_dupspan" -> true,
    // the round-15 scale fix: leakFreeSplit's confirm join is UNHINTED, so
    // under the starved (-1 broadcast) session it takes the sort-merge
    // path — the very degradation the fix buys — and must stay
    // digest-identical while spilling
    "d62_leakfree_split" -> true)

  /** Rows that need the 100× tile to generate real memory pressure. */
  private val X100_ROWS = Set("d05_exact_dedup", "d05_salted_dedup")

  /** Probe-local variants (the ScaleSmoke EXTRA pattern). */
  private val EXTRA: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d05_salted_dedup" -> ((s, d) =>
      graft.operators.Dedup.exactDedup(
        graft.Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" #"), col("doc_id").cast("string"))
            .as("text")),
        "doc_id", "text")))

  private def query(n: String): (SparkSession, String) => DataFrame =
    EXTRA.getOrElse(n, SparkEntry.queries(n))

  /** Order-independent digest: XOR of 60-bit md5 prefixes of each row's
    * JSON (XOR never overflows ANSI arithmetic and is commutative, so
    * partition order can't matter). Identical plans under both sessions →
    * comparable bytes. */
  private def digest(df: DataFrame): Long =
    df.select(conv(substring(md5(to_json(struct(
        df.columns.map(col).toIndexedSeq: _*))), 1, 15), 16, 10)
        .cast("long").as("h"))
      .agg(expr("bit_xor(h)")).head.getLong(0)

  private def session(memoryFraction: Option[Double]): SparkSession = {
    val b = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "900s")
    memoryFraction.foreach { f =>
      b.config("spark.memory.fraction", f.toString)
        // starve storage too: unified memory lets execution borrow idle
        // storage; capping the storage share keeps the squeeze honest
        .config("spark.memory.storageFraction", "0.1")
        // the 100 TB posture the starved run models: dim tables too big
        // to broadcast — every join must take the sort path, which is
        // exactly the path that has to spill correctly
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val frac = args.headOption.flatMap(_.toDoubleOption).getOrElse(0.05)
    val names: Seq[(String, Boolean)] =
      if (args.exists(a => a.toDoubleOption.isEmpty))
        args.filter(_.toDoubleOption.isEmpty).toSeq.map(_ -> true)
      else DEFAULT
    val dst = "/tmp/graft_sf1"

    // pass 1: reference digests under a normal session (also tiles data)
    val ref = session(None)
    ScaleSmoke.ensureData(ref)
    ScaleSmoke.ensureRelationalTiles(ref)
    val x100 = ScaleSmoke.ensureData100(ref)
    def dirOf(n: String): String = if (X100_ROWS(n)) x100 else dst
    // a row whose construction reaches a setup artifact (graft.Artifacts)
    // builds it here, and re-runs once untimed in pass 2 (a new session
    // loses session-bound setup such as q90's bucketed catalog tables)
    val setupRows = names.map(_._1)
      .filter(n => Artifacts.touching(query(n)(ref, dirOf(n))).nonEmpty).toSet
    val refDigests = names.map { case (n, _) =>
      val df = query(n)(ref, dirOf(n))
      n -> ((digest(df), df.count()))
    }.toMap
    ref.stop()
    // a fresh context must not resurrect the previous default session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // pass 2: starved session + spill accounting
    val starved = session(Some(frac))
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    starved.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled); ()
        }
      }
    })
    println(f"${"query"}%-22s ${"wall_s"}%7s ${"spill_mem_MB"}%13s ${"spill_disk_MB"}%14s ${"rows"}%9s  match")
    var bad = 0
    names.foreach { case (n, expectSpill) =>
      if (setupRows(n)) query(n)(starved, dirOf(n)).count()
      System.gc(); Thread.sleep(200)
      val m0 = memSpill.get(); val d0 = diskSpill.get()
      val t0 = System.nanoTime()
      val df = query(n)(starved, dirOf(n))
      val dg = digest(df)
      val rows = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener events drain asynchronously
      val sm = (memSpill.get() - m0) / 1e6
      val sd = (diskSpill.get() - d0) / 1e6
      val ok = refDigests(n) == ((dg, rows))
      if (!ok) bad += 1
      if (expectSpill && sm + sd == 0) {
        println(s"[spill] WARNING: $n did not spill at fraction=$frac")
        bad += 1
      }
      println(f"$n%-22s $wall%7.2f $sm%13.1f $sd%14.1f $rows%9d  $ok")
    }
    starved.stop()
    if (bad > 0) { System.err.println(s"[spill] $bad failures"); sys.exit(1) }
  }
}
