package graft

import org.apache.spark.sql.SparkSession

/** Per-row run-to-run variance measurement backing Bench's min-of-N list:
  * runs the full suite in Bench's exact conditions (same session config,
  * same warmup, same gc+settle boundary) but times each query REPS times
  * back-to-back, printing one JSON line per query with all rep times.
  * A row whose spread ratio (max-min)/min exceeds ~0.3 is single-shot-
  * unreliable — its Bench number can swing round-over-round with
  * byte-identical code (the round-13 q102 2.5x "regression" was exactly
  * this) — and earns a slot in Bench.multiRunRows.
  */
object VarianceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "900s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmup(spark, sfDir, "var")
    System.gc(); Thread.sleep(500)
    SparkEntry.queries.foreach { case (name, fn) =>
      val ts = (1 to reps).map { _ =>
        System.gc(); Thread.sleep(150)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case t: Throwable =>
          System.err.println(s"[var] $name FAILED: ${t.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      val spread = (ts.max - ts.min) / math.max(ts.min, 1e-9)
      println(f"""{"q":"$name","reps":[${ts.map(t => f"$t%.3f").mkString(",")}],"min":${ts.min}%.3f,"spread":$spread%.3f}""")
    }
    spark.stop()
  }
}
