package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scan-stage parallelism floor for per-row-EXPENSIVE kernels.
  *
  * A parquet scan's task count is bounded by the file's row groups: a
  * single-row-group file (the driver testdata shape — every sf0.1 table
  * is one file, one row group) yields a ONE-task scan stage no matter
  * how many cores the session has, and any per-row-heavy map work fused
  * into that stage (tokenization, shingling, regex signal extraction,
  * per-pair cosines on the streamed side of a broadcast nested-loop
  * join) runs serially until the first exchange. Guide §2.6/§6: floor
  * the parallelism of exactly those stages.
  *
  * `floor` rebalances `df` up to the session's default parallelism ONLY
  * when its materialized partition count is below it — at production
  * scale the input carries >= cores partitions (many files / many row
  * groups) and this is a no-op, so nothing here is local-mode tuning;
  * it is the same scale-adaptive guard the PageRank loop uses for its
  * hoisted edge frame. With `keys` the rebalance hash-partitions on
  * those columns (deterministic placement, no round-robin pre-sort);
  * without, it round-robins (Spark's sort-before-repartition keeps the
  * assignment deterministic under retries). Row content is unchanged —
  * only physical placement moves — so every downstream aggregate /
  * join / window computes the identical result.
  */
object Par {
  def floor(df: DataFrame, keys: String*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df
    else if (keys.nonEmpty) df.repartition(par, keys.map(col): _*)
    else df.repartition(par)
  }

  /** Small driver-side pool for OVERLAPPING independent materializations
    * (guide §2.6: Spark happily runs several jobs at once; actions are
    * only sequential because the driver calls them sequentially — a
    * couple of jobs in flight back-fill the executors a stage tail
    * leaves idle). Each submitted job computes exactly what it computed
    * serially; only driver-side submission overlaps. Daemon threads so
    * JVM exit never blocks on the pool. */
  lazy val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(5,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
            t.setDaemon(true); t
          }
        }))

  /** Run two independent materializations concurrently on [[ec]]. Returns
    * or throws only after BOTH legs have finished, so a failed leg never
    * leaves the other running unobserved (still holding its checkpoint).
    * If both fail, the first leg's failure is thrown with the second's
    * attached via `addSuppressed`. */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success}
    implicit val e: scala.concurrent.ExecutionContext = ec
    val fa = Future(a)
    val fb = Future(b)
    Await.ready(fa, Duration.Inf)
    Await.ready(fb, Duration.Inf)
    (fa.value.get, fb.value.get) match {
      case (Success(x), Success(y)) => (x, y)
      case (Failure(ea), Failure(eb)) =>
        if (ea ne eb) ea.addSuppressed(eb)
        throw ea
      case (Failure(ea), _) => throw ea
      case (_, Failure(eb)) => throw eb
    }
  }
}
