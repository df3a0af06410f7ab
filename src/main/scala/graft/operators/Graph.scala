package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over edge DataFrames.
  *
  * Scale shape: one iteration of PageRank is one key-partitioned shuffle
  * (contributions grouped by destination, partial-aggregating — a
  * celebrity vertex's in-flow arrives as per-partition partials) plus a
  * broadcast-or-shuffle join of the rank vector against the edge list.
  * The degree-annotated edge list (src, dst, od) and the vertex set are
  * checkpointed ONCE and reused across iterations (the out-degree join
  * is loop-invariant and hoisted out of the loop); each iteration's
  * rank vector is
  * checkpointed eagerly and the previous one released, so the plan stays
  * iteration-sized instead of growing a k-join lineage.
  */
object Graph {

  /** PageRank in exact fixed-point integer arithmetic — every engine (and
    * the DuckDB oracle) reproduces it bit-for-bit because the only
    * operations are Long sums and floor divisions (no float mass):
    *
    *   r₀(v)    = initFp                        (10⁹ ≙ 1.0)
    *   rₜ₊₁(v)  = teleportFp
    *              + (Σ_{u→v} (rₜ(u) div outdeg(u))) · dampNum div dampDen
    *
    * with teleportFp = (1−d)·10⁹ and dampNum/dampDen = d. The fixed-point
    * floor in each term loses < 1 ulp of mass per hop — deterministic,
    * and irrelevant to ranking at 10⁹ scale. Dangling vertices (out-degree
    * 0) receive teleport mass only and contribute none, the standard
    * pruned-dangling convention; vertices are the UNION of both endpoint
    * sets so sinks still get ranked. Returns (vertex, rank_fp).
    *
    * `initRanks` WARM-STARTS the iteration from a prior (vertex, rank_fp)
    * vector instead of the uniform initFp — the incremental-maintenance
    * path after an edge delta: each iteration is a pure deterministic
    * function of the previous vector and the (new) edge set, so running k
    * iterations from a converged prior costs k instead of re-walking from
    * uniform, and — composition — warm(cold(edges, a), b) ≡
    * cold(edges, a+b) EXACTLY (integer arithmetic; OperatorsSpec pins
    * it). Vertices absent from the prior vector (new in the delta) start
    * at initFp.
    *
    * `checkpointDir` switches the per-iteration truncation from
    * localCheckpoint (executor-memory blocks — fast, but a lost executor
    * kills the lineage-truncated job) to RELIABLE `Dataset.checkpoint`
    * files, the long-iteration production posture: a lost executor
    * recomputes from the durable snapshot instead of failing the job.
    * The invocation takes a PRIVATE subdirectory (`pr-<uuid>`) of the
    * given dir and deletes each iteration's snapshot as soon as the next
    * vector is durable — at the end only the returned vector's files
    * remain, so a 50-iteration run holds one snapshot of disk, not fifty.
    *
    * Checkpoint-dir concurrency: `setCheckpointDir` is session-global
    * state, so (a) EVERY invocation of this method is SERIALIZED on a
    * process-wide lock — reliable-checkpoint calls can never interleave
    * dir mutations or delete each other's live snapshots, and the AQE
    * coalescing-floor pin's save/set/restore (session-global conf) can
    * never clobber a concurrent caller's value — and (b) the session's
    * checkpoint location is restored
    * IMMEDIATELY after each per-iteration checkpoint returns — not at
    * method exit — so an unrelated job calling `Dataset.checkpoint` in
    * the same session inherits our private dir only if its checkpoint
    * races the instants one of ours is actually writing. That residual
    * window is inherent to the session-global setting; a deployment
    * running unrelated reliable-checkpoint jobs concurrently should give
    * them their own SparkSession (`spark.newSession()` shares the
    * SparkContext and with it the checkpoint dir — use a separate
    * context, or serialize on this method's convention).
    *
    * `tolFp` is the CONVERGENCE stop: when set, iteration ends as soon
    * as max over vertices of |Δrank_fp| < tolFp — exactly decidable in
    * integer arithmetic (no float-noise threshold). The returned vector
    * is bit-identical to running the full `iters` WHEN the iteration has
    * truly converged to a fixed point (further iterations are identity),
    * which is what makes the warm-start path cheap: a small edge delta
    * against a converged prior usually settles in 1-2 iterations instead
    * of paying the fixed budget. Unset (the default), exactly `iters`
    * iterations run — the oracle-gated batch shape. */
  def pageRankFixedPoint(
      edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      teleportFp: Long = 150000000L, initFp: Long = 1000000000L,
      initRanks: Option[DataFrame] = None,
      checkpointDir: Option[String] = None,
      tolFp: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    tolFp.foreach(t => require(t > 0L, s"tolFp must be positive, got $t"))
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val privRoot = checkpointDir.map(d =>
      s"$d/pr-${java.util.UUID.randomUUID().toString.take(8)}")
    def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(sc.hadoopConfiguration)
    def rmDir(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = hfs(p)
      if (fs.exists(path)) { fs.delete(path, true); () }
    }
    // one reliable checkpoint into `dir`, restoring the session's prior
    // checkpoint location THE MOMENT the snapshot returns — the session-
    // global setting points at our private dir only while a snapshot is
    // actually writing, never across whole iterations
    def ckAt(dir: Option[String])(df: DataFrame): DataFrame = dir match {
      case Some(d) =>
        val saved = sc.getCheckpointDir
        sc.setCheckpointDir(d)
        try df.checkpoint(true)
        finally saved match {
          case Some(s) => sc.setCheckpointDir(s)
          case None =>
            try sc.setCheckpointDir(null) // clears (Option(null) → None)
            catch { case _: Throwable => () }
        }
      case None => df.localCheckpoint(true)
    }
    def run(): DataFrame = {
      val base = privRoot.map(r => s"$r/base")
      val e = ckAt(base)(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
      // LOOP-INVARIANT hoist (r20 optimization, guide §2.4): the
      // out-degree join e ⋈ deg ran INSIDE every iteration (a 3-way join
      // per round); (src, dst, od) never changes across iterations, so
      // attach the degree to each edge ONCE and let every iteration join
      // the rank vector against this single frame. Arithmetic unchanged
      // (r div od per edge) — the vector is bit-identical.
      //
      // Scale-adaptive parallelism floor (r20, guide §2: partitioning
      // must adapt to the input rather than a constant): AQE rightly
      // coalesces a small edge shuffle to a handful of partitions — but
      // this frame is scanned by EVERY iteration's edge-side join, so a
      // handful of partitions caps the whole loop at a handful of cores.
      // When the materialized edge frame landed below the session's
      // parallelism, rebalance the hoisted frame up to it (hash on src —
      // deterministic, no round-robin pre-sort). At scale the edge frame
      // already carries >= cores partitions and this is a no-op.
      val edPlan = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("od")), Seq("src"))
      val par = sc.defaultParallelism
      // gate on the MATERIALIZED frame the loop actually scans (r20
      // advice: e can carry >= par partitions while AQE coalesces the
      // fresh join shuffle below it — the exact condition this floor
      // guards against): checkpoint first, inspect, rebalance only if
      // the landed partition count is below the session's parallelism
      val ed0 = ckAt(base)(edPlan)
      val ed =
        if (ed0.rdd.getNumPartitions < par) {
          val r = ckAt(base)(ed0.repartition(par, col("src")))
          Dedup.release(ed0)
          r
        } else ed0
      val verts = ckAt(base)(e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct())
      // e is not referenced by the loop (ed and verts are self-contained
      // checkpoints) — release the raw edge blocks before iterating
      Dedup.release(e)
      var ranks = ckAt(base)(initRanks match {
        case Some(prior) =>
          verts.join(
              prior.select(col("vertex").as("v"), col("rank_fp").as("__pr")),
              Seq("v"), "left")
            .select(col("v"), coalesce(col("__pr"), lit(initFp)).as("r"))
        case None => verts.select(col("v"), lit(initFp).as("r"))
      })
      // the loop plants its zero rows from the rank vector itself (same
      // key set — see iterationPlan), so verts is init-only state now
      Dedup.release(verts)
      // the dir holding the PREVIOUS iteration's vector files (None while
      // that vector still lives under base/ with the shared frames)
      var prevIterDir: Option[String] = None
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        it += 1
        val iterDir = privRoot.map(r => s"$r/it$it")
        val next = ckAt(iterDir)(
          iterationPlan(ed, ranks, dampNum, dampDen, teleportFp,
            withDelta = tolFp.isDefined))
        // exact integer stopping rule, folded into the iteration's own
        // shuffle (r21, guide §2.4): the planted zero-contribution row
        // carries the vertex's PREVIOUS rank through the aggregation, so
        // the materialized vector already holds |Δrank_fp| per vertex —
        // one scalar aggregate over the checkpointed frame instead of a
        // per-iteration ranks⋈next join job
        converged = tolFp.exists { t =>
          val d = next.agg(max(col("d"))).head
          !d.isNullAt(0) && d.getLong(0) < t
        }
        Dedup.release(ranks)
        // the replaced vector is no longer referenced by any live plan —
        // its reliable snapshot can go now (keeps disk at ONE vector);
        // the dir is OURS alone by the serialization contract above
        prevIterDir.foreach(rmDir)
        prevIterDir = iterDir
        ranks = next
      }
      // the final vector is a self-contained checkpoint — the shared
      // frames it was built from (base/) can be freed now; only the
      // returned vector's files survive the call
      Dedup.release(ed)
      privRoot.foreach(r => rmDir(s"$r/base"))
      ranks.select(col("v").as("vertex"), col("r").as("rank_fp"))
    }
    // The loop's per-iteration shuffles are VERTEX-VECTOR-sized and
    // latency-bound (a fixed number of stage jobs per iteration × k
    // iterations), the opposite profile of the one-shot corpus shuffles
    // the session may tune AQE's coalescing floor down for — a lowered
    // minPartitionSize multiplies tiny tasks per iteration (measured
    // 1.75× on the bench family at 128k). Pin the Spark-default floor
    // (1m) for the loop's duration and restore the caller's value
    // after; scale-safe because it IS the upstream default, and at real
    // vector sizes bytes/parallelism exceeds it anyway.
    val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    // The ENTIRE save/set/run/restore sequence holds the process-wide
    // lock — for BOTH checkpoint modes (r20 advice: the pin mutates
    // session-global conf, so an unserialized localCheckpoint-path
    // invocation racing another pageRank could capture the pinned value
    // as "saved" and clobber the caller's session setting). Reliable-
    // checkpoint invocations needed the same lock anyway (checkpoint-dir
    // mutation); the bench/verify paths are serial, so the widened
    // critical section costs nothing there.
    CkptSerial.synchronized {
      val savedFloor = try Some(spark.conf.get(floorKey))
        catch { case _: Throwable => None }
      spark.conf.set(floorKey, "1m")
      try run()
      finally savedFloor match {
        case Some(v) => spark.conf.set(floorKey, v)
        case None => spark.conf.unset(floorKey)
      }
    }
  }

  /** One PageRank iteration as a LAZY plan over the loop frames — the
    * exact unit [[pageRankFixedPoint]] materializes per iteration; the
    * committed plan evidence (plans/r21/pagerank_iteration_*.txt) was
    * produced from it, so it shows the production code path. `ed` is the
    * degree-annotated edge frame (src, dst, od); `ranks` is (v, r).
    *
    * The planted zero-contribution row per vertex (one shuffle per
    * iteration, r20 §2.4) now comes from the RANK VECTOR instead of the
    * vertex set — the two frames carry the identical key set by
    * construction (r₀ is keyed on verts; every iteration's grouped key
    * set is planted-keys ∪ contribution-dsts ⊆ verts), so the Long sum
    * is bit-identical while the loop stops scanning `verts` entirely.
    *
    * `withDelta` additionally rides the vertex's previous rank through
    * the planted row (exactly one planted row per vertex, so max(p)
    * recovers it) and emits d = |r_new − r_prev| — the convergence
    * check's per-iteration ranks⋈next join folded into the iteration's
    * own aggregation (r21, guide §2.4). */
  private[graft] def iterationPlan(
      ed: DataFrame, ranks: DataFrame,
      dampNum: Long, dampDen: Long, teleportFp: Long,
      withDelta: Boolean = false): DataFrame = {
    val contrib0 = ed
      .join(ranks.select(col("v").as("src"), col("r")), Seq("src"))
      .select(col("dst").as("v"), expr("r div od").as("c"))
    val rNew = (lit(teleportFp) + expr(s"(s * $dampNum) div $dampDen"))
    if (withDelta) {
      ranks.select(col("v"), lit(0L).as("c"), col("r").as("p"))
        .unionByName(contrib0
          .select(col("v"), col("c"), lit(null).cast("long").as("p")))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("s"), max(col("p")).as("p"))
        .select(col("v"), rNew.as("r"), abs(rNew - col("p")).as("d"))
    } else {
      ranks.select(col("v"), lit(0L).as("c"))
        .unionByName(contrib0)
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
        .select(col("v"), rNew.as("r"))
    }
  }

  /** Process-wide serialization of [[pageRankFixedPoint]] invocations
    * (checkpoint-dir mutation + the AQE floor pin's conf save/restore). */
  private val CkptSerial = new Object
}
