package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** localCheckpoint lease machinery shared by the iterative operators
  * (the connected-components family in [[Dedup]], the trained-IVF
  * index build in [[Similarity]]).
  *
  * Why checkpointing at all: an iterative DataFrame algorithm deepens
  * its logical plan by one join per round, and a consumer that
  * references the result N times re-instantiates the WHOLE iteration
  * subtree N times — Catalyst re-optimizes (and at ~20 rounds OOMs
  * the driver on) an ever-growing tree, and the executors recompute
  * the full training per reference. `localCheckpoint` both TRUNCATES
  * the plan (unlike persist) and materializes the rows once.
  *
  * Why the RDD handles: `Dataset.unpersist()` consults the
  * CacheManager, which never held a localCheckpoint's blocks, so on a
  * checkpointed frame it is a silent NO-OP — the blocks otherwise
  * live until a driver GC lets the ContextCleaner reclaim them
  * (round 5's bench-degradation mechanism). Releasing must go through
  * `rdd.unpersist()` on the backing RDD.
  *
  * Why deferred release: a checkpointed result some caller still
  * holds cannot be unpersisted inside the producing call (the blocks
  * are not recomputable), and no DataFrame exposes a consumed-now
  * hook — so release is deferred to the NEXT lease under the SAME
  * (tag, SparkContext): repeated executions in one session (Bench
  * runs each query 4×) hold a constant number of storage blocks
  * instead of accumulating per run, while a lease on session B never
  * touches blocks a result from session A still needs (keys are
  * per-context). Entries whose context has stopped are dropped
  * unreleased — their blocks died with the context.
  *
  * RESULT LIFETIME CONTRACT for callers: consume the returned frame
  * (write/collect/derive) before re-invoking the same operator family
  * on the same SparkContext, and do not run two computations of one
  * family concurrently on one session. Distinct tags are independent
  * (an IVF build never releases a CC result).
  */
private[graft] object Checkpoints {

  /** localCheckpoint a frame and return it WITH the checkpointed RDD
    * backing it (the handle release must go through — see above). */
  def checkpointedWithRdd(df: DataFrame): (DataFrame, RDD[_]) = {
    val out = df.localCheckpoint()
    val rdd = out.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(sys.error("localCheckpoint did not produce a LogicalRDD"))
    (out, rdd)
  }

  private val liveBlocks = new java.util.concurrent.ConcurrentHashMap[
    (String, SparkContext),
    scala.collection.mutable.ArrayBuffer[RDD[_]]]

  /** Release the blocks registered under (tag, sc) by the PRIOR
    * invocation, and sweep entries of stopped contexts so the map
    * never grows with Bench's session-per-query protocol. */
  def releasePrior(tag: String, sc: SparkContext): Unit = {
    liveBlocks.keySet.removeIf(_._2.isStopped)
    val prior = liveBlocks.remove((tag, sc))
    if (prior != null) prior.foreach { rdd =>
      // blocks die with their SparkContext; a stale handle must never
      // break the next run
      try if (!rdd.sparkContext.isStopped) rdd.unpersist(blocking = false)
      catch { case _: Throwable => () }
      ()
    }
  }

  /** Register blocks backing this invocation's RESULT for release at
    * the next [[releasePrior]] on the same (tag, context). */
  def register(tag: String, sc: SparkContext)(finals: RDD[_]*): Unit = {
    val buf = liveBlocks.computeIfAbsent((tag, sc),
      _ => new scala.collection.mutable.ArrayBuffer[RDD[_]])
    buf.synchronized { buf ++= finals; () }
  }

  /** The conf key selecting the lease durability mode — see [[lease]]. */
  val LeaseModeKey = "spark.graft.lease.mode"

  /** The common whole-result shape: release the prior lease under
    * `tag`, checkpoint `df`, register its blocks as the new lease.
    *
    * EXECUTOR-LOSS CONTRACT (the 100 TB cluster story). The default
    * mode (`spark.graft.lease.mode=local`, or unset) materializes into
    * NON-REPLICATED executor-local blocks with TRUNCATED lineage:
    * losing any executor that holds lease blocks fails the consuming
    * query with no recompute path (Spark logs exactly that — "RDD was
    * locally checkpointed, its lineage has been truncated and cannot
    * be recomputed"), and the lease assumes executor memory+disk can
    * hold the frame. That is the right trade on a single-box session
    * (this engine's bench/verify harnesses) and for ephemeral builds a
    * deployment can simply re-run.
    *
    * Deployments that need leases to SURVIVE executor loss set
    * `spark.graft.lease.mode=reliable` plus
    * `sparkContext.setCheckpointDir(<HDFS/object-store path>)`: every
    * lease then goes through `Dataset.checkpoint(eager = true)` — the
    * frame is written to the reliable store and re-read from it, so a
    * lost executor re-fetches instead of failing the query. Costs,
    * honestly: one extra write+read of the frame through the
    * checkpoint dir per lease, and checkpoint files outlive the
    * blocks-based release machinery (reclaim them with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or by
    * lifecycle-managing the directory). Both modes return the same
    * rows with the same truncated-plan shape (a LogicalRDD scan), so
    * every consumer and PlanSpec pin is mode-agnostic.
    *
    * The mode switch covers `lease` only. The CC kernels' intra-query
    * checkpoints (`DedupCluster.checkpointedWithRdd` /
    * `checkpointedWithMetric`, registered under the "cc" tag) stay
    * local-only in `reliable` mode too, so a dd_cluster* query still
    * fails on losing an executor that holds its round blocks. */
  def lease(tag: String, df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    releasePrior(tag, sc)
    if (df.sparkSession.conf.get(LeaseModeKey, "local") == "reliable") {
      require(sc.getCheckpointDir.isDefined,
        s"$LeaseModeKey=reliable needs sparkContext.setCheckpointDir(...) " +
          "(an HDFS/object-store path executors can all reach)")
      // reliable files are reclaimed via the checkpoint dir, not via
      // block release — nothing to register
      df.checkpoint()
    } else {
      val (out, rdd) = checkpointedWithRdd(df)
      register(tag, sc)(rdd)
      out
    }
  }
}
