package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** The one materialization behind `graft.Checkpoints.cut`: a checkpoint
  * that KEEPS the materialized frame's hash partitioning and plans from its
  * measured size.
  *
  * `Dataset.localCheckpoint()` rebuilds the plan as a `LogicalRDD` with
  * `UnknownPartitioning` under AQE, so an iterative operator that joins a
  * loop-invariant frame each round re-shuffles that frame EVERY round — the
  * per-round edge-set exchange that floors the graph/CC families (guide
  * §2.4: two operations keyed the same way should share one exchange).
  * `CheckpointSpec` pins the property this object exists for: a cut of
  * `repartition(n, key)` reports `HashPartitioning` on `key`, and a later
  * aggregate or join on `key` plans no exchange on the cut side.
  *
  * This helper mirrors `Dataset.checkpoint`'s materialization (execute →
  * copy rows → local/reliable checkpoint → eager count, all inside one SQL
  * execution) but constructs the `LogicalRDD` with the executed plan's REAL
  * output partitioning, so `EnsureRequirements` can prove later
  * joins/aggregations on the same key co-partitioned and plan them
  * exchange-free. Only hash partitioning (plain or AQE-coalesced) whose
  * references are all in the output is kept — anything else (range,
  * unknown) degrades to `UnknownPartitioning`, the stock behavior.
  *
  * Values are unaffected: this changes WHERE rows sit, which Catalyst only
  * uses to elide provably redundant exchanges.
  */
object PartitionedCheckpoint {

  /** Materializes `df` (locally or reliably checkpointed RDD), returning a
    * DataFrame whose plan is a `LogicalRDD` carrying the executed plan's
    * hash partitioning, plus the underlying RDD so the caller can register
    * it for unpersist (the `Checkpoints.releaseAll` discipline). The eager
    * materialization job the stock `Dataset.checkpoint(eager = true)`
    * spends on a bare count tallies the row count AND byte size (summed
    * `UnsafeRow` sizes) instead, and those measured numbers become the
    * rebuilt plan's statistics, so every later broadcast-vs-sort-merge
    * decision against this frame — and every caller that sizes a partition
    * count from it — reads REAL bytes instead of the origin plan's estimate
    * (guide §3.1: estimates are often badly wrong after filters/aggregates
    * — here we simply don't need one).
    */
  def cut(df: org.apache.spark.sql.DataFrame, reliable: Boolean): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    // one SQL execution, like Dataset.checkpoint's withAction: its end
    // event is what completes the frame's Observations (the CC loop reads
    // its convergence counter from one)
    val (internalRdd, rows, bytes) = SQLExecution.withNewExecutionId(qe, Some("checkpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      // a reliable checkpoint is written by a job of its own after the
      // first action on the RDD; cached, that job reads the blocks the
      // tally job below made instead of recomputing the whole plan
      if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else rdd.localCheckpoint()
      val (n, b) = rdd.mapPartitions { it =>
        var n = 0L
        var b = 0L
        it.foreach { r =>
          n += 1L
          b += (r match {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
              u.getSizeInBytes.toLong
            case _ => 64L // non-unsafe rows: conservative fixed estimate
          })
        }
        Iterator((n, b))
      }.fold((0L, 0L))((a, c) => (a._1 + c._1, a._2 + c._2))
      if (reliable) rdd.unpersist(blocking = false) // the files are written
      (rdd, n, b)
    }
    val finalPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val output = ds.logicalPlan.output
    val outputSet = output.map(_.exprId).toSet
    // constraints rewritten from the origin plan exactly like
    // LogicalRDD.fromDataset (Dataset.checkpoint's path); statistics
    // REPLACED with the materialized truth — without ANY stats the rebuilt
    // frame estimates at defaultSizeInBytes and every join against it is
    // forced to sort-merge (a tiny frame that should broadcast does not),
    // and with only the origin ESTIMATE a small-in-reality frame can still
    // mis-plan to sort-merge (measured round 18: dedup_cc's bidir,
    // estimate-driven SMJ rounds at 47-55 s task time vs 13-22 s planned
    // from real bytes). `CheckpointSpec` asserts the stats equal the
    // materialized totals.
    val (_, originConstraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    val originStats = Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(math.max(bytes, 1L)), rowCount = Some(BigInt(rows))))
    val partitioning: Partitioning = finalPlan.outputPartitioning match {
      // HashPartitioningLike covers both the plain and the AQE-coalesced
      // hash partitioning — a coalesced read still hash-clusters by the
      // same keys, so joins/aggs on those keys stay provably co-partitioned
      case h: HashPartitioningLike if h.references.forall(a => outputSet.contains(a.exprId)) => h
      // repartition(1, key) plans as SinglePartition (hashing into one
      // partition IS one partition) — trivially satisfies any clustering
      case SinglePartition => SinglePartition
      case _ => UnknownPartitioning(0)
    }
    val plan = LogicalRDD(output, internalRdd, partitioning,
      finalPlan.outputOrdering.filter(_.references.forall(a => outputSet.contains(a.exprId))),
      isStreaming = false)(session, originStats, originConstraints)
    (Dataset.ofRows(session, plan), internalRdd)
  }
}
