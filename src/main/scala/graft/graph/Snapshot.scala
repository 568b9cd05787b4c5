package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-truncating snapshots for the iterative operators (connected
  * components, PageRank, BFS, bounded SSSP, IVF k-means): each round's
  * state is a local checkpoint, and the snapshot it supersedes is freed.
  *
  * A `localCheckpoint` result's logical plan is a single [[LogicalRDD]]
  * whose `rdd` is exactly the RDD the checkpoint persisted (eager or lazy),
  * so `free` reads that RDD from the snapshot itself. It never diffs the
  * context-wide persistent-RDD table, which other queries on the same
  * SparkContext fill and free concurrently.
  *
  * An operator's last snapshot backs the DataFrame it returns, so it is
  * not freed here and no caller could free it before its own action.
  * Spark's ContextCleaner unpersists that RDD once the frame is dropped.
  */
private[graft] object Snapshot {

  def take(df: DataFrame, eager: Boolean = true): DataFrame = df.localCheckpoint(eager)

  /** Unpersists the RDD behind `snapshot`, a frame returned by [[take]]. */
  def free(snapshot: DataFrame): Unit = snapshot.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case p => throw new IllegalArgumentException(
      s"Snapshot.free needs a Snapshot.take result, got a ${p.nodeName} plan")
  }
}
