package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-shape seams that change how a frame is computed, never what:
  * [[spread]] for scan parallelism and [[barrier]], the one lineage
  * barrier every iterative loop goes through.
  */
object Par {
  private val SpreadMaxBytes: Long = 256L << 20

  /** Scan-parallelism repair for unsplittable inputs (optimization guide
    * §2.5): parquet is split at ROW-GROUP granularity, so a table written as
    * one file with one row group scans as ONE task no matter how many cores
    * the session has — and every expensive per-row projection downstream of
    * that scan (geometry probes, byte decodes, per-row DP) runs serially on
    * one core while the rest idle. All the generated sf tables ship
    * exactly like that (one file, one row group).
    *
    * It inserts a round-robin repartition to the session's default
    * parallelism ONLY when the input layout cannot feed the cores by itself:
    * strictly fewer input files than task slots AND a bounded input size
    * (256 MiB — at that size the narrow-row exchange costs tens of
    * milliseconds on local disk/memory, far below the serial compute it
    * unlocks). At production scale either
    * the file count already exceeds the slot count (identity — no exchange
    * is ever added) or the table is above the byte bound (identity — a
    * multi-GB repartition of a base table is a decision to make with
    * measurements, never silently). The helper never changes WHAT is
    * computed, only how many tasks compute it; round-robin repartition is
    * deterministic under retries (sort-before-repartition, SPARK-23207, on
    * by default).
    */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    lazy val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (files > 0 && files < slots && bytes <= BigInt(SpreadMaxBytes))
      df.repartition(slots)
    else df
  }

  /** The one lineage barrier for iterative loops: materializes `df` and
    * restarts the plan from a leaf, so a round that references its input
    * two or more times does not re-execute the previous round per
    * reference (2^rounds blowup — see the call sites' measurements).
    * `eager` materializes now; lazy materializes during the next action
    * over the result.
    *
    * The mode follows the deployment, as in Spark's own `ALS` and
    * `PeriodicCheckpointer`: with no `sparkContext.getCheckpointDir`, a
    * `localCheckpoint` (executor-local blocks: cheapest, but one lost
    * executor fails the job); with one set (HDFS/S3 on a cluster), a
    * reliable `checkpoint` into it, so an executor loss costs one round's
    * recompute. The input is then persisted around it: the checkpoint
    * writes its files in a second job, which would otherwise compute the
    * frame again. Values are identical either way. Checkpoint files
    * outlive the query (Spark deletes them when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set).
    *
    * The blocks are released with the query: the block-holding RDD inside
    * the returned plan (no `Dataset.unpersist` reaches it) and the
    * persisted input are registered with [[CacheRegistry]].
    */
  def barrier(df: DataFrame, eager: Boolean): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
      else CacheRegistry.persist(df).checkpoint(eager)
    out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(CacheRegistry.own)
    out
  }
}
