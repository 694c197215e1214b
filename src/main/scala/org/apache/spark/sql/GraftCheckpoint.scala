package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into the checkpoint internals of Spark 4's classic module: an
  * eager checkpoint whose leaf reports MEASURED statistics.
  *
  * `Dataset.checkpoint`/`localCheckpoint` build their `LogicalRDD` leaf
  * with the origin plan's optimizer ESTIMATE as its statistics. After a
  * few joins without row counts that estimate reads exabytes (2.1 EiB,
  * no row count, for the 45-row lineage of IngestPlanTextSpec), so
  * every later join over the leaf plans as a sort-merge instead of a
  * broadcast. These do the same single
  * materializing job (the same `doCheckpoint` pass under one SQL
  * execution) while counting the rows and their UnsafeRow bytes, and
  * build the leaf with those as its `originStats`. Spark names a job
  * after the last Spark method before the caller's frame, and this
  * object sits in Spark's package, so the two entry points give the
  * job a callsite like `localCheckpoint at EagerCut.scala`. */
object GraftCheckpoint {

  /** `df` as a local checkpoint (blocks on the executors, released when
    * the frame is garbage-collected), with its row count. */
  def localCheckpoint(df: DataFrame): (DataFrame, Long) = cut(df, reliable = false)

  /** `df` as a reliable checkpoint in the session's checkpoint dir,
    * with its row count. */
  def checkpoint(df: DataFrame): (DataFrame, Long) = cut(df, reliable = true)

  private def cut(df: DataFrame, reliable: Boolean): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val rows = session.sparkContext.longAccumulator
    val bytes = session.sparkContext.longAccumulator
    // physical operators emit UnsafeRows; anything else counts its
    // schema's default width
    val defaultRowBytes = 8L + ds.schema.map(_.dataType.defaultSize.toLong).sum
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe,
        Some(if (reliable) "checkpoint" else "localCheckpoint")) {
      val r = qe.executedPlan.execute().mapPartitions(_.map { row =>
        val c = row.copy()
        rows.add(1L)
        bytes.add(c match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => defaultRowBytes
        })
        c
      })
      if (reliable) r.checkpoint() else r.localCheckpoint()
      r.doCheckpoint() // the one job; every partition counted once
      r
    }
    val origin = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val leaf = LogicalRDD(origin.output, rdd, origin.outputPartitioning,
      origin.outputOrdering, origin.isStreaming, origin.stream)(session,
      Some(Statistics(BigInt(bytes.sum), Some(BigInt(rows.sum)))),
      Some(origin.constraints))
    (classic.Dataset.ofRows(session, leaf), rows.sum)
  }
}
