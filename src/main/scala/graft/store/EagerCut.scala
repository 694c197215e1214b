package graft.store

import org.apache.spark.sql.{DataFrame, GraftCheckpoint}

/** The one eager lineage cut: materialize a frame into a checkpoint leaf
  * whose statistics are its measured row count and size.
  *
  * Why not `persist` + `count`: a cached intermediate keeps its whole
  * plan, and Spark renders that plan as text into every plan that reads
  * it, at each SQL execution start and at each AQE re-plan. Nested
  * caches multiply the text: a perfbench curate micro-batch rendered
  * ~19 M characters of plan through the near-dup append's caches, and
  * 0.8 M with them cut. A checkpoint cuts the plan at a leaf, the way
  * RDD lineage truncation does (Zaharia et al., NSDI'12), and leaves no
  * CacheManager entry behind: its blocks go when the frame is
  * garbage-collected, and `unpersist` is a no-op.
  *
  * Why not `Dataset.localCheckpoint`: its leaf inherits the origin
  * plan's ESTIMATED statistics (exabytes after a few joins), which
  * turns every later join over it into a sort-merge. This leaf carries
  * the measured rows and UnsafeRow bytes instead ([[GraftCheckpoint]]),
  * so it joins like the materialized cache it replaces. It costs the
  * same one job as Spark's eager checkpoint, and the row count rides it.
  *
  * Recomputability: a reliable checkpoint (files in the checkpoint dir,
  * readable after an executor loss) when the session has a checkpoint
  * dir, a local one (blocks that die with their executor) otherwise. */
object EagerCut {

  /** `df` cut; see the object doc. */
  def apply(df: DataFrame): DataFrame = counted(df)._1

  /** `df` cut, with its row count. */
  def counted(df: DataFrame): (DataFrame, Long) =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      GraftCheckpoint.checkpoint(df)
    else GraftCheckpoint.localCheckpoint(df)
}
