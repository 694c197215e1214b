package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types._

/** Size-gated broadcast hint for the incremental-index append paths.
  *
  * The index append paths ([[BandedPairs]], [[FingerprintIndex]],
  * [[SemIndex]]) force-broadcast the BATCH's key/bucket/id sets into
  * the corpus-side scans — correct and
  * shuffle-free for the normal ingest regime (batch ≪ corpus), but a
  * forced hint is a driver-OOM hazard when a caller replays a huge
  * backfill through the batch path. Above the gate the hint is dropped
  * and the join planner (AQE at runtime) picks the side — a shuffle join
  * on a backfill-sized batch is the right plan anyway, since such a
  * batch is itself corpus-scale.
  *
  * The gate is TWO-dimensional:
  *  - `keyCount ≤ limit` — the caller's row budget (default 10M);
  *  - `keyCount × rowWidth(schema) ≤ DefaultByteLimit` — a byte budget
  *    derived from the frame's schema, so the same key limit cannot be
  *    misapplied to a wide frame: 10M (band,bucket) rows is ~160 MB,
  *    but 10M `h_arr`/embedding-bearing rows would be several GB.
  *    Fixed-width columns are estimated exactly; variable-width columns
  *    (strings, arrays, maps) get deliberately LARGE nominals (strings
  *    256 B, containers 256 elements — ~2 KB for an array<long>), so a
  *    text- or shingle-array-bearing frame falls back to the planner
  *    beyond a few hundred thousand keys. The estimate errs toward
  *    shuffle, the safe side; a caller who KNOWS its variable-width
  *    rows are small and wants the broadcast anyway should project the
  *    keys first (which every current call site already does).
  *
  * `keyCount` itself may be an UPPER BOUND, not an exact count
  * ([[BandedPairs]] bounds it as batchRows × keysPerDoc so sizing the
  * gate costs zero driver actions).
  */
private[graft] object BroadcastGate {
  val DefaultKeyLimit: Long = 10000000L

  /** Byte ceiling for a forced broadcast — sized to sit well under the
    * driver/executor broadcast budget of the target cluster profile
    * (Sessions.tuneForCluster). */
  val DefaultByteLimit: Long = 256L << 20

  /** Estimated serialized bytes per row for gate math. Fixed-width types
    * at their exact width; variable-width types at LARGE nominals
    * (string/binary 256 B, containers 256 elements) — the estimate must
    * err toward "too wide to broadcast", never the reverse. */
  private[store] def rowWidth(schema: StructType): Long =
    schema.fields.map(f => widthOf(f.dataType)).sum + 8L // row overhead

  private def widthOf(dt: DataType): Long = dt match {
    case BooleanType | ByteType => 1L
    case ShortType => 2L
    case IntegerType | FloatType | DateType => 4L
    case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
    case _: DecimalType => 16L
    case StringType | BinaryType => 256L
    case ArrayType(et, _) => 16L + 256L * widthOf(et)
    case MapType(kt, vt, _) => 16L + 256L * (widthOf(kt) + widthOf(vt))
    case StructType(fields) => 8L + fields.map(f => widthOf(f.dataType)).sum
    case _ => 256L
  }

  /** The most rows of `schema` a forced broadcast admits: `limit` keys,
    * and no more than the byte budget. */
  def maxRows(schema: StructType, limit: Long): Long =
    math.min(limit, DefaultByteLimit / rowWidth(schema))

  def apply(df: DataFrame, keyCount: Long, limit: Long): DataFrame =
    if (keyCount <= maxRows(df.schema, limit)) broadcast(df)
    else df

  /** Restrict `pairs` (id_a, id_b, …) to rows touching `newIds` (one
    * `id` column) — the shared "keep only pairs with a batch member"
    * step of the index append paths. Both membership probes join the
    * SAME gated frame, so the planner's exchange reuse builds ONE
    * broadcast instead of two (each broadcast build is a separate
    * driver-blocking job — r9 verdict item 1). Carries every other
    * `pairs` column through unchanged. */
  private[graft] def restrictToTouching(pairs: DataFrame, newIds: DataFrame,
                                        keyCount: Long, limit: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val bNew = apply(newIds.select(col("id").as("nid")), keyCount, limit)
    pairs
      .join(bNew, col("id_a") === col("nid"), "left")
      .withColumn("na", col("nid").isNotNull).drop("nid")
      .join(bNew, col("id_b") === col("nid"), "left")
      .filter(col("na") || col("nid").isNotNull)
      .drop("na", "nid")
  }
}
