package graft.store

import java.io.{DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.roaringbitmap.RoaringBitmap

/** The exact set of integer keys one committed version holds — the
  * metadata a keyed table's guards read instead of a scan (the
  * reference's `EXISTS` and `COALESCE(MAX(s_no),0)+1`,
  * lambda_function.py:172-178,269-271).
  *
  * Layout: `_graft_keys` inside the version directory, next to
  * `_graft_zones`, written before the `LATEST` flip. It is bound to its
  * version on purpose: `_graft_meta` entries are carried forward by
  * every commit, so a commit that does not maintain the set would leave
  * a stale one behind; a sidecar simply does not exist in a version
  * whose writer did not write it, and the reader then rebuilds.
  *
  * A `RoaringBitmap` keeps dense runs (the catalog's max+1 keys) at a
  * few bytes per run; the bitmap orders keys as unsigned, so the signed
  * maximum is read with [[maxKey]]. */
object KeySet {

  private val SidecarName = "_graft_keys"
  private val Header = "graft-keys v1"

  def write(dir: Path, column: String, keys: RoaringBitmap): Unit = {
    keys.runOptimize()
    val out = new DataOutputStream(Files.newOutputStream(dir.resolve(SidecarName)))
    try {
      out.writeUTF(Header)
      out.writeUTF(column)
      keys.serialize(out)
    } finally out.close()
  }

  /** `column`'s key set of `table`'s `version`, if that version has one. */
  def read(store: SnapshotStore, table: String, version: Long,
           column: String): Option[RoaringBitmap] = {
    val f = store.versionDirOf(table, version).resolve(SidecarName)
    if (version == 0 || !Files.exists(f)) return None
    val in = new DataInputStream(Files.newInputStream(f))
    try {
      if (in.readUTF() != Header || in.readUTF() != column) None
      else {
        val b = new RoaringBitmap
        b.deserialize(in)
        Some(b)
      }
    } finally in.close()
  }

  /** `column`'s key set of `df`, built by one scan job: each task folds
    * its keys into a bitmap and the driver ORs the serialized bitmaps,
    * so the driver holds the compressed set, never the key rows. Null
    * keys hold no key. */
  def scan(df: DataFrame, column: String): RoaringBitmap =
    df.select(col(column)).where(col(column).isNotNull).as(Encoders.scalaInt)
      .mapPartitions { it =>
        val b = new RoaringBitmap
        it.foreach(k => b.add(k))
        b.runOptimize()
        val buf = java.nio.ByteBuffer.allocate(b.serializedSizeInBytes)
        b.serialize(buf)
        Iterator.single(buf.array)
      }(Encoders.BINARY)
      .collect()
      .foldLeft(new RoaringBitmap) { (acc, bytes) =>
        val b = new RoaringBitmap
        b.deserialize(java.nio.ByteBuffer.wrap(bytes))
        acc.or(b)
        acc
      }

  /** The signed maximum key, or None for an empty set. */
  def maxKey(keys: RoaringBitmap): Option[Int] =
    if (keys.isEmpty) None
    else {
      val nonNeg = keys.previousValue(Int.MaxValue)
      Some(if (nonNeg >= 0) nonNeg.toInt else keys.last())
    }
}
