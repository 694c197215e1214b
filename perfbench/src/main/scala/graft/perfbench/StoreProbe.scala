package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.store.SnapshotStore

/** Store state and store work, read between ops through public
  * [[SnapshotStore]] calls (versions, committed metadata) and a walk of
  * the store directory. Version dirs are immutable once committed, so a
  * file path not seen before is a file the last op wrote. */
final class StoreProbe(root: Path, store: SnapshotStore) {
  private val known = mutable.HashSet.empty[Path]
  private var versions = Map.empty[String, Long]
  var commits = 0L
  var bytesWritten = 0L
  var chainLengthMax = 0

  /** Mark the current state as the baseline (nothing counted). */
  def reset(): Unit = {
    known.clear()
    known ++= StoreProbe.files(root).keys
    versions = currentVersions
  }

  def afterOp(): Unit = {
    val now = StoreProbe.files(root)
    now.foreach { case (p, size) => if (known.add(p)) bytesWritten += size }
    known.filterInPlace(now.contains)
    val cur = currentVersions
    commits += cur.map { case (t, v) => v - versions.getOrElse(t, 0L) }.sum
    versions = cur
    chainLengthMax = math.max(chainLengthMax, chainLengths.values.maxOption.getOrElse(0))
  }

  private def currentVersions: Map[String, Long] =
    store.tables.map(t => t -> store.currentVersion(t)).toMap

  /** Data members each table's current version reads: the delta-chain
    * parts recorded in its metadata plus the version itself. */
  def chainLengths: Map[String, Int] =
    store.tables.map { t =>
      t -> (StoreProbe.partsOf(store, t, ".parts").size + 1)
    }.toMap

  /** Tombstone members still waiting for a fold, per table. */
  def pendingTombs: Map[String, Int] =
    store.tables.map(t => t -> StoreProbe.partsOf(store, t, ".parts.tombs").size).toMap

  /** Bytes of the version dirs the current versions read. */
  def liveBytes: Long =
    store.tables.map { t =>
      val v = store.currentVersion(t)
      val members = (StoreProbe.partsOf(store, t, ".parts") ++
        StoreProbe.partsOf(store, t, ".parts.tombs") :+ v).distinct
      members.map(m => StoreProbe.bytesUnder(root.resolve(t).resolve(f"v$m%05d"))).sum
    }.sum

  /** Version dirs on disk, all tables. */
  def versionsRetained: Long = store.tables.map(t => store.versions(t).size.toLong).sum
}

object StoreProbe {
  def files(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      finally s.close()
    }

  def bytesUnder(root: Path): Long = files(root).values.sum

  private def partsOf(store: SnapshotStore, table: String,
                      suffix: String): Seq[Long] = {
    val meta = store.metaForVersion(table, store.currentVersion(table))
    meta.collect { case (k, v) if k.endsWith(suffix) && v.trim.nonEmpty =>
      v.split(",").toSeq.map(_.trim.toLong)
    }.flatten.toSeq
  }
}
