package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Versioned copy-on-write table store — the Spark-side replacement for the
  * reference's mutable Redshift table.
  *
  * The reference mutates one warehouse table in place under an exclusive
  * lock (`BEGIN; LOCK TABLE … IN EXCLUSIVE MODE; …; COMMIT;`,
  * lambda/lambda_function.py:266-273). Spark tables are immutable, so each
  * mutation produces a new immutable snapshot version and atomically swaps a
  * pointer:
  *
  * {{{
  *   root/<table>/v00001/          parquet snapshot (immutable)
  *   root/<table>/v00002/
  *   root/<table>/LATEST           pointer file, atomically replaced
  * }}}
  *
  * Every version directory is a complete parquet snapshot. A
  * file-granular commit (`carry` in [[commit]]) writes only the files
  * its change touches and hard-links every untouched data file of the
  * base version into the new directory (a copy where the filesystem
  * cannot link) — the copy-on-write-by-file that Delta Lake runs
  * UPDATE/DELETE with (Armbrust et al., VLDB 2020). Linking is safe
  * because no version file is ever modified in place: a file is written
  * once, then only linked or unlinked. Readers, time travel and the
  * zone maps see an ordinary directory, and [[vacuum]] still means
  * "drop these versions": it unlinks their paths, and the data a newer
  * version links to survives under that version's name.
  *
  * Guarantees:
  *  - readers always see a complete snapshot (the pointer flips only after
  *    the parquet write and the links finished),
  *  - writers serialize per table (JVM lock here ≙ the reference's
  *    LOCK TABLE; on a real multi-driver deployment the lock would live in a
  *    catalog service — the snapshot layout itself needs no change),
  *  - old versions remain readable (time travel / schema-evolution history,
  *    SURVEY §7.4 item 3).
  *
  * Snapshots are written sorted within partitions by the sort key
  * (≙ `SORTKEY(s_no)`, ddl_create_tables.sql:26) so parquet row-group
  * min/max stats prune point lookups (P4) the way Redshift zone maps did.
  */
final class SnapshotStore(rootDir: String, spark: SparkSession) {

  private val root: Path = Paths.get(rootDir)
  private val locks = new ConcurrentHashMap[String, ReentrantLock]()

  private def lockFor(table: String): ReentrantLock =
    locks.computeIfAbsent(table, _ => new ReentrantLock())

  private def tableDir(table: String): Path = root.resolve(table)
  private def pointer(table: String): Path = tableDir(table).resolve("LATEST")
  private def versionDir(table: String, v: Long): Path =
    tableDir(table).resolve(f"v$v%05d")

  private[store] def session: SparkSession = spark
  private[store] def versionDirOf(table: String, v: Long): Path =
    versionDir(table, v)

  /** The schema recorded at commit time for `version`, if present —
    * shared by loadVersion and ZoneMap.prunedScan so both read paths
    * plan without a parquet footer-inference job. */
  private[store] def recordedSchema(table: String, version: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    metaForVersion(table, version).get(SchemaKey).map { s64 =>
      val json = new String(java.util.Base64.getDecoder.decode(s64), "UTF-8")
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** Current version number, 0 if the table does not exist. */
  def currentVersion(table: String): Long = {
    val p = pointer(table)
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  def exists(table: String): Boolean = currentVersion(table) > 0

  /** Every table with a committed snapshot (a LATEST pointer) under the
    * store root, sorted — the enumeration [[graft.Graft.maintainAll]]
    * dispatches over. */
  def tables: Seq[String] = {
    if (!Files.exists(root)) return Seq.empty
    // Files.list holds a directory fd until closed — maintainAll runs
    // from schedulers, so leaked fds would accumulate until GC.
    val s = Files.list(root)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("LATEST")))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** All committed versions, ascending (history stays readable). */
  def versions(table: String): Seq[Long] = {
    val d = tableDir(table)
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("v"))
        .map(_.drop(1).toLong).toSeq.sorted
      finally s.close()
    }
  }

  /** Load the latest snapshot. */
  def load(table: String): DataFrame = loadVersion(table, currentVersion(table))

  /** Time travel: load a specific committed version.
    *
    * The version's schema was recorded at commit time, so the read plans
    * WITHOUT a parquet footer-inference job — each schema job is a
    * driver round trip that multiplies under host degradation, and the
    * index append paths pay one per snapshot touched (r9 verdict item
    * 1). Pre-upgrade version dirs (no recorded schema) fall back to
    * inference. */
  def loadVersion(table: String, version: Long): DataFrame = {
    require(version > 0, s"table $table has no committed snapshot")
    readAt(table, version, Seq(versionDir(table, version).toString))
  }

  /** The named data files of a committed version, read like
    * [[loadVersion]] — the input of a file-granular rewrite and of a
    * zone-pruned scan. */
  def loadFiles(table: String, version: Long, names: Seq[String]): DataFrame =
    readAt(table, version, names.map(n => versionDir(table, version).resolve(n).toString))

  private def readAt(table: String, version: Long, paths: Seq[String]): DataFrame =
    recordedSchema(table, version) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  def loadIfExists(table: String): Option[DataFrame] =
    if (exists(table)) Some(load(table)) else None

  /** Commit `df` as the next version of `table` and return that version.
    * Sorted within partitions by `sortKey` when given (SORTKEY analog).
    *
    * `meta` entries are merged over the previous version's metadata and
    * written INSIDE the new version directory before the pointer flip —
    * so metadata is exactly as atomic and durable as the data it rides
    * with (used for streaming batch-id watermarks, ST1 exactly-once).
    *
    * `statsCols` opts the version into a file-level zone map ([[ZoneMap]]):
    * after the parquet write, per-file min/max for those columns are
    * harvested from the freshly written footers (footer-only — no second
    * data pass, no Spark job at local file counts) into a `_graft_zones`
    * sidecar, written before the pointer flip so it shares the snapshot's
    * atomicity. `bloomCols` turns on the parquet writer's per-column
    * bloom sketches ([[BloomSkip]] — for hash-uniform keys zones cannot
    * prune; built inline by the writer, no extra pass). Empty (the
    * defaults) cost nothing.
    *
    * `carry` makes the commit file-granular: the named data files of the
    * CURRENT version are linked unchanged into the new version beside
    * the files `df` writes, so the new version holds `df` plus every
    * carried row. `df` must have the carried files' schema; the zone
    * sidecar reuses the base version's lines for carried files.
    * `sidecar` runs after the data, links and zones are in place and
    * before the metadata and the pointer flip: a hook for per-version
    * files such as [[KeySet]]'s, which must not outlive their version
    * the way carried `_graft_meta` entries do. */
  def commit(table: String, df: DataFrame, sortKey: Option[String] = None,
             meta: Map[String, String] = Map.empty,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             metaDeferred: () => Map[String, String] = () => Map.empty,
             carry: Seq[String] = Nil,
             sidecar: Path => Unit = _ => ()): Long = locked(table) {
    val base = currentVersion(table)
    require(carry.isEmpty || base > 0, s"table $table has no version to carry files from")
    val next = base + 1
    val dest = versionDir(table, next)
    // Crash recovery: a writer that died after the parquet write but
    // before the pointer flip leaves an orphaned next-version directory.
    // Anything past LATEST is by construction an aborted commit (the
    // pointer flips last, under this lock), so clear it rather than wedge
    // every future commit on SaveMode.ErrorIfExists — the liveness half
    // of exactly-once replay (the replayed batch must be able to land).
    if (Files.exists(dest)) deleteRecursively(dest)
    val sorted = sortKey match {
      case Some(k) if df.columns.contains(k) => df.sortWithinPartitions(k)
      case _ => df
    }
    sorted.write.mode(SaveMode.ErrorIfExists)
      .options(BloomSkip.writeOptions(bloomCols.distinct))
      .parquet(dest.toString)
    val baseDir = versionDir(table, base)
    carry.foreach(f => linkFile(baseDir, dest, f))
    if (statsCols.nonEmpty) ZoneMap.writeSidecar(dest, statsCols.distinct, spark,
      if (carry.isEmpty) None else Some(baseDir -> carry.toSet))
    sidecar(dest)
    // Record THIS version's schema (all-nullable, matching what parquet
    // inference would report) so loadVersion skips the footer job. Set
    // fresh every commit — never carried forward — so schema evolution
    // (M6) stays per-version correct.
    val schema64 = java.util.Base64.getEncoder.encodeToString(
      allNullable(sorted.schema).json.getBytes("UTF-8"))
    // `metaDeferred` runs AFTER the parquet write, before the pointer
    // flip: metadata whose values ride the write pass itself (the
    // ObservedStats single-pass nDocs/sumDl) lands as atomically as
    // the eager map. Same crash window as `meta` — a writer dying
    // here leaves an orphaned dir, cleared by the next commit.
    val merged = latestMeta(table) ++ meta ++ metaDeferred() +
      (SchemaKey -> schema64)
    writeMeta(dest, merged)
    writePointerAtomically(table, next)
    next
  }

  /** Link data file `name` (and its checksum, if any) from `from` into
    * `to`; copy where the filesystem cannot hard-link. Spark names every
    * written file with its job's unique id, so a carried name never
    * collides with a file the commit wrote. */
  private def linkFile(from: Path, to: Path, name: String): Unit =
    Seq(name, s".$name.crc").map(from.resolve).filter(Files.exists(_)).foreach { src =>
      val dst = to.resolve(src.getFileName)
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst)
      }
    }

  private val SchemaKey = "_graft.schema64"

  private def allNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def go(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = go(f.dataType), nullable = true)))
      case at: ArrayType =>
        at.copy(elementType = go(at.elementType), containsNull = true)
      case mt: MapType =>
        mt.copy(valueType = go(mt.valueType), valueContainsNull = true)
      case other => other
    }
    go(s).asInstanceOf[StructType]
  }

  private def metaFile(dir: Path): Path = dir.resolve("_graft_meta")

  private def writeMeta(versionDir: Path, meta: Map[String, String]): Unit = {
    val body = meta.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    Files.writeString(metaFile(versionDir), body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Table metadata as of the latest committed version (empty if none).
    * Carried forward by every commit, so a key survives unrelated writes. */
  def latestMeta(table: String): Map[String, String] =
    metaForVersion(table, currentVersion(table))

  /** Table metadata as of a SPECIFIC committed version. Version dirs are
    * immutable once the pointer has flipped, so resolving a version number
    * once and reading both its data and its meta gives readers a
    * CONSISTENT lock-free view — two independent "latest" reads could
    * straddle a concurrent commit and pair one version's data with
    * another's metadata. */
  def metaForVersion(table: String, version: Long): Map[String, String] = {
    if (version == 0) Map.empty
    else {
      val f = metaFile(versionDir(table, version))
      if (!Files.exists(f)) Map.empty
      else Files.readString(f).linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    }
  }

  /** Run `body` holding `table`'s writer lock — the `BEGIN … COMMIT`
    * read-modify-write analog. Guards evaluated inside see the SAME
    * snapshot the commit builds on ([[commit]] re-enters the lock), so
    * the check-then-act window of a guard outside the lock (two
    * concurrent creates both passing a duplicate-name check, the race
    * the reference's `LOCK TABLE` closes, lambda_function.py:267-272)
    * cannot occur, and max+1 key generation is race-free. */
  def locked[T](table: String)(body: => T): T = {
    val l = lockFor(table)
    l.lock()
    try body finally l.unlock()
  }

  /** Abortable transaction for metadata that must be COMPUTED under the
    * table lock (e.g. a delta chain's parent-version list, which a
    * concurrent commit would invalidate if read before locking): `fn`
    * returns Right(rows, metadata) to commit or Left(a) to abort. It
    * does not hand `fn` the locked snapshot — the delta-chain indexes
    * read their table via currentVersion/metaForVersion/loadVersion
    * themselves, so an eager load's schema-inference job would be pure
    * overhead. `metaDeferred` is [[commit]]'s: metadata computed BY the
    * write pass itself (the ObservedStats nDocs/sumDl observation
    * resolves only once the write job has streamed the rows), evaluated
    * after the parquet write — and only when `fn` commits. */
  def transactMeta[A](table: String, sortKey: Option[String] = None,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      metaDeferred: () => Map[String, String] = () => Map.empty)
      (fn: => Either[A, (DataFrame, Map[String, String])])
      : Either[A, Long] = locked(table) {
    fn.map { case (df, meta) =>
      commit(table, df, sortKey, meta, statsCols, bloomCols, metaDeferred)
    }
  }

  private def writePointerAtomically(table: String, version: Long): Unit = {
    val tmp = tableDir(table).resolve(s".LATEST.tmp.${Thread.currentThread().getId}")
    Files.createDirectories(tableDir(table))
    Files.writeString(tmp, version.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, pointer(table),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop all versions strictly older than `keepFrom` (vacuum). NOT for
    * delta-chained index tables — a chained version references older dirs;
    * use VectorIndex.vacuumIndex there, which keeps the live chain. */
  def vacuum(table: String, keepFrom: Long): Unit = locked(table) {
    versions(table).filter(_ < keepFrom).foreach { v =>
      deleteRecursively(versionDir(table, v))
    }
  }

  /** Drop a specific set of committed versions (chain-aware vacuum
    * support). The current version is never dropped; the caller computes
    * which versions are safe (VectorIndex.vacuumIndex keeps the live
    * delta chain). */
  def dropVersions(table: String, drop: Set[Long]): Unit = locked(table) {
    val cur = currentVersion(table)
    versions(table).filter(v => drop.contains(v) && v != cur)
      .foreach(v => deleteRecursively(versionDir(table, v)))
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      // materialize before deleting: mutating the directory while its
      // stream is open is unspecified, and the stream fd must close
      val children = try s.iterator().asScala.toList finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
