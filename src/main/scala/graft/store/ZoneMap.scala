package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}

/** File-level zone maps (min/max data skipping) for [[SnapshotStore]]
  * tables — the piece that turns a snapshot point/range lookup from
  * "open every file's footer" into "open only the files that can match".
  *
  * The reference leaned on Redshift zone maps plus `SORTKEY(s_no)` for
  * its point lookups (sql/ddl_create_tables.sql:26); parquet row-group
  * stats already give the WITHIN-file analog (SnapshotStore scaladoc),
  * but Spark still lists, opens and footer-reads every file of the
  * snapshot to discover that nothing matches. At 100 TB a snapshot is
  * O(100k) files, so a selective lookup pays 100k footer round-trips to
  * read three of them. The fix is the standard lakehouse one (Delta/
  * Iceberg file statistics): harvest per-FILE min/max once at commit
  * time — from the parquet footers the write just produced, no data
  * pass — persist them next to the version's data, and have selective
  * reads consult the sidecar to enumerate only the surviving files.
  *
  * Layout: `_graft_zones` inside the version directory, written BEFORE
  * the `LATEST` pointer flips, so the sidecar is exactly as atomic as
  * the snapshot it describes (same contract as `_graft_meta`). Version
  * dirs are immutable; so are their zone maps.
  *
  * Pruning is strictly an optimization: [[prunedScan]] re-applies the
  * predicate as an ordinary Catalyst filter over the surviving files,
  * so a conservative (or even empty) zone map can never change results
  * — only how many files the scan touches. Files whose stats are
  * missing, or whose column type the harvester does not understand, are
  * always kept.
  *
  * Supported zone columns: integral (parquet INT32/INT64 — covers
  * int/bigint/date), floating (FLOAT/DOUBLE), UTF-8 strings
  * (BINARY+String annotation; min/max compared as unsigned bytes, the
  * same total order parquet's UTF8 comparator uses), and INT64
  * timestamps (zones normalized to epoch-µs whatever the file's
  * physical unit — see [[TsRange]]). Decimals and nested types are not
  * harvested (conservatively kept).
  */
object ZoneMap {

  /** One file × column stats row. `kind` ∈ long|double|string|null
    * ("null" = the column is entirely null in this file — provably
    * unmatched by any range/equality predicate). String bounds are the
    * raw UTF-8 bytes (compared unsigned, matching parquet). */
  final case class Zone(file: String, column: String, kind: String,
                        minLong: Long, maxLong: Long,
                        minDouble: Double, maxDouble: Double,
                        minBytes: Array[Byte], maxBytes: Array[Byte],
                        nullCount: Long, rows: Long)

  /** Range predicate over one column; `eq` is a degenerate range. Bounds
    * are inclusive; `None` = unbounded on that side. Exactly one of the
    * three typed constructors applies per column kind — a long predicate
    * against a string column (or vice versa) keeps every file. */
  sealed trait ZonePred { def column: String }
  final case class LongRange(column: String, lo: Option[Long], hi: Option[Long])
      extends ZonePred
  final case class DoubleRange(column: String, lo: Option[Double], hi: Option[Double])
      extends ZonePred
  final case class StringRange(column: String, lo: Option[String], hi: Option[String])
      extends ZonePred
  /** Membership predicate (`col IN (…)`): a file survives if ANY value
    * falls inside its [min,max] — the shape a term/key probe produces
    * (TextIndex query terms, id-list lookups). Still only an upper
    * bound: a value inside the zone need not be present; the residual
    * `isin` decides membership. */
  final case class LongIn(column: String, values: Seq[Long]) extends ZonePred
  final case class StringIn(column: String, values: Seq[String]) extends ZonePred
  /** Inclusive instant range in epoch MICROseconds — zones for timestamp
    * columns are normalized to µs at harvest regardless of the file's
    * physical unit, so one predicate form covers MILLIS/MICROS/NANOS
    * files. (Spark's TimestampType is µs; sub-µs parquet precision is
    * floor-divided, matching Spark's own read truncation.) */
  final case class TsRange(column: String, lo: Option[Long], hi: Option[Long])
      extends ZonePred

  def longRange(column: String, lo: Long, hi: Long): ZonePred =
    LongRange(column, Some(lo), Some(hi))
  def longEq(column: String, v: Long): ZonePred = LongRange(column, Some(v), Some(v))
  def doubleRange(column: String, lo: Double, hi: Double): ZonePred =
    DoubleRange(column, Some(lo), Some(hi))
  def stringRange(column: String, lo: String, hi: String): ZonePred =
    StringRange(column, Some(lo), Some(hi))
  def stringEq(column: String, v: String): ZonePred =
    StringRange(column, Some(v), Some(v))
  def longIn(column: String, values: Seq[Long]): ZonePred = LongIn(column, values)
  def stringIn(column: String, values: Seq[String]): ZonePred =
    StringIn(column, values)
  /** Instant range from epoch-µs bounds (inclusive). */
  def tsRangeMicros(column: String, loMicros: Long, hiMicros: Long): ZonePred =
    TsRange(column, Some(loMicros), Some(hiMicros))
  def tsRange(column: String, lo: java.sql.Timestamp, hi: java.sql.Timestamp): ZonePred =
    TsRange(column, Some(micros(lo)), Some(micros(hi)))
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private val SidecarName = "_graft_zones"

  /** Above this many files the footer harvest runs as one Spark job over
    * the file names instead of a driver loop — at 100 TB a snapshot has
    * O(100k) files and the driver should not serially open each footer
    * (the job is still footer-only: no data pages are read). */
  private val DistributedThreshold = 256

  // ---------------------------------------------------------------- harvest

  private[graft] def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir) // close the directory fd (harvest runs per commit)
    try s.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Harvest zones for `cols` from every parquet file under `dir` and
    * write the `_graft_zones` sidecar there. Footer-only: no data pages
    * are read, no Spark job below [[DistributedThreshold]] files.
    * Columns that yield no harvestable stats simply produce no lines
    * (conservatively kept at scan time).
    *
    * `carried` = (base version dir, file names linked from it unchanged):
    * those files keep the base sidecar's lines instead of a second
    * footer read, so a file-granular commit harvests only the files it
    * wrote. A base without a sidecar over the same columns is harvested
    * in full. */
  private[store] def writeSidecar(dir: Path, cols: Seq[String],
                                  spark: SparkSession,
                                  carried: Option[(Path, Set[String])] = None): Unit = {
    if (cols.isEmpty) return
    val reused: Seq[Zone] = carried.flatMap { case (baseDir, names) =>
      readSidecar(baseDir).collect {
        case (baseCols, zones) if baseCols == cols.toSet =>
          zones.filter(z => names.contains(z.file))
      }
    }.getOrElse(Seq.empty)
    val reusedFiles = reused.map(_.file).toSet
    val files = dataFiles(dir).filterNot(f => reusedFiles(f.getFileName.toString))
    val harvested: Seq[Zone] =
      if (files.size >= DistributedThreshold) {
        val names = files.map(_.toAbsolutePath.toString)
        val colsB = cols.toArray
        spark.sparkContext.parallelize(names, math.min(names.size, 64))
          .flatMap { f => harvestFile(Paths.get(f), colsB.toSeq) }
          .collect().toSeq
      } else files.flatMap(f => harvestFile(f, cols))
    val zones = (reused ++ harvested).sortBy(_.file)
    val header = s"#graft-zones v1\tcols=${cols.mkString(",")}"
    val b64 = java.util.Base64.getEncoder
    val lines = zones.map { z =>
      val (mn, mx) = z.kind match {
        case "long" | "ts" => (z.minLong.toString, z.maxLong.toString)
        case "double" => (z.minDouble.toString, z.maxDouble.toString)
        case "string" => (b64.encodeToString(z.minBytes), b64.encodeToString(z.maxBytes))
        case _        => ("", "")
      }
      s"${z.file}\t${z.column}\t${z.kind}\t$mn\t$mx\t${z.nullCount}\t${z.rows}"
    }
    Files.writeString(dir.resolve(SidecarName), (header +: lines).mkString("\n"))
  }

  /** Per-file footer read → one Zone per harvestable requested column.
    * Row-group stats are folded min-of-mins/max-of-maxes; a single row
    * group with unusable stats poisons the column for the whole file
    * (no line → kept). Serializable-closure-safe: builds its Hadoop
    * Configuration locally, so the distributed path ships only strings. */
  private def harvestFile(file: Path, cols: Seq[String]): Seq[Zone] = {
    val fname = file.getFileName.toString
    var reader: ParquetFileReader = null
    try {
      reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), new Configuration()))
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val schema = footer.getFileMetaData.getSchema
      cols.flatMap { c =>
        // top-level primitive columns only
        val idx = schema.getFields.asScala.indexWhere(_.getName == c)
        if (idx < 0 || !schema.getType(idx).isPrimitive) None
        else {
          val prim = schema.getType(idx).asPrimitiveType()
          val ann = prim.getLogicalTypeAnnotation
          val kind = prim.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64
                if ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
              "ts" // physical long, normalized to µs in foldBlocks
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64
                if ann == null ||
                   ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                   ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
              "long"
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => "double"
            case PrimitiveTypeName.BINARY
                if ann != null &&
                   ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              "string"
            case _ => "skip"
          }
          val toMicros: Long => Long =
            if (kind != "ts") identity
            else ann.asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation].getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Math.multiplyExact(_, 1000L)
              case LogicalTypeAnnotation.TimeUnit.MICROS => identity
              case LogicalTypeAnnotation.TimeUnit.NANOS  => Math.floorDiv(_, 1000L)
            }
          if (kind == "skip") None
          else foldBlocks(fname, c, kind, blocks, toMicros)
        }
      }
    } catch { case _: Exception => Seq.empty // unreadable footer → no pruning
    } finally if (reader != null) reader.close()
  }

  private def foldBlocks(fname: String, c: String, kind: String,
                         blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                         toMicros: Long => Long = identity)
      : Option[Zone] = {
    var mnL = Long.MaxValue; var mxL = Long.MinValue
    var mnD = Double.PositiveInfinity; var mxD = Double.NegativeInfinity
    var mnB: Array[Byte] = null; var mxB: Array[Byte] = null
    var nulls = 0L; var rows = 0L; var sawValue = false
    for (b <- blocks) {
      rows += b.getRowCount
      val cc = b.getColumns.asScala.find(_.getPath.toDotString == c)
        .getOrElse(return None)
      val st: org.apache.parquet.column.statistics.Statistics[_] =
        cc.getStatistics
      if (st == null || st.isEmpty) return None
      nulls += st.getNumNulls
      if (st.getNumNulls < 0) return None // unknown null count → unusable
      if (st.hasNonNullValue) {
        sawValue = true
        kind match {
          case "long" | "ts" =>
            val mn = toMicros(st.genericGetMin.asInstanceOf[Number].longValue())
            val mx = toMicros(st.genericGetMax.asInstanceOf[Number].longValue())
            if (mn < mnL) mnL = mn
            if (mx > mxL) mxL = mx
          case "double" =>
            val mn = st.genericGetMin.asInstanceOf[Number].doubleValue()
            val mx = st.genericGetMax.asInstanceOf[Number].doubleValue()
            if (mn < mnD) mnD = mn
            if (mx > mxD) mxD = mx
          case "string" =>
            val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            if (mnB == null || unsignedCompare(mn, mnB) < 0) mnB = mn
            if (mxB == null || unsignedCompare(mx, mxB) > 0) mxB = mx
        }
      }
    }
    if (!sawValue) // entire file null in this column: provably unmatched
      Some(Zone(fname, c, "null", 0L, 0L, 0d, 0d, Array.empty, Array.empty, nulls, rows))
    else Some(Zone(fname, c, kind, mnL, mxL, mnD, mxD,
      if (mnB == null) Array.empty else mnB,
      if (mxB == null) Array.empty else mxB, nulls, rows))
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  // ----------------------------------------------------------------- read

  private def readSidecar(dir: Path): Option[(Set[String], Seq[Zone])] = {
    val f = dir.resolve(SidecarName)
    if (!Files.exists(f)) return None
    val lines = Files.readString(f).linesIterator.toSeq
    if (lines.isEmpty || !lines.head.startsWith("#graft-zones")) return None
    val cols = lines.head.split('\t').find(_.startsWith("cols="))
      .map(_.drop(5).split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val b64 = java.util.Base64.getDecoder
    val zones = lines.tail.flatMap { l =>
      val p = l.split('\t')
      if (p.length < 7) None
      else {
        val kind = p(2)
        try Some(kind match {
          case "long" | "ts" =>
            Zone(p(0), p(1), kind, p(3).toLong, p(4).toLong, 0d, 0d,
              Array.empty, Array.empty, p(5).toLong, p(6).toLong)
          case "double" =>
            Zone(p(0), p(1), kind, 0L, 0L, p(3).toDouble, p(4).toDouble,
              Array.empty, Array.empty, p(5).toLong, p(6).toLong)
          case "string" =>
            Zone(p(0), p(1), kind, 0L, 0L, 0d, 0d,
              b64.decode(p(3)), b64.decode(p(4)), p(5).toLong, p(6).toLong)
          case _ =>
            Zone(p(0), p(1), "null", 0L, 0L, 0d, 0d,
              Array.empty, Array.empty, p(5).toLong, p(6).toLong)
        }) catch { case _: Exception => None }
      }
    }
    Some((cols, zones))
  }

  /** Every zone line of `table`'s `version` (empty without a sidecar):
    * per file and column, its bounds and its footer row count. */
  def zonesAt(store: SnapshotStore, table: String, version: Long): Seq[Zone] =
    zonesIn(store.versionDirOf(table, version))

  private[graft] def zonesIn(dir: Path): Seq[Zone] =
    readSidecar(dir).map(_._2).getOrElse(Seq.empty)

  /** Can a file whose zone is `z` contain a row matching `pred`? */
  private def mayMatch(z: Zone, pred: ZonePred): Boolean = (z.kind, pred) match {
    case ("null", _) => false // all-null column never matches a range
    case ("long", LongRange(_, lo, hi)) =>
      lo.forall(_ <= z.maxLong) && hi.forall(_ >= z.minLong)
    case ("ts", TsRange(_, lo, hi)) =>
      lo.forall(_ <= z.maxLong) && hi.forall(_ >= z.minLong)
    case ("double", DoubleRange(_, lo, hi)) =>
      lo.forall(_ <= z.maxDouble) && hi.forall(_ >= z.minDouble)
    case ("string", StringRange(_, lo, hi)) =>
      lo.forall(s => unsignedCompare(s.getBytes("UTF-8"), z.maxBytes) <= 0) &&
        hi.forall(s => unsignedCompare(s.getBytes("UTF-8"), z.minBytes) >= 0)
    case ("long", LongIn(_, vs)) =>
      vs.exists(v => v >= z.minLong && v <= z.maxLong)
    case ("string", StringIn(_, vs)) =>
      vs.exists { s =>
        val b = s.getBytes("UTF-8")
        unsignedCompare(b, z.minBytes) >= 0 && unsignedCompare(b, z.maxBytes) <= 0
      }
    case _ => true // type mismatch between predicate and zone → keep
  }

  /** Does `s` fall inside a STRING zone's [min,max]? (Unsigned UTF-8
    * byte order — the comparator parquet itself uses.) Non-string zones
    * conservatively answer true. The building block custom `keepFile`
    * predicates use to ask "can this file hold rows for this key?". */
  def stringInZone(z: Zone, s: String): Boolean =
    z.kind match {
      case "string" =>
        val b = s.getBytes("UTF-8")
        unsignedCompare(b, z.minBytes) >= 0 && unsignedCompare(b, z.maxBytes) <= 0
      case "null" => false
      case _      => true
    }

  /** A keepFile predicate that keeps everything — the default for the
    * pruned-scan entry points. */
  val KeepAll: (String, Map[String, Zone]) => Boolean = (_, _) => true

  /** The files of `table`'s latest version that survive `preds`, plus the
    * total file count — the observability hook the specs assert on.
    * Missing sidecar / unharvested column → every file survives. */
  def selectedFiles(store: SnapshotStore, table: String,
                    preds: Seq[ZonePred]): (Seq[Path], Int) = {
    val v = store.currentVersion(table)
    require(v > 0, s"table $table has no committed snapshot")
    selectedFilesAt(store, table, v, preds)
  }

  /** `keepFile` (optional) is a CUSTOM file predicate over the file's
    * harvested zones (column → Zone), ANDed after `preds` — the hook for
    * cross-column skip rules a per-column range can't express (e.g.
    * TextIndex's per-file MaxScore bound over term × tf × dl). It is
    * only consulted for files that HAVE a sidecar entry (missing sidecar
    * → every file survives, same conservative default as `preds`), and
    * like `preds` it must be an over-approximation: dropping a file that
    * could matter changes results, keeping a useless one only costs IO. */
  def selectedFilesAt(store: SnapshotStore, table: String, version: Long,
                      preds: Seq[ZonePred],
                      keepFile: (String, Map[String, Zone]) => Boolean = KeepAll)
      : (Seq[Path], Int) = {
    val dir = store.versionDirOf(table, version)
    val files = dataFiles(dir)
    readSidecar(dir) match {
      case None => (files, files.size)
      case Some((harvested, zones)) =>
        val byFile = zones.groupBy(_.file)
        val kept = files.filter { f =>
          val n = f.getFileName.toString
          val fZones = byFile.getOrElse(n, Seq.empty)
          preds.forall { p =>
            if (!harvested.contains(p.column)) true
            else fZones.find(_.column == p.column) match {
              case None    => true // no stats line for this file → keep
              case Some(z) => mayMatch(z, p)
            }
          } && (fZones.isEmpty ||
            keepFile(n, fZones.map(z => z.column -> z).toMap))
        }
        (kept, files.size)
    }
  }

  private def residual(preds: Seq[ZonePred]): Column =
    preds.map {
      case LongRange(c, lo, hi) =>
        lo.map(col(c) >= _).getOrElse(lit(true)) &&
          hi.map(col(c) <= _).getOrElse(lit(true))
      case DoubleRange(c, lo, hi) =>
        lo.map(col(c) >= _).getOrElse(lit(true)) &&
          hi.map(col(c) <= _).getOrElse(lit(true))
      case StringRange(c, lo, hi) =>
        lo.map(col(c) >= _).getOrElse(lit(true)) &&
          hi.map(col(c) <= _).getOrElse(lit(true))
      case LongIn(c, vs)   => col(c).isin(vs: _*)
      case StringIn(c, vs) => col(c).isin(vs: _*)
      case TsRange(c, lo, hi) =>
        lo.map(m => col(c) >= timestamp_micros(lit(m))).getOrElse(lit(true)) &&
          hi.map(m => col(c) <= timestamp_micros(lit(m))).getOrElse(lit(true))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Zone-pruned selective read of `table`'s latest snapshot: only the
    * surviving files are handed to the parquet scan, and `preds` are
    * re-applied as an ordinary pushed-down filter — pruning can only
    * skip IO, never change the result. Equivalent by construction to
    * `store.load(table).filter(preds)`. */
  def prunedScan(store: SnapshotStore, table: String,
                 preds: Seq[ZonePred]): DataFrame = {
    val v = store.currentVersion(table)
    require(v > 0, s"table $table has no committed snapshot")
    prunedScanAt(store, table, v, preds)
  }

  /** [[prunedScan]] pinned to a SPECIFIC version — the form delta-chain
    * readers use (each chain member is its own immutable version dir
    * with its own zone map; see [[DeltaChain.loadPruned]]). `keepFile`:
    * see [[selectedFilesAt]] — a custom cross-column skip, residual-free
    * by definition (it may only drop files no surviving row can need). */
  def prunedScanAt(store: SnapshotStore, table: String, version: Long,
                   preds: Seq[ZonePred],
                   keepFile: (String, Map[String, Zone]) => Boolean = KeepAll)
      : DataFrame = {
    val spark = store.session
    val (kept, _) = selectedFilesAt(store, table, version, preds, keepFile)
    if (kept.isEmpty) {
      val s = store.recordedSchema(table, version)
        .getOrElse(store.loadVersion(table, version).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    } else store.loadFiles(table, version, kept.map(_.getFileName.toString))
      .filter(residual(preds))
  }
}
