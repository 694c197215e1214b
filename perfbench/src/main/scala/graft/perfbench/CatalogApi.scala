package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{CatalogAnalytics, CatalogQueries, MutationResult, Mutations}
import graft.schema.Schemas
import graft.sources.Ingest
import graft.store.SnapshotStore

/** The reference's own traffic: S3-event CSV ingest plus the CRUD API and
  * the dashboard over the one catalog table. A driver-side model mirrors
  * every mutation; every read result and status code must equal it. */
final class CatalogApi(h: Harness) extends Workload(h) {
  import CatalogApi._

  private val spark = h.spark
  private val rnd = new scala.util.Random(h.opts.seed * 0x9E3779B97F4A7C15L + 101)
  private var root: Path = _
  private var inbox: Path = _
  private var store: SnapshotStore = _
  private var muts: Mutations = _
  private var api: CatalogQueries = _
  private var dash: CatalogAnalytics = _

  // the model: every committed row by key (soft-deleted rows included:
  // the duplicate-name guard and update still see them)
  private val model = mutable.TreeMap.empty[Int, Array[Any]]
  private val keys = new KeySet
  private var serial = 0L
  private var csvBatch = 0L

  def warmup(): Unit = round()

  def setup(dir: Path): Unit = {
    digest.reset()
    model.clear(); keys.clear(); serial = 0L; csvBatch = 0L; rounds = 0
    root = dir.resolve("store")
    inbox = dir.resolve("inbox")
    Files.createDirectories(inbox)
    store = new SnapshotStore(root.toString, spark)
    muts = new Mutations(store, spark)
    api = new CatalogQueries(store, spark)
    dash = new CatalogAnalytics(store.load(Table))

    val gen = new CatalogGen(h.opts.seed)
    val raw = (0 until SetupRows).map(i => gen.row(i))
    // the S3 drop: a few CSV objects, one Lambda-style batch
    val files = raw.grouped(SetupRows / SetupFiles).zipWithIndex.map { case (rows, i) =>
      val f = inbox.resolve(f"catalog-$i%02d.csv")
      writeCsv(f, rows)
      f
    }.toSeq
    val batch = h.tracer.span("sources.Ingest.catalogBatch") {
      Ingest.catalogBatch(spark, inbox.toString)
    }
    h.tracer.span("operators.Mutations.appendBatch")(muts.appendBatch(batch))
    files.foreach(Files.delete)
    // keys are the store's to assign: read them back once
    val byName = raw.map(r => r(NameCol).asInstanceOf[String] -> r).toMap
    store.load(Table).select("s_no", "tool_name").collect().foreach { r =>
      model(r.getInt(0)) = normalize(byName(r.getString(1)), r.getInt(0))
      keys.add(r.getInt(0))
    }
    if (model.size != SetupRows)
      h.failRun(s"set-up loaded ${model.size} rows, expected $SetupRows")
    serial = SetupRows
    if (h.opts.trace) h.probe = Some(new StoreProbe(root, store))
  }

  private var rounds = 0

  /** One round: 26 API calls in seeded order. Each read kind and each
    * dashboard aggregation a fixed number of times, each write kind once
    * with a 2xx outcome, and one rejected write (a duplicate-name create,
    * then an unknown-key hard delete, then an unknown-key update, in
    * turn). Rejections return without a commit, so their share is fixed
    * per round rather than drawn per op: a drawn share moved the write
    * median by 40% between seeds. */
  def round(): Unit = {
    val rejected = Rejections(rounds % Rejections.size)
    rounds += 1
    rnd.shuffle(RoundOps :+ rejected).foreach {
      case "get_by_sno" => getBySNo()
      case "get_by_login" => getByLogin()
      case "search_team" => searchTeam()
      case "page" => page()
      case "dashboard-0" => dashboard(0)
      case "dashboard-1" => dashboard(1)
      case "dashboard-2" => dashboard(2)
      case "create" => create(dup = false)
      case "create-400" => create(dup = true)
      case "update" => update(known = true)
      case "update-404" => update(known = false)
      case "soft_delete" => softDelete()
      case "hard_delete" => hardDelete(known = true)
      case "hard_delete-404" => hardDelete(known = false)
      case "csv_append" => csvAppend()
    }
  }

  // ---- reads --------------------------------------------------------

  private def read(kind: String, layer: String, q: => DataFrame,
                   expect: => Seq[Array[Any]], ordered: Boolean): Unit = {
    val (rec, rows) = h.op(kind) {
      h.tracer.span(s"operators.CatalogQueries.$layer")(q.collect())
    }
    h.sample("read", rec.ms)
    rows.foreach { got =>
      val g = got.toSeq.map(rowValues)
      val e = expect
      val (gs, es) =
        if (ordered) (g, e.map(_.toSeq))
        else (g.sortBy(_.head.asInstanceOf[Int]), e.map(_.toSeq).sortBy(_.head.asInstanceOf[Int]))
      if (gs != es)
        h.fail(rec, s"${gs.size} rows differ from the model's ${es.size}")
    }
  }

  private def visible: Iterator[Array[Any]] =
    model.valuesIterator.filter(_(FlagCol) == true)

  private def getBySNo(): Unit = {
    val k = if (rnd.nextInt(100) < 85 && keys.size > 0) keys.pick(rnd)
            else rnd.nextInt(serial.toInt + 50) + 1
    read("get_by_sno", "getBySNo", api.getBySNo(k),
      model.get(k).filter(_(FlagCol) == true).toSeq, ordered = false)
  }

  private def getByLogin(): Unit = {
    val login = CatalogGen.login(rnd.nextInt(CatalogGen.Logins))
    read("get_by_login", "getByLogin", api.getByLogin(login),
      visible.filter(_(LoginCol) == login).toSeq, ordered = false)
  }

  private def searchTeam(): Unit = {
    val team = CatalogGen.Teams(rnd.nextInt(CatalogGen.Teams.length))
    val letters = team.filter(_.isLetter)
    val from = rnd.nextInt(math.max(1, letters.length - 2))
    val frag0 = letters.slice(from, from + 2 + rnd.nextInt(2))
    val frag = if (rnd.nextBoolean()) frag0.toLowerCase else frag0.toUpperCase
    read("search_team", "searchByTeam", api.searchByTeam(frag),
      visible.filter { r =>
        val t = r(TeamCol).asInstanceOf[String]
        t != null && t.toUpperCase.contains(frag.toUpperCase)
      }.toSeq, ordered = false)
  }

  private def page(): Unit = {
    val after = rnd.nextInt(serial.toInt + 1)
    read("page", "page", api.page(after, PageSize),
      visible.filter(_(0).asInstanceOf[Int] > after).take(PageSize).toSeq,
      ordered = true)
  }

  private def dashboard(which: Int): Unit = {
    val (rec, got) = h.op("dashboard") {
      h.tracer.span("operators.CatalogQueries.dashboard") {
        (which match {
          case 0 => dash.toolCountByTeam
          case 1 => dash.recordsByTeamAndStatus
          case _ => dash.reuseBreakdown
        }).collect()
      }
    }
    h.sample("read", rec.ms)
    got.foreach { rows =>
      val vis = visible.toSeq
      def counts(col: Int): Map[Any, Long] =
        vis.groupBy(_(col)).view.mapValues(_.size.toLong).toMap
      val ok = which match {
        case 0 | 2 =>
          rows.map(r => r.get(0) -> r.getLong(1)).toMap ==
            counts(if (which == 0) TeamCol else ReuseCol)
        case _ =>
          val byTeam = vis.groupBy(_(TeamCol)).view.mapValues { rs =>
            (rs.count(_(StatusCol) == "Active").toLong,
              rs.count(_(StatusCol) == "Inactive").toLong)
          }.toMap
          def n(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
          rows.map(r => r.get(0) -> (n(r, 1), n(r, 2))).toMap == byTeam
      }
      if (!ok) h.fail(rec, s"dashboard aggregation $which differs from the model")
    }
  }

  // ---- writes -------------------------------------------------------

  private def write(kind: String, layer: String, expect: Int,
                    call: => MutationResult, payload: Int)
                   (onOk: Int => Unit): Unit = {
    val (rec, res) = h.op(kind)(h.tracer.span(s"operators.Mutations.$layer")(call))
    h.sample("write", rec.ms)
    h.addUserBytes(payload)
    res.foreach { r =>
      if (r.status != expect) h.fail(rec, s"status ${r.status}, model says $expect")
      else r match {
        case MutationResult.Created(k) => onOk(k)
        case MutationResult.Ok(k) => onOk(k)
        case _ =>
      }
    }
  }

  private def create(dup: Boolean): Unit = {
    val name =
      if (dup) model(keys.pick(rnd))(NameCol).asInstanceOf[String]
      else { serial += 1; CatalogGen.toolName(h.opts.seed, serial) }
    val record = Map[String, Any]("tool_name" -> name,
      "team_name" -> CatalogGen.Teams(rnd.nextInt(CatalogGen.Teams.length)),
      "description" -> s"created via the API, request $serial",
      "login" -> CatalogGen.login(rnd.nextInt(CatalogGen.Logins)),
      "active_inactive" -> "Active",
      "remarks" -> "NA")
    val expected = if (model.valuesIterator.exists(_(NameCol) == name)) 400 else 201
    val nextKey = model.lastOption.map(_._1).getOrElse(0) + 1
    write("create", "create", expected, muts.create(record), payloadBytes(record)) { k =>
      if (k != nextKey) h.failRun(s"create assigned key $k, model says $nextKey")
      val raw = Array.fill[String](Schemas.cspTools.size)(null)
      record.foreach { case (c, v) => raw(Schemas.cspTools.fieldIndex(c)) = v.toString }
      model(k) = normalize(raw, k)
      keys.add(k)
    }
  }

  private def anyKey(known: Boolean): Int =
    if (known) keys.pick(rnd) else serial.toInt + 1000 + rnd.nextInt(1000)

  private def update(known: Boolean): Unit = {
    val k = anyKey(known)
    val patch = Map[String, Any]("remarks" -> s"reviewed ${rnd.nextInt(1000)}",
      "active_inactive" -> (if (rnd.nextBoolean()) "Active" else "Inactive"))
    write("update", "update", if (model.contains(k)) 200 else 404,
        muts.update(k, patch), payloadBytes(patch) + 4) { _ =>
      patch.foreach { case (c, v) => model(k)(Schemas.cspTools.fieldIndex(c)) = v }
    }
  }

  private def softDelete(): Unit = {
    val k = anyKey(known = true)
    write("soft_delete", "softDelete", if (model.contains(k)) 200 else 404,
        muts.softDelete(k), 4) { _ => model(k)(FlagCol) = false }
  }

  private def hardDelete(known: Boolean): Unit = {
    val k = anyKey(known)
    write("hard_delete", "hardDelete", if (model.contains(k)) 200 else 404,
        muts.hardDelete(k), 4) { _ => model.remove(k); keys.remove(k) }
  }

  private def csvAppend(): Unit = {
    val gen = new CatalogGen(h.opts.seed)
    val raw = (0 until CsvRows).map { _ => serial += 1; gen.row(serial.toInt) }
    val f = inbox.resolve(s"append-$csvBatch.csv")
    writeCsv(f, raw)
    val batchId = csvBatch
    csvBatch += 1
    val offset = model.lastOption.map(_._1).getOrElse(0)
    val (rec, applied) = h.op("csv_append") {
      val batch = h.tracer.span("sources.Ingest.catalogBatch") {
        Ingest.catalogBatch(spark, f.toString)
      }
      h.tracer.span("operators.Mutations.appendBatchOnce") {
        muts.appendBatchOnce(batch, "s3-events", batchId)
      }
    }
    h.sample("write", rec.ms)
    Files.delete(f)
    applied.foreach { ok =>
      if (!ok) h.fail(rec, s"batch $batchId skipped as a replay")
      else {
        // a one-file batch is one partition: keys follow tool_name order
        raw.sortBy(_(NameCol).asInstanceOf[String]).zipWithIndex.foreach { case (r, i) =>
          model(offset + 1 + i) = normalize(r, offset + 1 + i)
          keys.add(offset + 1 + i)
        }
      }
    }
  }

  // ---- after the loop -----------------------------------------------

  def check(): Unit = {
    // the whole table against the model, once
    val got = store.load(Table).collect().map(rowValues).map(r => r.head -> r).toMap
    if (got.size != model.size || model.exists { case (k, r) => !got.get(k).contains(r.toSeq) })
      h.failRun(s"final table (${got.size} rows) differs from the model (${model.size} rows)")
  }

  def settle(): Path = {
    store.vacuum(Table, store.currentVersion(Table))
    root
  }

  def namedFigures(e2e: Map[String, Double]): Seq[(String, Double, String)] = {
    val reads = h.samplesOf(false, "read")
    val writes = h.samplesOf(false, "write")
    // a tail only where ten samples lie beyond a percentile above the median
    def tail(name: String, xs: Seq[Double]) = {
      val p = TailPct(xs.size)
      if (p > 50) Seq((s"${name}_p${p}_ms", Stats.pct(xs, p / 100.0), "ms")) else Nil
    }
    Seq(("api_ops_per_s", e2e("ops_per_s"), "ops/s"),
      ("api_read_p50_ms", Stats.median(reads), "ms")) ++ tail("api_read", reads) ++
    Seq(("api_write_p50_ms", Stats.median(writes), "ms")) ++ tail("api_write", writes) ++
    Seq(("api_reads", reads.size.toDouble, "count"),
      ("api_writes", writes.size.toDouble, "count"))
  }

  private def writeCsv(f: Path, rows: Seq[Array[String]]): Unit = {
    val sb = new StringBuilder
    sb.append(Schemas.cspTools.fieldNames.mkString(",")).append('\n')
    rows.foreach { r => sb.append(r.map(CatalogGen.csvField).mkString(",")).append('\n') }
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(f, bytes)
    feed(sb.toString)
    h.addUserBytes(bytes.length)
  }
}

object CatalogApi {
  val Table = "csp_tools_data"
  val SetupRows = 10000
  val SetupFiles = 4
  val CsvRows = 5
  val PageSize = 100
  val RoundOps: Seq[String] = Seq.fill(7)("get_by_sno") ++ Seq.fill(3)("get_by_login") ++
    Seq.fill(3)("search_team") ++ Seq.fill(4)("page") ++
    Seq("dashboard-0", "dashboard-1", "dashboard-2") ++
    Seq("create", "update", "soft_delete", "hard_delete", "csv_append")
  val Rejections: Seq[String] = Seq("create-400", "hard_delete-404", "update-404")

  private val idx = Schemas.cspTools.fieldNames.zipWithIndex.toMap
  val NameCol = idx("tool_name")
  val TeamCol = idx("team_name")
  val LoginCol = idx("login")
  val FlagCol = idx("is_display")
  val StatusCol = idx("active_inactive")
  val ReuseCol = idx("can_be_reused_across_csp_teams")

  /** What the ingest path makes of a raw field set: the reference's null
    * sentinels become null, `is_display` defaults to true, the key is the
    * store's. */
  def normalize(raw: Array[String], key: Int): Array[Any] =
    Schemas.cspTools.fields.zipWithIndex.map { case (f, i) =>
      if (i == 0) key
      else if (i == FlagCol) raw(i) match {
        case null => true
        case s if blank(s) => true
        case s => sqlTrim(s).toBoolean
      }
      else raw(i) match {
        case null => null
        case s if blank(s) => null
        case s => s
      }
    }.toArray[Any]

  /** Spark SQL's `trim`: spaces only, not all whitespace. */
  private def sqlTrim(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  private def blank(s: String): Boolean = { val t = sqlTrim(s); t.isEmpty || t == "NA" }

  def rowValues(r: Row): Seq[Any] = r.toSeq

  def payloadBytes(m: Map[String, Any]): Int =
    m.map { case (k, v) => k.length + v.toString.getBytes(UTF_8).length }.sum

  /** Keys with O(1) add, remove and uniform pick. */
  final class KeySet {
    private val arr = mutable.ArrayBuffer.empty[Int]
    private val pos = mutable.HashMap.empty[Int, Int]
    def size: Int = arr.size
    def clear(): Unit = { arr.clear(); pos.clear() }
    def add(k: Int): Unit = if (!pos.contains(k)) { pos(k) = arr.size; arr += k }
    def remove(k: Int): Unit = pos.remove(k).foreach { i =>
      val last = arr.remove(arr.size - 1)
      if (i < arr.size) { arr(i) = last; pos(last) = i }
    }
    def pick(rnd: scala.util.Random): Int = arr(rnd.nextInt(arr.size))
  }
}

/** Seeded catalog rows with the reference's CSV corners: embedded commas,
  * doubled quotes, multi-line fields, the `NA` / empty / blank null
  * sentinels and the `N/A` value (src/test/resources/fixtures/). Row `i`
  * of seed `s` is a pure function of (s, i). */
final class CatalogGen(seed: Long) {
  import CatalogGen._

  def row(i: Int): Array[String] = {
    val r = new java.util.Random(seed * 1000003L + i * 0x5851F42D4C957F2DL)
    val f = Array.fill[String](Schemas.cspTools.size)(null)
    def set(c: String, v: String): Unit = f(Schemas.cspTools.fieldIndex(c)) = v
    def pick(xs: Array[String]): String = xs(r.nextInt(xs.length))
    set("s_no", (i + 1).toString)
    set("team_name", pick(Teams))
    set("tool_name", toolName(seed, i.toLong))
    set("description", r.nextInt(10) match {
      case 0 => "line one\nline two continues"
      case 1 => s"""GMS Rank from the "item" tab, build ${r.nextInt(1000)}"""
      case 2 => "NA"
      case 3 => ""
      case _ => Array.fill(6 + r.nextInt(12))(pick(Words)).mkString(" ")
    })
    set("tool_code_link", s"https://code.example/${pick(Words)}/${r.nextInt(100000)}")
    set("tool_script", pick(Array("python", "sql", "shell", "NA", "Java, Scala")))
    set("wiki_link", if (r.nextInt(4) == 0) " " else s"https://wiki.example/${r.nextInt(9999)}")
    set("impact_ticket_reduced_effort_saving_hc", r.nextInt(20).toString)
    set("impact_ticket_reduced_effort_saving_tat", s"${r.nextInt(48)} hrs")
    set("created_date", pick(Array("23-Dec", "Feb-25", "2013", "-", "2024-01-05", "NA")))
    set("active_inactive", pick(Array("Active", "Active", "Active", "Inactive", "NA", "")))
    set("reason_for_inactive_or_deprecation", pick(Array("NA", "", "replaced by v2", "N/A")))
    set("tool_used_by_csp_external_team", pick(Array("Yes", "No", "N/A")))
    set("can_be_reused_across_csp_teams", pick(Array("Yes", "No", "N/A", "NA", "Maybe, with changes")))
    set("eng_team_request_self", pick(Array("Self", "Eng", "NA")))
    set("eng_business_team_name", pick(Teams))
    set("op_link_from_eng_team", if (r.nextBoolean()) "" else s"https://ops.example/${r.nextInt(500)}")
    set("reason_for_cut", "NA")
    set("remarks", pick(Array("", "NA", "N/A", "needs \"owner\" review", "ok")))
    set("is_display", pick(Array("true", "true", "true", "true", "false", null)))
    set("login", login(r.nextInt(Logins)))
    set("tool_owner", s"owner${r.nextInt(300)}")
    set("catalog_write_read", pick(Array("read", "write", "read,write")))
    set("reason_for_catalog_access", pick(Array("NA", "audit", "ops")))
    set("who_use_this_tool", pick(Teams))
    set("reason_for_catalog", pick(Array("", "tracking", "NA")))
    set("tool_developed_by", s"dev${r.nextInt(800)}")
    f
  }
}

object CatalogGen {
  val Teams = Array("FCS", "GCSS", "fcs", "Retail Ops", "AWS-Infra",
    "Payments, EU", "Seller Support", "Catalog Quality", "gcss", "Risk",
    "Fulfilment", "Ads Measurement")
  val Words = Array("rank", "audit", "ticket", "report", "sync", "batch",
    "metric", "seller", "listing", "price", "scan", "queue", "alert", "daily")
  val Logins = 1000

  def login(i: Int): String = f"login$i%04d"
  def toolName(seed: Long, i: Long): String =
    if (i % 7 == 3) s"Tool $seed-$i, v2" else s"Tool $seed-$i"

  /** RFC-4180 minimal quoting; an empty string field is written quoted
    * (`""`), a null field as nothing. */
  def csvField(v: String): String =
    if (v == null) ""
    else if (v.isEmpty) "\"\""
    else if (v.exists(c => c == ',' || c == '"' || c == '\n') || v.head == ' ' || v.last == ' ')
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
}
