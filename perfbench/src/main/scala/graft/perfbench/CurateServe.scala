package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.{Graft, ScaleBench}
import graft.functions.Retrieval
import graft.store.{CurationIngest, MinHashRegime, PhraseIndex, SnapshotStore, TextIndex, VectorIndex}

/** The LLM-curation store under one closed-loop client that streams crawl
  * micro-batches in and serves queries out of the same store.
  *
  * Write path: each micro-batch goes through the fingerprint → MinHash
  * near-dup gate (CurationIngest) and its `new` survivors are appended to
  * the positional text index; a takedown deletes earlier docs from the
  * text and near-dup indexes; `Graft.maintainAll` folds chains and
  * tombstones and refreshes champion lists; an at-least-once redelivery
  * replays the batch and the takedown. Read path: BM25, MaxScore,
  * champion-list and exact-phrase query batches over the text index, IVF-PQ
  * + exact re-rank vector queries, and one index-free BM25 scan.
  *
  * Docs are Zipfian (`ScaleBench.genZipfDoc`) with the planted duplicates
  * of `ScaleBench.genDoc`: id%100 == 1 is a near-duplicate of id-1, id%500
  * == 3 an exact copy of id-3. Vectors follow the clustered 64-dim
  * `ScaleBench.genEmb` recipe. Ids are offset by seed·10⁹, which keeps
  * every residue, so each seed plants the same rates; micro-batches are
  * aligned to 500 ids, so each planted pair lands in one batch. */
final class CurateServe(h: Harness) extends Workload(h) {
  import CurateServe._

  private val spark = h.spark
  import spark.implicits._
  private val rnd = new java.util.Random(h.opts.seed * 0x9E3779B97F4A7C15L + 202)
  // non-negative and overflow-free for any seed: the planted-pair rule
  // reads id residues
  private val base = Math.floorMod(h.opts.seed, 9000000L) * 1000000000L
  private var root: Path = _
  private var store: SnapshotStore = _
  private var corpus: DataFrame = _
  private var vectors: DataFrame = _
  private var vecArr: Array[(Long, Array[Float])] = _
  private val regime = MinHashRegime()

  private var batch = 0L
  private var queryId = 0L
  private val lineages = mutable.ArrayBuffer.empty[(OpRec, DataFrame, Long, Long)]
  private val takenDown = mutable.ArrayBuffer.empty[Long]
  // each batch's appended survivors, for the index-free paths' doc set
  private val appended = mutable.ArrayBuffer.empty[DataFrame]
  private val served = mutable.ArrayBuffer.empty[(OpRec, String, DataFrame, Array[Hit])]
  private var replaysSkipped = 0L

  /** One micro-batch: the ingest path carries most of the first-run plan
    * and JIT cost (measured 7.3 s cold against 4.6 s warm); the query
    * paths' first-run premium is 0.2-0.6 s each. */
  def warmup(): Unit = {
    microBatch(batch)
    batch += 1
  }

  private def docs(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, math.max(1, ((hi - lo) / 2500).toInt))
      .map(id => (id, Corpus.text(id))).toDF("doc_id", "text")

  def setup(dir: Path): Unit = {
    digest.reset()
    batch = 0L; queryId = 0L; replaysSkipped = 0L
    lineages.clear(); takenDown.clear(); served.clear(); appended.clear()
    root = dir.resolve("store")
    store = new SnapshotStore(root.toString, spark)
    // the crawl snapshot and the embeddings land as parquet
    val docDir = dir.resolve("docs").toString
    docs(base, base + BootstrapDocs).write.mode(SaveMode.Overwrite).parquet(docDir)
    corpus = spark.read.parquet(docDir)
    val vecDir = dir.resolve("vectors").toString
    spark.range(base, base + Vectors, 1, 4).map(id => ScaleBench.genEmb(id)).toDF()
      .select("vec_id", "embedding").write.mode(SaveMode.Overwrite).parquet(vecDir)
    vectors = spark.read.parquet(vecDir)
    var bytes = 0L
    (base until base + BootstrapDocs).foreach { id =>
      val t = Corpus.text(id)
      feed(t)
      bytes += t.length
    }
    vecArr = (base until base + Vectors).map { id =>
      val v = ScaleBench.genEmb(id).embedding
      feed(v)
      bytes += v.length * 4L
      (id, v)
    }.toArray
    h.addUserBytes(bytes)

    h.tracer.span("store.CurationIngest.build") {
      CurationIngest.build(store, Prefix, regime, corpus, "text", "doc_id")
    }
    h.tracer.span("store.Graft.buildTextIndex") {
      Graft.buildTextIndex(store, TextTable, corpus, "text", "doc_id")
    }
    h.tracer.span("store.TextIndex.refreshChampions") {
      TextIndex.refreshChampions(store, TextTable, m = ChampionM)
    }
    h.tracer.span("store.VectorIndex.build") {
      VectorIndex.build(store, VecTable, vectors, "vec_id", "embedding",
        dim = 64, seed = h.opts.seed)
    }
    if (h.opts.trace) h.probe = Some(new StoreProbe(root, store))
  }

  private def batchRange(b: Long): (Long, Long) = {
    val lo = base + BootstrapDocs + b * BatchDocs
    (lo, lo + BatchDocs)
  }

  /** One round, in this order: a micro-batch, a takedown, a second
    * micro-batch, maintenance, one batch of each query kind, and a
    * redelivery of the round's last batch and its takedown. */
  def round(): Unit = {
    val b = batch
    batch += 2
    microBatch(b)
    takedown(b)
    microBatch(b + 1)
    maintain()
    Seq("bm25", "maxscore", "champions", "phrase", "ann", "bm25_scan").foreach(query)
    replay(b + 1, b)
  }

  private def microBatch(b: Long): Unit = {
    val (lo, hi) = batchRange(b)
    val in = docs(lo, hi).cache()
    in.count() // the delivered batch is in memory before the op starts
    h.addUserBytes((lo until hi).map(id => Corpus.text(id).length.toLong).sum)
    val (ingest, lineage) = h.op("ingest") {
      h.tracer.span("store.CurationIngest.ingestBatchOnce") {
        CurationIngest.ingestBatchOnce(store, Prefix, regime, in, "text",
          "doc_id", StreamId, b)
      }
    }
    val (append, applied) = h.op("index_append") {
      val fresh = lineage.get.filter(col("regime") === "new").select(col("id").as("doc_id"))
      h.tracer.span("store.PhraseIndex.appendBatchOnce") {
        PhraseIndex.appendBatchOnce(store, TextTable,
          in.join(fresh, Seq("doc_id"), "left_semi"), "text", "doc_id", StreamId, b)
      }
    }
    if (applied.contains(false)) h.fail(append, s"batch $b skipped as a replay")
    lineage.foreach { l =>
      lineages += ((ingest, l, lo, hi))
      appended += docs(lo, hi).join(l.filter(col("regime") === "new")
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    }
    h.sample("write", ingest.ms + append.ms)
    in.unpersist()
  }

  /** Delete docs of batch `t` and earlier batches from the text index and the
    * near-dup index. Members of planted pairs are spared, so no expected
    * lineage depends on a takedown. */
  private def takedown(t: Long): Unit = {
    val ids = (1 to TakedownDocs).map { _ =>
      val (lo, _) = batchRange(rnd.nextInt(t.toInt + 1).toLong)
      var id = lo + rnd.nextInt(BatchDocs - 10)
      while (Corpus.planted(id)) id += 1
      id
    }.distinct
    h.addUserBytes(ids.size * 8L)
    val (rec, ok) = h.op("takedown") {
      val df = ids.toDF("doc_id")
      Seq(TextTable, CurationIngest.ndTable(Prefix)).map { table =>
        h.tracer.span("store.Graft.deleteDocsOnce") {
          Graft.deleteDocsOnce(store, table, df, TakedownStream, t)
        }
      }
    }
    if (ok.exists(_.contains(false))) h.fail(rec, s"takedown $t skipped as a replay")
    takenDown ++= ids
  }

  private def maintain(): Unit = {
    val (rec, _) = h.op("maintain") {
      h.tracer.span("store.Graft.maintainAll") {
        Graft.maintainAll(store, maxChainLength = MaxChain)
      }
    }
    // committed metadata only: no Spark work
    val probe = new StoreProbe(root, store)
    val long = probe.chainLengths.filter(_._2 > MaxChain)
    val tombs = probe.pendingTombs.filter(_._2 > 0)
    if (long.nonEmpty || tombs.nonEmpty)
      h.fail(rec, s"after maintainAll: chains $long, unfolded tombstones $tombs")
  }

  /** At-least-once redelivery of batch `b` and takedown `t`: each
    * exactly-once entry point must skip it. */
  private def replay(b: Long, t: Long): Unit = {
    val (rec, res) = h.op("replay") {
      val text = h.tracer.span("store.PhraseIndex.appendBatchOnce") {
        PhraseIndex.appendBatchOnce(store, TextTable, docs(0, 0), "text",
          "doc_id", StreamId, b)
      }
      val del = h.tracer.span("store.Graft.deleteDocsOnce") {
        Graft.deleteDocsOnce(store, CurationIngest.ndTable(Prefix),
          Seq.empty[Long].toDF("doc_id"), TakedownStream, t)
      }
      Seq(text, del)
    }
    res.foreach { applied =>
      if (applied.exists(identity)) h.fail(rec, "a redelivered batch was applied again")
      else replaysSkipped += applied.size
    }
  }

  /** The docs the text index serves: the bootstrap corpus plus every
    * appended survivor, less the taken-down docs. */
  private def liveDocs: DataFrame = {
    val all = appended.foldLeft(corpus)(_ unionByName _)
    if (takenDown.isEmpty) all
    else all.join(takenDown.distinct.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** Text queries: a few tokens of a random corpus doc, so each query
    * shares terms with at least one doc. */
  private def textQueries(n: Int, tokens: Int, contiguous: Boolean): Seq[(Long, String)] =
    (1 to n).map { _ =>
      val toks = Corpus.text(base + rnd.nextInt(BootstrapDocs)).split(" ")
      val q =
        if (contiguous) {
          val i = rnd.nextInt(toks.length - tokens)
          toks.slice(i, i + tokens)
        } else Array.fill(tokens)(toks(rnd.nextInt(toks.length)))
      queryId += 1
      (queryId, q.mkString(" "))
    }

  private def query(kind: String): Unit = {
    val queries: DataFrame = kind match {
      case "phrase" => textQueries(Batch, 2, contiguous = true).toDF("query_id", "phrase")
      case "ann" => (1 to Batch).map { _ =>
          queryId += 1
          // a fresh member of the corpus's clusters
          (queryId, ScaleBench.genEmb(base + Vectors + rnd.nextInt(Vectors)).embedding)
        }.toDF("query_id", "qvec")
      case _ => textQueries(Batch, 3, contiguous = false).toDF("query_id", "qtext")
    }
    val scanDocs = if (kind == "bm25_scan") liveDocs else null
    val (rec, rows) = h.op(kind) {
      val out = kind match {
        case "bm25" => h.tracer.span("store.TextIndex.query") {
          TextIndex.query(store, TextTable, queries, "query_id", "qtext", k = K).collect()
        }
        case "maxscore" => h.tracer.span("store.TextIndex.queryMaxScore") {
          TextIndex.queryMaxScore(store, TextTable, queries, "query_id", "qtext", k = K).collect()
        }
        case "champions" => h.tracer.span("store.TextIndex.queryChampions") {
          TextIndex.queryChampions(store, TextTable, queries, "query_id", "qtext", k = K).collect()
        }
        case "phrase" => h.tracer.span("store.PhraseIndex.phraseQuery") {
          PhraseIndex.phraseQuery(store, TextTable, queries, "query_id", "phrase").collect()
        }
        case "ann" => h.tracer.span("store.VectorIndex.queryRefined") {
          VectorIndex.queryRefined(store, VecTable, vectors, "vec_id", "embedding",
            queries, "query_id", "qvec", k = K).collect()
        }
        case "bm25_scan" => h.tracer.span("functions.Retrieval.bm25TopK") {
          Retrieval.bm25TopK(scanDocs, "doc_id", "text", queries, "query_id", "qtext", k = K).collect()
        }
      }
      out.map { r =>
        if (kind == "phrase") Hit(r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Number]("phrase_tf").doubleValue, 0)
        else Hit(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Number](if (kind == "ann") "sim" else "score").doubleValue,
          r.getAs[Number]("rank").intValue)
      }
    }
    h.sample("read", rec.ms)
    rows.foreach { hits =>
      if (kind != "phrase" && !Hit.wellFormed(hits, K))
        h.fail(rec, s"$kind result is not a ranked top-$K list")
      served += ((rec, kind, queries, hits))
    }
  }

  private var dupRatio = 0.0
  private var recall = 0.0

  def check(): Unit = {
    checkLineage()
    checkServed()
  }

  /** Every batch's lineage against the planted pairs. */
  private def checkLineage(): Unit = {
    var ingested, found, planted, missed = 0L
    lineages.foreach { case (rec, l, lo, hi) =>
      val got = l.select("id", "keep_id", "regime").as[(Long, Long, String)].collect()
      if (got.length != hi - lo) h.fail(rec, s"lineage has ${got.length} rows for ${hi - lo} docs")
      got.foreach { case (id, keep, regime) =>
        ingested += 1
        val want =
          if (id % 500 == 3) ("exact", id - 3)
          else if (id % 100 == 1) ("near", id - 1)
          else ("new", id)
        if (want._1 != "new") planted += 1
        if ((regime, keep) == want) { if (regime != "new") found += 1 }
        else if (want._1 == "near" && regime == "new" && keep == id) missed += 1
        else h.fail(rec, s"doc $id: lineage ($regime, $keep), planted $want")
      }
    }
    dupRatio = if (ingested == 0) 0.0 else found.toDouble / ingested
    if (missed > planted * MaxNearMissShare)
      h.failRun(s"MinHash missed $missed of $planted planted near-duplicates")
  }

  private def checkServed(): Unit = {
    val byKind = served.groupBy(_._2)
    def last(kind: String) = byKind.getOrElse(kind, Nil).takeRight(1)
    // One exact index query answers three checks, on the store as it is
    // now (nothing is written after a round's queries): taken-down docs
    // are never served (each one's own text as the query, ids negated to
    // keep them apart), and the last MaxScore and index-free scan batches
    // rank exactly like the exact path.
    val gone = takenDown.distinct.toSeq
    val ranked = Seq("maxscore", "bm25_scan").flatMap(last)
    val qs = (gone.map(id => (-id, Corpus.text(id))).toDF("query_id", "qtext") +:
      ranked.map(_._3)).reduce(_ unionByName _)
    val exact = TextIndex.query(store, TextTable, qs, "query_id", "qtext", k = K).collect()
      .map(r => Hit(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank")))
    val goneSet = gone.toSet
    val leaked = exact.count(x => goneSet(x.id))
    if (leaked > 0) h.failRun(s"$leaked results still serve taken-down docs")
    ranked.foreach { case (rec, kind, _, hits) =>
      val ids = hits.map(_.query).toSet
      if (!Hit.sameRanking(hits, exact.filter(x => ids(x.query))))
        h.fail(rec, s"$kind result differs from TextIndex.query")
    }
    // phrase hits against the index-free phrase scan
    last("phrase").foreach { case (rec, _, qs, hits) =>
      val truth = PhraseIndex.phraseScan(liveDocs, "text", "doc_id", qs, "query_id", "phrase")
        .select("query_id", "doc_id", "phrase_tf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).doubleValue)).toSet
      if (hits.map(x => (x.query, x.id, x.score)).toSet != truth)
        h.fail(rec, "phrase hits differ from PhraseIndex.phraseScan")
    }
    // ANN recall@10 against brute force over every vector
    var hit, total = 0L
    byKind.getOrElse("ann", Nil).foreach { case (rec, _, qs, hits) =>
      var opHit, opTotal = 0L
      qs.as[(Long, Array[Float])].collect().foreach { case (qid, v) =>
        val truth = CurateServe.bruteTopK(vecArr, v, K).toSet
        opHit += hits.count(x => x.query == qid && truth(x.id))
        opTotal += K
      }
      if (opHit.toDouble / opTotal < RecallFloor)
        h.fail(rec, f"ANN recall@$K ${opHit.toDouble / opTotal}%.3f below $RecallFloor")
      hit += opHit; total += opTotal
    }
    recall = if (total == 0) 0.0 else hit.toDouble / total
  }

  /** Each round's maintenance already left the store at rest: only
    * queries and skipped redeliveries follow it. */
  def settle(): Path = root

  override def layerValues: Map[String, Double] = Map(
    "store.replays_skipped" -> replaysSkipped.toDouble,
    "store.lineage.dup_ratio" -> dupRatio,
    "store.VectorIndex.recall_at_10" -> recall)

  def namedFigures(e2e: Map[String, Double]): Seq[(String, Double, String)] = {
    val wallS = h.wallMs(false) / 1000.0
    val m = h.measuredOps(false)
    Seq(("docs_per_s", m.count(_.kind == "ingest") * BatchDocs / wallS, "docs/s"),
      ("queries_per_s", m.count(o => QueryKinds(o.kind)) * Batch / wallS, "queries/s"),
      ("batch_p50_ms", e2e("write_p50_ms"), "ms"),
      ("query_p50_ms", e2e("read_p50_ms"), "ms"),
      ("planted_dup_ratio", PlantedDupRatio, "ratio"),
      ("lineage_dup_ratio", dupRatio, "ratio"),
      ("ann_recall_at_10", recall, "ratio"))
  }
}

object CurateServe {
  val Prefix = "cur"
  val TextTable = "docs_text"
  val VecTable = "emb_ivfpq"
  val StreamId = "crawl"
  val TakedownStream = "takedown"
  val BootstrapDocs = 4000
  /** The vector recipe spreads vectors over 1,024 clusters: 12,000 give
    * each query at least ten true neighbours in its own cluster, so
    * recall@10 measures the index, not noise-level ties (at 4,000, ~4
    * per cluster, a batch measured 0.76). */
  val Vectors = 12000
  val BatchDocs = 1000
  val TakedownDocs = 20
  val MaxChain = 4
  val ChampionM = 8
  val K = 10
  val Batch = 8
  val RecallFloor = 0.8
  val QueryKinds = Set("bm25", "maxscore", "champions", "phrase", "ann", "bm25_scan")
  /** exact (1 in 500) + near (1 in 100) */
  val PlantedDupRatio = 1.0 / 500 + 1.0 / 100
  /** MinHash LSH recall is probabilistic: a planted near-dup may miss its
    * bands. Misses beyond this share of the planted pairs fail the run. */
  val MaxNearMissShare = 0.01

  def bruteTopK(vs: Array[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    vs.map { case (id, v) =>
      var dot, vn = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * q(i); vn += v(i) * v(i); i += 1 }
      (id, dot / (math.sqrt(vn) * qn))
    }.sortBy(p => (-p._2, p._1)).take(k).map(_._1).toSeq
  }
}

/** Doc text: Zipfian tokens with the planted duplicates of
  * `ScaleBench.genDoc` (near: two tokens of the base doc replaced; exact:
  * a verbatim copy). A pure function of the id. */
object Corpus {
  def planted(id: Long): Boolean = id % 100 == 0 || id % 100 == 1 || id % 500 == 3

  def text(id: Long): String =
    if (id % 500 == 3) ScaleBench.genZipfDoc(id - 3).text
    else if (id % 100 == 1) {
      val toks = ScaleBench.genZipfDoc(id - 1).text.split(" ")
      val spare = ScaleBench.genZipfDoc(id + 0x5DEECE66DL).text.split(" ")
      for (pos <- Seq(toks.length - 1, toks.length / 2))
        toks(pos) = spare.find(_ != toks(pos)).get
      toks.mkString(" ")
    } else ScaleBench.genZipfDoc(id).text
}

/** One result row: (query, doc or neighbor, score or phrase_tf, rank). */
final case class Hit(query: Long, id: Long, score: Double, rank: Int)

object Hit {
  /** Per query: ranks 1..n without gaps, n ≤ k, scores non-increasing. */
  def wellFormed(hits: Array[Hit], k: Int): Boolean =
    hits.groupBy(_.query).values.forall { hs =>
      val s = hs.sortBy(_.rank)
      s.length <= k && s.map(_.rank).toSeq == (1 to s.length) &&
        s.sliding(2).forall(p => p.length < 2 || p(0).score >= p(1).score)
    }

  /** Same scores rank by rank, and the same docs except where a tie at the
    * last kept score lets either side keep different members. */
  def sameRanking(a: Array[Hit], b: Array[Hit]): Boolean = {
    val ga = a.groupBy(_.query)
    val gb = b.groupBy(_.query)
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    ga.keySet == gb.keySet && ga.keys.forall { q =>
      val x = ga(q).sortBy(_.rank)
      val y = gb(q).sortBy(_.rank)
      val last = y.last.score
      def above(s: Array[Hit]) = s.filter(h => h.score > last && !close(h.score, last)).map(_.id).toSet
      x.length == y.length && x.zip(y).forall { case (p, r) => close(p.score, r.score) } &&
        above(x) == above(y)
    }
  }
}
