package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.functions.HashEmbedder
import graft.operators._

/** rag_query: one chat turn's retrieval against a knowledge base that
  * set-up builds and pins. A round is 40 requests in seeded order:
  * 14 self-query envelopes served exactly by PackedScan, 10 served by
  * IvfGraph, 6 vector-SQL texts through ChSql over the Catalog table,
  * and 10 keyword BM25 requests. Nothing is written after set-up.
  *
  * Set-up is the bulk build: staged
  * documents go through ExactSubstr dedup, chunk/filter/embed, a Catalog
  * write, k-means (AnnIndex.fit), the IvfGraph and BM25 builds and both
  * index saves, and the serving tiers are pinned in the ServingCache.
  */
final class RagQuery(ctx: Ctx) extends Workload {
  import RagQuery._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  import spark.implicits._
  private val nDocs = if (ctx.smoke) 50 else 800
  private val nClusters = if (ctx.smoke) 4 else 16

  private var dir: Path = _
  private var cat: Catalog = _
  private var kb: DataFrame = _
  private var clean: DataFrame = _
  private var indexed: DataFrame = _
  private var model: AnnIndex.Model = _
  private var key = ""
  private var docs: Array[Corpus.Doc] = _
  private var bytesIn = 0L

  // the benchmark's own copy of the knowledge base
  private var cleanRef: Map[Long, (String, Long)] = _
  private var ids: Array[Long] = _
  private var vecs: Array[Array[Float]] = _
  private var langs: Array[String] = _
  private var sources: Array[String] = _
  private var nChars: Array[Long] = _
  private var pos: Map[Long, Int] = _
  private var bm25Ref: Corpus.Bm25Ref = _
  private var recallHits = 0L
  private var recallWant = 0L

  def inputBytes: Long = bytesIn
  def dataBytes: Long = Seq("tables", "ivfgraph", "bm25").map(d => Main.dirBytes(dir.resolve(d))).sum

  def setUp(d: Path): Unit = {
    dir = d
    docs = Corpus.withDuplicateSpans(Corpus.docs(ctx.seed, nDocs), ctx.seed, DupShare, SpanTokens)
    val staged = dir.resolve("input/docs").toString
    tr.span("stage")(docs.toSeq.map(x => (x.id, x.text, x.lang, x.source, x.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(staged))
    val raw = spark.read.parquet(staged)
    clean = tr.span("dedup.clean") {
      val c = Dedup.exactSubstrClean(raw, "doc_id", "text", L).persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    val chunks = tr.span("ingest.chunk_embed")(Pipeline.chunkEmbed(
      clean.join(raw.select("doc_id", "lang", "source"), "doc_id"),
      "doc_id", "source", "clean_text", Meta))
    cat = Catalog(spark, dir.resolve("tables").toString)
    tr.span("catalog.write")(cat.create("kb", chunks))
    kb = cat.readRaw("kb")
    key = s"rag#$dir"
    tr.span("packedscan.build")(packed())
    val fitted = tr.span("annindex.fit")(AnnIndex.fit(kb, "vector", "id", nClusters, Iters))
    model = fitted._1
    indexed = fitted._2
    val ivf = tr.span("ivfgraph.build")(ivfGraph())
    val ix = tr.span("bm25.build")(bm25())
    tr.span("ivfgraph.save")(IvfGraph.save(spark, ivf, dir.resolve("ivfgraph").toString))
    tr.span("bm25.save")(Bm25Index.save(spark, ix, dir.resolve("bm25").toString))

  }

  /** The benchmark's own copy of the knowledge base, and the build's
    * outputs against it: the dedup cut, the chunk count, and the saved
    * indexes loaded back.
    */
  override def checkSetUp(): Unit = {
    cleanRef = Corpus.exactSubstrClean(docs.toSeq.map(x => x.id -> x.text), L)
    val rows = for (doc <- docs.toSeq; (ci, text) <- Corpus.chunks(cleanRef(doc.id)._1))
      yield (doc.id * Pipeline.IdStride + ci, text, doc)
    ids = rows.map(_._1).toArray
    val texts = rows.map(_._2).toArray
    vecs = texts.map(t => HashEmbedder.embed(t))
    langs = rows.map(_._3.lang).toArray
    sources = rows.map(_._3.source).toArray
    nChars = texts.map(_.length.toLong)
    pos = ids.zipWithIndex.toMap
    bm25Ref = new Corpus.Bm25Ref(ids, texts)
    bytesIn = docs.map(_.text.length.toLong).sum + ids.length * 4L * HashEmbedder.DefaultDim

    val n = kb.count()
    ctx.check(n == ids.length, s"rag_query: knowledge base has $n chunks, expected ${ids.length}")
    val cleaned = clean.select("doc_id", "clean_text", "dup_tokens").as[(Long, String, Long)].collect()
    ctx.check(cleaned.length == docs.length, s"rag_query: dedup returned ${cleaned.length} documents")
    val wrong = cleaned.filterNot { case (id, t, c) => cleanRef.get(id).contains((t, c)) }
    ctx.check(wrong.isEmpty, s"rag_query: dedup output differs from the L-gram reference for " +
      s"${wrong.length} documents, e.g. ${wrong.headOption}")
    ctx.check(ctx.smoke || cleaned.map(_._3).sum > 0,
      "rag_query: dedup removed nothing from a corpus with spliced spans")

    val r = new scala.util.Random(ctx.seed ^ 0x1f)
    val qs = Array.fill(10)(HashEmbedder.embed(Corpus.queryText(r)))
    val terms = Seq.fill(10)(Corpus.bm25Tokens(Corpus.queryText(r)).toSeq)
    val ivf2 = IvfGraph.load(spark, dir.resolve("ivfgraph").toString)
    val bm2 = Bm25Index.load(spark, dir.resolve("bm25").toString)
    try {
      ctx.check(ivf2.topKBatch(qs, K, NProbe, Ef)._1.map(_.toSeq).toSeq ==
        ivfGraph().topKBatch(qs, K, NProbe, Ef)._1.map(_.toSeq).toSeq,
        "rag_query: the loaded IvfGraph answers differently from the built one")
      ctx.check(bm2.topKBatch(terms, K).map(_.toSeq).toSeq == bm25().topKBatch(terms, K).map(_.toSeq).toSeq,
        "rag_query: the loaded BM25 index answers differently from the built one")
    } finally { ivf2.unpersist(); bm2.unpersist() }
  }

  private def ivfGraph(): IvfGraph =
    IvfGraph.buildCached(indexed, model, key, "id", "vector", 12, 64, Meta)

  private def packed(): PackedScan =
    PackedScan.buildCached(kb, key, "id", "vector", Meta)

  private def bm25(): Bm25Index =
    Bm25Index.buildCached(kb, key, "id", "chunk_text", 0, Meta)

  def warmUp(run: Runner): Unit = {
    // most of the JIT compilation of the serving paths happens here
    (1 to WarmRounds).foreach(i => round(run, -i))
  }

  def round(run: Runner, n: Int): Unit = {
    val r = new scala.util.Random(ctx.seed * 1000003L + n)
    r.shuffle(Kinds.flatMap(k => Seq.fill(PerRound(k))(k))).foreach(request(run, _, r))
  }

  override def finish(): Unit = {
    val recall = if (recallWant == 0) 1.0 else recallHits.toDouble / recallWant
    System.err.println(f"perfbench: rag_query IvfGraph recall@10 = $recall%.4f (floor $RecallFloor)")
    ctx.check(recall >= RecallFloor, f"rag_query: IvfGraph recall@10 $recall%.4f < $RecallFloor")
  }

  def release(): Unit = {
    ServingCache.evictAll()
    Seq(indexed, kb, clean).filter(_ != null).foreach(_.unpersist())
  }

  /** A seeded metadata filter: self-query text, PREWHERE text, and the
    * benchmark's own predicate over its copy of the rows.
    */
  private def filter(r: scala.util.Random, sql: Boolean): (String, String, Int => Boolean) = {
    val l = Corpus.Langs(r.nextInt(Corpus.Langs.length))
    val n = 60 + r.nextInt(30)
    val s = Seq.fill(3)(s"src${r.nextInt(Corpus.Sources)}").distinct
    r.nextInt(if (sql) 4 else 5) match {
      case 0 => (s"""eq("lang", "$l")""", s"lang == '$l'", i => langs(i) == l)
      case 1 => (s"""and(eq("lang", "$l"), gt("n_chars", $n))""",
        s"lang = '$l' AND n_chars > $n", i => langs(i) == l && nChars(i) > n)
      case 2 => (s"""in("source", [${s.map("\"" + _ + "\"").mkString(", ")}])""",
        s"source IN (${s.map("'" + _ + "'").mkString(", ")})", i => s.contains(sources(i)))
      case 3 => (s"""and(gte("n_chars", $n), ne("lang", "en"))""",
        s"n_chars >= $n AND lang <> 'en'", i => nChars(i) >= n && langs(i) != "en")
      case _ => ("NO_FILTER", "", _ => true)
    }
  }

  private def envelope(query: String, f: String): String =
    s"""```json
       |{
       |    "query": "$query",
       |    "filter": "${f.replace("\"", "\\\"")}"
       |}
       |```""".stripMargin

  private def brute(q: String, keep: Int => Boolean): Array[(Long, Double)] =
    Corpus.bruteTopK(ids, vecs, keep, HashEmbedder.embed(q), K)

  private def distOf(q: Array[Float])(id: Long): Option[Double] =
    pos.get(id).map(i => Corpus.cosineDistance(vecs(i), q))

  private def request(run: Runner, kind: String, r: scala.util.Random): Unit = {
    val text = Corpus.queryText(r)
    kind match {
      case "selfquery_exact" | "selfquery_ivf" =>
        val (f, _, keep) = filter(r, sql = false)
        val raw = envelope(text, f)
        val got = run.op(kind) {
          val req = tr.span("selfquery.parse")(SelfQueryParser.parseRequest(raw))
          val q = tr.span("embed.query")(HashEmbedder.embed(req.query))
          if (kind == "selfquery_exact") {
            val ps = tr.span("servingcache.get")(packed())
            tr.span("packedscan.topk")(ps.topK(q, K, req.filter))
          } else {
            val g = tr.span("servingcache.get")(ivfGraph())
            val (res, visited) = tr.span("ivfgraph.topk")(g.topK(q, K, NProbe, Ef, req.filter))
            tr.count("ivfgraph.visited", visited)
            res
          }
        }
        got.foreach { res =>
          val want = brute(text, keep)
          val qv = HashEmbedder.embed(text)
          if (kind == "selfquery_exact")
            ctx.check(Corpus.sameTopK(res.toSeq, want.toSeq, distOf(qv), 1e-9),
              s"rag_query: PackedScan top-$K for '$raw' is ${res.toSeq}, expected ${want.toSeq}")
          else {
            ctx.check(res.forall { case (id, d) =>
              pos.get(id).exists(keep) && distOf(qv)(id).exists(x => math.abs(x - d) <= 1e-9)
            }, s"rag_query: IvfGraph returned a row outside its filter or a wrong distance for '$raw'")
            recallHits += res.map(_._1).toSet.intersect(want.map(_._1).toSet).size
            recallWant += want.length
          }
        }
      case "vector_sql" =>
        val (_, where, keep) = filter(r, sql = true)
        val sqlText =
          s"""SELECT id, distance(vector, NeuralArray('$text')) AS dist
             |FROM kb
             |PREWHERE $where
             |ORDER BY distance(vector, NeuralArray('$text')), id
             |LIMIT $K""".stripMargin
        val got = run.op(kind) {
          tr.span("catalog.read")(cat.readRaw("kb")).createOrReplaceTempView("kb")
          // ChSql.sql's own path for text without SETTINGS, one call per phase
          val rewritten = tr.span("chsql.rewrite")(ChSql.rewrite(sqlText))
          val df = tr.span("chsql.plan") {
            val d = spark.sql(rewritten)
            d.queryExecution.executedPlan
            d
          }
          tr.span("chsql.exec")(df.collect()).map(row => (row.getLong(0), row.getDouble(1)))
        }
        got.foreach { res =>
          val want = brute(text, keep)
          ctx.check(Corpus.sameTopK(res.toSeq, want.toSeq, distOf(HashEmbedder.embed(text)), 1e-9),
            s"rag_query: vector-SQL top-$K for [$sqlText] is ${res.toSeq}, expected ${want.toSeq}")
        }
      case "bm25" =>
        val terms = Corpus.bm25Tokens(text).toSeq
        val got = run.op(kind) {
          val ix = tr.span("servingcache.get")(bm25())
          tr.span("bm25.topk")(ix.topK(terms, K)).map { case (id, _, s) => (id, s) }
        }
        got.foreach { res =>
          val all = bm25Ref.scores(text, _ => true)
          val want = Corpus.topByScore(all, K)
          ctx.check(Corpus.sameTopK(res.toSeq, want.toSeq, all.get, 2e-6),
            s"rag_query: BM25 top-$K for '$text' is ${res.toSeq}, expected ${want.toSeq}")
        }
    }
  }
}

object RagQuery {
  val K = 10
  val WarmRounds = 3
  /** ExactSubstr window length in tokens. */
  val L = 10
  /** Share of documents with a span copied from another one. */
  val DupShare = 0.1
  val SpanTokens = 24
  /** Lloyd iterations of the k-means fit. */
  val Iters = 2
  val NProbe = 6
  val Ef = 128
  /** IvfGraph recall@10 against the exact top-10, over a run's requests. */
  val RecallFloor = 0.8
  val Meta: Seq[String] = Seq("lang", "source", "n_chars")
  val Kinds: Seq[String] = Seq("selfquery_exact", "selfquery_ivf", "vector_sql", "bm25")
  val PerRound: Map[String, Int] =
    Map("selfquery_exact" -> 14, "selfquery_ivf" -> 10, "vector_sql" -> 6, "bm25" -> 10)
}
