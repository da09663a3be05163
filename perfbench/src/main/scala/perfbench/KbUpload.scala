package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.HashEmbedder
import graft.operators._

/** kb_upload: the private-knowledge-base lifecycle of many users.
  *
  * A round starts a fresh knowledge base (one file per user, uncounted),
  * then runs 18 steps in one fixed order (3 uploads, 5 asks, 3 lists,
  * 5 renames, 2 deletes) with an optimize after the 10th and the 18th;
  * the seed picks the files, users and questions. Every round does the same kinds of work
  * on a fresh table, so a run that gets through more rounds ends in the
  * same state as one that gets through fewer. Sorted by latency the kinds
  * run ask, list, rename, delete, optimize, upload, so the median falls
  * inside the renames (40% to 65% of the 20 operations).
  */
final class KbUpload(ctx: Ctx) extends Workload {
  import KbUpload._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  import spark.implicits._

  /** A file the ledger tracks: its owner, current name and chunks. */
  private final class File(val id: Long, val user: String, var name: String,
      val chunks: Seq[(Long, String, Array[Float])])

  private var base: Path = _
  private var dir: Path = _
  private var cat: Catalog = _
  private var packed: PackedScan = _
  private var bm25: Bm25Index = _
  /** Instances to unpersist at the next optimize or at round end. */
  private val stale = mutable.ArrayBuffer.empty[() => Unit]
  private val files = mutable.LinkedHashMap.empty[Long, File]
  private val deletedIds = mutable.HashSet.empty[Long]
  private var nextFile = 0L
  private var renames = 0
  private var bytesIn = 0L

  def dataBytes: Long = Main.dirBytes(dir)
  def inputBytes: Long = bytesIn

  def setUp(d: Path): Unit = base = d

  /** One whole round, uncounted. */
  def warmUp(run: Runner): Unit = round(run, -1)

  def round(run: Runner, n: Int): Unit = {
    endRound()
    start(s"round$n", ctx.seed * 1000003L + n)
    val r = new scala.util.Random(ctx.seed * 7919L + n)
    val kinds = if (ctx.smoke) SmokeOrder else Order
    kinds.zipWithIndex.foreach { case (k, i) =>
      step(run, k, r)
      if ((i + 1) % OptimizeEvery == 0 || i == kinds.length - 1) step(run, "optimize", r)
    }
    roundChecks(r)
  }

  def release(): Unit = endRound()

  // ---- round lifecycle -----------------------------------------------

  private def start(name: String, seed: Long): Unit = {
    dir = base.resolve(name)
    cat = Catalog(spark, dir.toString)
    files.clear(); deletedIds.clear(); nextFile = 0L; renames = 0; bytesIn = 0L
    val r = new scala.util.Random(seed)
    val first = Users.map(u => newFile(r, u))
    val batch = ingest(first)
    cat.create("kb", batch)
    packed = PackedScan.build(batch, "id", "vector", Seq("user_id"))
    bm25 = Bm25Index.build(batch, "id", "chunk_text", 0, Seq("user_id"))
    batch.unpersist()
    keep(packed, bm25)
  }

  private def keep(p: PackedScan, b: Bm25Index): Unit = {
    stale += (() => p.unpersist())
    stale += (() => b.unpersist())
  }

  private def endRound(): Unit = {
    stale.foreach(_())
    stale.clear()
    if (dir != null) Main.deleteTree(dir)
  }

  private def newFile(r: scala.util.Random, user: String): (Long, String, String, String) = {
    val id = nextFile
    nextFile += 1
    val text = Corpus.tokens(r, r.nextInt(Corpus.Topics), FileTokens).mkString(" ")
    val f = new File(id, user, s"file$id.txt", Corpus.chunks(text).map { case (ci, c) =>
      (id * Pipeline.IdStride + ci, c, HashEmbedder.embed(c))
    })
    files(id) = f
    bytesIn += text.length + f.chunks.length * 4L * HashEmbedder.DefaultDim
    (id, user, f.name, text)
  }

  /** Chunk, filter and embed an upload, materialized once: it feeds the
    * table append and both serving tiers.
    */
  private def ingest(rows: Seq[(Long, String, String, String)]): DataFrame = {
    val docs = rows.toDF("file_id", "user_id", "file_name", "text")
    val out = Pipeline.chunkEmbed(docs, "file_id", "file_name", "text", Seq("user_id", "file_name"))
      .persist(StorageLevel.MEMORY_ONLY)
    out.count()
    out
  }

  // ---- steps -----------------------------------------------------------

  private def live(user: String): Seq[File] = files.values.filter(_.user == user).toSeq

  private def step(run: Runner, kind: String, r: scala.util.Random): Unit = kind match {
    case "upload" =>
      val row = newFile(r, Users(r.nextInt(Users.length)))
      run.op(kind) {
        val batch = tr.span("ingest.upload")(ingest(Seq(row)))
        tr.span("catalog.append")(cat.append("kb", batch))
        packed = tr.span("packedscan.insert")(packed.insert(batch, "id", "vector"))
        bm25 = tr.span("bm25.insert")(bm25.insert(batch, "id", "chunk_text"))
        batch.unpersist()
      }
      keep(packed, bm25)

    case "ask" =>
      val user = Users(r.nextInt(Users.length))
      val text = Corpus.queryText(r)
      val raw = s"""{"query": "$text", "filter": "eq(\\"user_id\\", \\"$user\\")"}"""
      val got = run.op(kind) {
        val req = tr.span("selfquery.parse")(SelfQueryParser.parseRequest(raw))
        val q = tr.span("embed.query")(HashEmbedder.embed(req.query))
        val near = tr.span("packedscan.topk")(packed.topK(q, K, req.filter))
        val lex = tr.span("bm25.topk")(bm25.topK(Corpus.bm25Tokens(req.query).toSeq, K, req.filter))
        (near, lex)
      }
      got.foreach { case (near, lex) =>
        val mine = live(user).flatMap(_.chunks)
        val qv = HashEmbedder.embed(text)
        val want = Corpus.bruteTopK(mine.map(_._1).toArray, mine.map(_._3).toArray, _ => true, qv, K)
        val dist = mine.map(c => c._1 -> Corpus.cosineDistance(c._3, qv)).toMap
        ctx.check(Corpus.sameTopK(near.toSeq, want.toSeq, dist.get, 1e-9),
          s"kb_upload: ask for $user got ${near.toSeq}, expected ${want.toSeq}")
        val ok = mine.map(_._1).toSet
        ctx.check(lex.forall(x => ok(x._1)),
          s"kb_upload: BM25 ask for $user returned ids outside the user's live files: ${lex.map(_._1).toSeq}")
      }

    case "list" =>
      val user = Users(r.nextInt(Users.length))
      val got = run.op(kind)(listing(user))
      got.foreach { m =>
        val want = live(user).map(f => f.name -> f.chunks.length.toLong).filter(_._2 > 0).toMap
        ctx.check(m == want, s"kb_upload: list for $user is $m, expected $want")
      }

    case "rename" =>
      val f = pick(r)
      val to = s"file${f.id}-v${renames}.txt"
      renames += 1
      val ok = run.op(kind) {
        tr.span("catalog.update")(cat.updateWhereLight("kb",
          col("user_id") === f.user && col("file_name") === f.name,
          Map("file_name" -> lit(to))))
      }
      if (ok.isDefined) f.name = to

    case "delete" =>
      val f = pick(r)
      val got = run.op(kind) {
        val where = col("user_id") === f.user && col("file_name") === f.name
        val ids = tr.span("catalog.read")(
          cat.readRaw("kb").filter(where).select("id").as[Long].collect())
        tr.span("catalog.delete")(cat.deleteWhereLight("kb", where))
        tr.span("packedscan.delete")(packed.delete(ids))
        tr.span("bm25.delete")(bm25.delete(ids))
        ids
      }
      got.foreach { ids =>
        ctx.check(ids.sorted.toSeq == f.chunks.map(_._1).sorted,
          s"kb_upload: delete of ${f.name} found ids ${ids.sorted.toSeq}, expected ${f.chunks.map(_._1).sorted}")
        files.remove(f.id)
        deletedIds ++= f.chunks.map(_._1)
      }

    case "optimize" =>
      run.op(kind) {
        tr.span("catalog.optimize") {
          // what OPTIMIZE TABLE does to a plain MergeTree table: fold the
          // delete-mask and patch sidecars into the parts
          if (cat.hasDeletes("kb") || cat.hasPatches("kb"))
            cat.replaceContents("kb", cat.readRaw("kb"))
        }
        val p = tr.span("packedscan.compact")(packed.compact())
        val b = tr.span("bm25.compact")(bm25.compact())
        stale.foreach(_())
        stale.clear()
        packed = p
        bm25 = b
      }
      keep(packed, bm25)
  }

  /** A file of a user who has one. */
  private def pick(r: scala.util.Random): File = {
    val owners = Users.filter(u => live(u).nonEmpty)
    val fs = live(owners(r.nextInt(owners.length)))
    fs(r.nextInt(fs.length))
  }

  /** Chunk count per file of one user, through vector-SQL text. */
  private def listing(user: String): Map[String, Long] = {
    tr.span("catalog.read")(cat.readRaw("kb")).createOrReplaceTempView("kb")
    val sql = tr.span("chsql.rewrite")(ChSql.rewrite(
      s"SELECT file_name, count(*) AS n FROM kb PREWHERE user_id == '$user' GROUP BY file_name"))
    tr.span("catalog.list")(spark.sql(sql).as[(String, Long)].collect().toMap)
  }

  /** The table against the ledger at the end of a round: every user's
    * listing, and exact top-k over the whole table against brute force.
    */
  private def roundChecks(r: scala.util.Random): Unit = {
    Users.foreach { u =>
      val want = live(u).map(f => f.name -> f.chunks.length.toLong).filter(_._2 > 0).toMap
      val got = listing(u)
      ctx.check(got == want, s"kb_upload: end-of-round list for $u is $got, expected $want")
    }
    val all = files.values.toSeq.flatMap(_.chunks)
    val table = cat.readRaw("kb").select("id", "vector").as[(Long, Array[Float])].collect()
    ctx.check(table.map(_._1).sorted.toSeq == all.map(_._1).sorted,
      s"kb_upload: table ids differ from the ledger at round end")
    ctx.check(table.forall(t => !deletedIds(t._1)), "kb_upload: a deleted id is still in the table")
    (0 until 2).foreach { _ =>
      val qv = HashEmbedder.embed(Corpus.queryText(r))
      val got = Corpus.bruteTopK(table.map(_._1), table.map(_._2), _ => true, qv, K)
      val want = Corpus.bruteTopK(all.map(_._1).toArray, all.map(_._3).toArray, _ => true, qv, K)
      ctx.check(got.map(_._1).toSeq == want.map(_._1).toSeq,
        s"kb_upload: exact top-$K over the table ${got.toSeq} differs from the ledger's ${want.toSeq}")
      val served = packed.topK(qv, K)
      val dist = all.map(c => c._1 -> Corpus.cosineDistance(c._3, qv)).toMap
      ctx.check(Corpus.sameTopK(served.toSeq, want.toSeq, dist.get, 1e-9),
        s"kb_upload: PackedScan top-$K at round end ${served.toSeq} differs from the ledger's ${want.toSeq}")
    }
  }
}

object KbUpload {
  val K = 5
  val Users: Array[String] = Array.tabulate(6)(i => s"u$i")
  /** Every file is 8 chunks long, so a round's end state has the same
    * size whatever the seed.
    */
  val FileTokens = 120
  /** Step counts per round; optimize runs after the 10th and the last. */
  val Steps: Map[String, Int] =
    Map("upload" -> 3, "ask" -> 5, "list" -> 3, "rename" -> 5, "delete" -> 2)
  val OptimizeEvery = 10
  /** One fixed order for every round and seed: the order decides how
    * many files and sidecars the table carries at each step, so a
    * seeded order would move every figure with the seed.
    */
  val Order: Seq[String] =
    new scala.util.Random(20261018L).shuffle(Steps.toSeq.sorted.flatMap { case (k, c) => Seq.fill(c)(k) })
  val SmokeOrder: Seq[String] = Seq("upload", "ask", "list", "rename", "delete")
}
