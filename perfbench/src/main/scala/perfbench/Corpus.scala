package perfbench

import scala.collection.mutable

/** Seeded inputs and the plain-Scala references the checks compare with.
  *
  * Documents have the shape of graft's sf0.1 `documents` table: columns
  * (doc_id, text, lang, source, n_chars), 10 to 100 whitespace tokens,
  * five languages in sf0.1's shares, 20 sources, and sf0.1's 30-word
  * vocabulary as background words. 65% of the tokens come from one of
  * [[Topics]] topic vocabularies instead, so embeddings cluster by topic
  * the way real corpora do and an IVF index has structure to route on.
  */
object Corpus {

  /** The sf0.1 `documents` vocabulary (all 30 words, uniform there). */
  val Background: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  val Topics = 16
  val TopicWords = 40
  val Langs: Array[String] = Array("en", "zh", "de", "es", "fr")
  /** sf0.1 shares: en 41%, the other four about 15% each. */
  private val LangCum = Array(0.41, 0.56, 0.70, 0.85, 1.0)
  val Sources = 20

  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ze", "pa", "qu", "bo", "di", "fe", "gu", "ho")

  /** Topic word `i` of topic `t`: three syllables, unique per (t, i). */
  def topicWord(t: Int, i: Int): String =
    Syl(t) + Syl(i % 16) + Syl((i / 16 + t) % 16)

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  def lang(r: scala.util.Random): String = {
    val u = r.nextDouble()
    Langs(LangCum.indexWhere(u < _))
  }

  /** `n` tokens: a `background` share of sf0.1 words (uniform), the rest
    * topic words skewed toward the topic's first words.
    */
  def tokens(r: scala.util.Random, topic: Int, n: Int, background: Double = 0.35): Array[String] =
    Array.fill(n) {
      if (r.nextDouble() < background) Background(r.nextInt(Background.length))
      else {
        val u = r.nextDouble()
        topicWord(topic, (u * u * TopicWords).toInt)
      }
    }

  def docs(seed: Long, n: Int, firstId: Long = 0L): Array[Doc] = {
    val r = new scala.util.Random(seed)
    Array.tabulate(n) { i =>
      val id = firstId + i
      val topic = r.nextInt(Topics)
      val len = 10 + r.nextInt(91)
      Doc(id, tokens(r, topic, len).mkString(" "), lang(r), s"src${id % Sources}")
    }
  }

  /** `docs` with, in `share` of them, a span of `spanTokens` tokens
    * copied from another document spliced in at a random place. Plain
    * replication would make every document a duplicate; a spliced span
    * leaves the rest of each document unique.
    */
  def withDuplicateSpans(docs: Array[Doc], seed: Long, share: Double,
      spanTokens: Int): Array[Doc] = {
    val n = docs.length
    val r = new scala.util.Random(seed ^ 0xd0b1e)
    val out = docs.clone()
    r.shuffle((0 until n).toVector).take((n * share).round.toInt).foreach { i =>
      val from = docs((i + 1 + r.nextInt(n - 1)) % n).text.split(" ")
      val at = r.nextInt(math.max(1, from.length - spanTokens))
      val own = docs(i).text.split(" ")
      val cut = r.nextInt(own.length + 1)
      out(i) = docs(i).copy(text =
        (own.take(cut) ++ from.slice(at, at + spanTokens) ++ own.drop(cut)).mkString(" "))
    }
    out
  }

  /** A query of 3 to 6 topic words. */
  def queryText(r: scala.util.Random): String =
    tokens(r, r.nextInt(Topics), 3 + r.nextInt(4), background = 0.0).mkString(" ")

  // ---- chunking: Ingest.chunk + Ingest.narrativeFilter, recomputed ------

  val ChunkTokens = 15

  /** (chunk_idx, chunk_text) kept by the ingest pipeline: 15-token
    * windows of the whitespace-split text, kept when they have more than
    * 10 words.
    */
  def chunks(text: String): Seq[(Int, String)] =
    text.trim.split("\\s+").filter(_.nonEmpty).grouped(ChunkTokens)
      .map(_.mkString(" ")).zipWithIndex
      .collect { case (c, i) if c.split(" ").length > 10 => (i, c) }.toSeq

  // ---- vectors: double-precision brute force ---------------------------

  def cosineDistance(x: Array[Float], q: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var nq = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i).toDouble * q(i); nx += x(i).toDouble * x(i); nq += q(i).toDouble * q(i)
      i += 1
    }
    1.0 - dot / (math.sqrt(nx) * math.sqrt(nq))
  }

  /** Exact top-k (id, distance) ascending by (distance, id). */
  def bruteTopK(ids: Array[Long], vecs: Array[Array[Float]], keep: Int => Boolean,
      q: Array[Float], k: Int): Array[(Long, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < ids.length) {
      if (keep(i)) out += ((ids(i), cosineDistance(vecs(i), q)))
      i += 1
    }
    out.sortBy { case (id, d) => (d, id) }.take(k).toArray
  }

  // ---- BM25: k1 = 1.2, b = 0.75 ----------------------------------------

  /** Lowercase, split on non-alphanumerics, drop empties. */
  def bm25Tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  final class Bm25Ref(ids: Array[Long], texts: Array[String]) {
    private val tfs: Array[Map[String, Int]] = texts.map { t =>
      bm25Tokens(t).groupBy(identity).map { case (w, ws) => w -> ws.length }
    }
    private val dls: Array[Long] = texts.map(t => bm25Tokens(t).length.toLong)
    private val n = ids.length.toDouble
    private val avg = dls.sum.toDouble / ids.length
    private val df: Map[String, Int] =
      tfs.flatMap(_.keys).groupBy(identity).map { case (w, ws) => w -> ws.length }

    /** Score of every kept row that holds at least one query term. */
    def scores(query: String, keep: Int => Boolean): Map[Long, Double] = {
      val k1 = 1.2; val b = 0.75
      val terms = bm25Tokens(query).distinct
      val out = Map.newBuilder[Long, Double]
      var i = 0
      while (i < ids.length) {
        if (keep(i)) {
          var s = 0.0
          var hit = false
          terms.foreach { t =>
            tfs(i).get(t).foreach { tf =>
              val d = df(t).toDouble
              val idf = math.log((n - d + 0.5) / (d + 0.5) + 1.0)
              s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dls(i) / avg))
              hit = true
            }
          }
          if (hit) out += ids(i) -> s
        }
        i += 1
      }
      out.result()
    }
  }

  /** Top-k (id, score) ranked by the score rounded to 6 decimals,
    * descending, ties by id.
    */
  def topByScore(scores: Map[Long, Double], k: Int): Array[(Long, Double)] =
    scores.toArray.sortBy { case (id, s) => (-round6(s), id) }.take(k)

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Whether `got` is the exact top-k `want`, up to float noise: scores
    * agree position by position within `eps`, and an id may differ only
    * where its reference score ties the k-th score within `eps`.
    * `score` gives the reference score of any id.
    */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      score: Long => Option[Double], eps: Double): Boolean = {
    if (got.length != want.length) return false
    if (want.isEmpty) return true
    val scoresAgree = got.zip(want).forall { case ((_, a), (_, b)) => math.abs(a - b) <= eps }
    val edge = want.last._2
    val gotIds = got.map(_._1).toSet
    val wantIds = want.map(_._1).toSet
    val missing = wantIds -- gotIds
    val extra = gotIds -- wantIds
    scoresAgree && gotIds.size == got.length &&
      want.forall { case (id, s) => !missing(id) || math.abs(s - edge) <= eps } &&
      extra.forall(id => score(id).exists(s => math.abs(s - edge) <= eps))
  }

  // ---- ExactSubstr dedup, recomputed -----------------------------------

  /** Per document: (clean text, removed token count). A token is removed
    * exactly when it lies in an `l`-token window whose text occurs at
    * least twice in the whole input (within one document or across two).
    */
  def exactSubstrClean(docs: Seq[(Long, String)], l: Int): Map[Long, (String, Long)] = {
    val toks = docs.map { case (id, t) => id -> bm25Tokens(t) }
    val occ = mutable.HashMap.empty[String, Int]
    toks.foreach { case (_, ts) =>
      ts.sliding(l).filter(_.length == l).foreach { w =>
        val g = w.mkString(" ")
        occ(g) = occ.getOrElse(g, 0) + 1
      }
    }
    toks.map { case (id, ts) =>
      val cut = new Array[Boolean](ts.length)
      var p = 0
      while (p + l <= ts.length) {
        if (occ(ts.slice(p, p + l).mkString(" ")) > 1)
          (p until p + l).foreach(cut(_) = true)
        p += 1
      }
      id -> (ts.indices.filterNot(cut).map(ts).mkString(" "), cut.count(identity).toLong)
    }.toMap
  }
}
