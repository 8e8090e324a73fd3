package ragbench

import java.util.SplittableRandom

/** A generated document: `dupOf` names the original an exact or near
  * duplicate was copied from (-1 for an original).
  */
final case class Doc(id: Long, text: String, dupOf: Long, exact: Boolean)

/** A query: the terms feed the lexical arm, the text the dense arm. */
final case class Query(id: Long, terms: Seq[String], text: String)

/** Seeded input generator. Every document is a pure function of
  * (seed, id), so a range of ids generates identically whatever else is
  * generated in the same run — the update deltas of the serve workload and the
  * serving base can be drawn independently.
  *
  * Shape: a base corpus of [[BaseDocs]] documents of 10–100 tokens drawn
  * uniformly from the 30-word vocabulary of the repository's
  * `documents` table (same length range), replicated with id remap
  * (`id % BaseDocs` names the base document). Each copy replaces [[PerturbShare]] of its token
  * positions with words drawn Zipf-distributed from a large synthetic
  * vocabulary, so copies are not near duplicates of one another and
  * lexical queries see a realistic skew of document frequencies. A set
  * share of documents is then an exact copy ([[ExactDupShare]]) or a
  * one-token edit ([[NearDupShare]]) of an earlier original, so that
  * dedup has a known amount of work.
  */
object Gen {
  val BaseWords: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val BaseDocs = 1250
  val DocsPerPage = 16
  val VocabSize = 50000
  val ZipfExponent = 1.07
  val PerturbShare = 0.25
  val ExactDupShare = 0.04
  val NearDupShare = 0.04
  /** Near duplicates are edited copies of originals at least this long,
    * so one changed token keeps their shingle Jaccard above the 0.8 gate.
    */
  val NearDupMinTokens = 40
  /** Duplicates copy an original at most this many ids back. */
  val DupWindow = 200

  /** The synthetic vocabulary, most frequent first: consonant-vowel
    * syllable strings, skipping any that collide with a base word.
    */
  lazy val vocab: Array[String] = {
    val cs = "bcdfghjklmnprstvwz"
    val vs = "aeiou"
    val syl = for (c <- cs; v <- vs) yield s"$c$v"
    val base = BaseWords.toSet
    Iterator.from(syl.length).map { r0 =>
      var r = r0; val sb = new StringBuilder
      while (r > 0) { sb.insert(0, syl(r % syl.length)); r /= syl.length }
      sb.toString
    }.filterNot(base).take(VocabSize).toArray
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfExponent))
    var acc = 0.0
    w.map { x => acc += x; acc }
  }

  def zipfWord(rng: SplittableRandom): String = {
    val u = rng.nextDouble() * zipfCdf.last
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  /** An independent random stream per (seed, purpose, index). */
  def rng(seed: Long, purpose: Int, index: Long): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + purpose * 0xC2B2AE3D27D4EB4FL + index
    h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
    h = (h ^ (h >>> 33)) * 0xC4CEB9FE1A85EC53L
    new SplittableRandom(h ^ (h >>> 33))
  }

  private def baseTokens(seed: Long, b: Int): Array[String] = {
    val r = rng(seed, 1, b)
    Array.fill(10 + r.nextInt(91))(BaseWords(r.nextInt(BaseWords.length)))
  }

  private def original(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 2, id)
    baseTokens(seed, (id % BaseDocs).toInt).map(t =>
      if (r.nextDouble() < PerturbShare) zipfWord(r) else t)
  }

  /** 0 = original, 1 = exact duplicate, 2 = near duplicate. */
  private def dupKind(seed: Long, id: Long): Int =
    if (id < DupWindow) 0
    else {
      val u = rng(seed, 3, id).nextDouble()
      if (u < ExactDupShare) 1 else if (u < ExactDupShare + NearDupShare) 2 else 0
    }

  def doc(seed: Long, id: Long): Doc = dupKind(seed, id) match {
    case 0 => Doc(id, original(seed, id).mkString(" "), -1L, exact = false)
    case kind =>
      val r = rng(seed, 4, id)
      val wantLen = if (kind == 2) NearDupMinTokens else 0
      // walk back to an original that is long enough
      var src = id - 1 - r.nextInt(DupWindow)
      var toks = original(seed, src)
      while (src > 0 && (dupKind(seed, src) != 0 || toks.length < wantLen)) {
        src -= 1
        toks = original(seed, src)
      }
      if (kind == 2) {
        val copy = toks.clone()
        copy(r.nextInt(copy.length)) = zipfWord(r)
        Doc(id, copy.mkString(" "), src, exact = false)
      } else Doc(id, toks.mkString(" "), src, exact = true)
  }

  def docs(seed: Long, from: Long, n: Int): IndexedSeq[Doc] =
    (0 until n).map(i => doc(seed, from + i))

  /** Query terms: 1–3 words drawn Zipf-distributed from the synthetic
    * vocabulary (the base words would make every term hit every doc).
    */
  def queries(seed: Long, purpose: Int, n: Int): IndexedSeq[Query] =
    (0 until n).map { i =>
      val r = rng(seed, 10 + purpose, i)
      val terms = Seq.fill(1 + r.nextInt(3))(zipfWord(r)).distinct
      Query(i.toLong, terms, terms.mkString(" "))
    }

  private lazy val vocabRank: Map[String, Int] = vocab.zipWithIndex.toMap

  /** A query aimed at one document: its text for the dense arm, and its
    * two rarest words for the lexical arm.
    */
  def queryFor(d: Doc, id: Long): Query = {
    val words = d.text.split(" ").distinct
    Query(id, words.sortBy(w => -vocabRank.getOrElse(w, -1)).take(2).toSeq, d.text)
  }

  val PageTitle = "Generated product documentation"

  def pageUrl(pageId: Long): String =
    s"https://docs.example.com/en/documentation/generated/html-single/page-$pageId"

  /** One documentation page in the reference's product-doc layout:
    * navigation and footer outside the `book` element, a legal notice
    * and title blocks the cleaner removes, one `h2` section per
    * document. The section header is the document's first three words,
    * so a duplicate document yields a duplicate chunk on any page.
    */
  def page(pageId: Long, ds: Seq[Doc]): String = {
    val sb = new StringBuilder
    sb ++= "<html><head><title>" ++= PageTitle ++= "</title></head><body>"
    sb ++= "<nav><ul><li><a href=\"/en/documentation\">Docs</a></li>"
    sb ++= s"<li><a href=\"${pageUrl(pageId)}\">Page $pageId</a></li></ul></nav>"
    sb ++= "<div class=\"book\"><div class=\"producttitle\">Generated</div>"
    sb ++= "<h1>" ++= PageTitle ++= "</h1>"
    sb ++= "<div class=\"legalnotice\"><p>Copyright notice.</p></div>"
    ds.foreach { d =>
      sb ++= "<section><h2>" ++= d.text.split(" ").take(3).mkString(" ")
      sb ++= "</h2><div class=\"para\"><p>" ++= d.text ++= "</p></div></section>"
    }
    sb ++= "<hr/></div><footer><p>Footer text.</p></footer></body></html>"
    sb.toString
  }

  /** Pages of [[DocsPerPage]] consecutive documents: (page_id, url, html). */
  def pages(ds: IndexedSeq[Doc]): IndexedSeq[(Long, String, String)] =
    ds.grouped(DocsPerPage).zipWithIndex.map { case (g, p) =>
      (p.toLong, pageUrl(p), page(p, g))
    }.toIndexedSeq

  /** Input statistics, as a JSON object with a fixed key order. */
  def manifest(ds: IndexedSeq[Doc], pageCount: Int, pageBytes: Long,
      qs: Seq[Query]): String = {
    val terms = qs.flatMap(_.terms).toSet
    val df = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    ds.foreach(d => d.text.split(" ").toSet.intersect(terms).foreach(t => df(t) += 1))
    val dfs = qs.flatMap(_.terms).map(df).sorted.toIndexedSeq
    def q(p: Double): Long = if (dfs.isEmpty) 0L
      else dfs(math.min(dfs.length - 1, (p * dfs.length).toInt))
    val exact = ds.count(_.exact)
    val near = ds.count(d => d.dupOf >= 0 && !d.exact)
    Json.obj(Seq(
      "docs" -> Json.num(ds.length),
      "pages" -> Json.num(pageCount),
      "page_bytes" -> Json.num(pageBytes),
      "doc_text_bytes" -> Json.num(ds.map(_.text.length.toLong).sum),
      "exact_dup_share" -> Json.num(exact.toDouble / math.max(ds.length, 1)),
      "near_dup_share" -> Json.num(near.toDouble / math.max(ds.length, 1)),
      "queries" -> Json.num(qs.length),
      "query_terms" -> Json.num(qs.map(_.terms.length).sum),
      "query_term_df" -> Json.obj(Seq("p10" -> q(0.1), "p50" -> q(0.5),
        "p90" -> q(0.9), "max" -> (if (dfs.isEmpty) 0L else dfs.last))
        .map { case (k, v) => k -> Json.num(v) })))
  }
}
