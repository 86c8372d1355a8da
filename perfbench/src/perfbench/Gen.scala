package perfbench

import java.util.Random

/** Seeded input generators and the plain-Scala references the
  * benchmark checks the library's outputs against. Everything here is
  * a pure function of its seed. */
object Gen {

  /** A small natural vocabulary: realistic word lengths and letter
    * pairs for the text layers, few enough types that BPE and GloVe
    * train in seconds. */
  val Words: Array[String] = (
    "the of and to in is that for it as with was on be by at this from " +
    "or an are not have which but all were when we there can been one " +
    "data table stream query merge join filter value column order batch " +
    "spark lake house layer index vector search model train token text " +
    "page chunk source clean quality score window group key row file " +
    "write read scan sort hash small large fast slow first last new old " +
    "time part graph node edge cluster sample result error check level").split(" ")

  private def word(r: Random): String = {
    // Zipf-like: low indices are much more frequent, like real text
    val u = r.nextDouble()
    Words((Words.length * u * u * u).toInt)
  }

  // ---------------------------------------------------------------- pages

  final case class Page(url: String, title: String, content: String, author: String,
                        date: String)

  /** Raw scraped pages with log-normal lengths; 1% blank, 10% exact
    * re-scrapes of an earlier page under a new url, 5% near-duplicates
    * that differ from an earlier page only in case, spacing and
    * stripped symbols (silver normalization collapses them). */
  def pages(seed: Long, n: Int, medianChars: Int): IndexedSeq[Page] = {
    val r = new Random(seed * 1000003L + 11)
    val out = new Array[Page](n)
    for (i <- 0 until n) {
      val u = r.nextDouble()
      val text =
        if (i < 20 || u >= 0.16) content(r, medianChars)
        else if (u < 0.01) "   "
        else if (u < 0.11) out(r.nextInt(i)).content
        else noisy(r, out(r.nextInt(i)).content)
      out(i) = Page(f"https://site${i % 50}%02d.example/p/$i%06d", s"title $i ${word(r)}",
        text, s"author${r.nextInt(40)}", f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")
    }
    out.toIndexedSeq
  }

  /** Page text: sentences of [[Words]] with punctuation, stray symbols
    * and line breaks, log-normal length around `medianChars`. */
  def content(r: Random, medianChars: Int): String = {
    val target = math.min(20000, math.max(10,
      (medianChars * math.exp(0.9 * r.nextGaussian())).toInt))
    val sb = new StringBuilder(" " * r.nextInt(3))
    var sentence = 0
    while (sb.length < target) {
      val w = word(r)
      sb.append(if (sentence == 0) w.capitalize else w)
      sentence += 1
      val p = r.nextInt(100)
      if (p < 8) { sb.append(". "); sentence = 0 }
      else if (p < 12) sb.append(", ")
      else if (p < 14) sb.append(" #")
      else if (p < 15) sb.append("\n")
      else sb.append(' ')
    }
    sb.append(" " * r.nextInt(3)).toString
  }

  /** Same text after normalization: flip case, double spaces, add
    * symbols the strip pattern removes. */
  private def noisy(r: Random, s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if (c == ' ' && r.nextInt(10) == 0) sb.append("  ")
      else if (c.isLetter && r.nextInt(20) == 0) sb.append(c.toUpper)
      else sb.append(c)
      if (c == ' ' && r.nextInt(30) == 0) sb.append("@ ")
    }
    sb.toString
  }

  private val StripPattern = "[^\\w\\d\\s.,!?;:\\-()]"

  /** Spark's `trim`: spaces only. */
  def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** `TextFunctions.normalizeText`, replayed on one string. */
  def normalize(s: String): String =
    trimSpaces(s.replaceAll(StripPattern, " ").toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " "))

  /** Silver rows as (normalized content, url): non-blank, longer than
    * `minLen` after normalization, one per content (lowest url). */
  def silver(ps: Seq[Page], minLen: Int): Seq[(String, String)] =
    ps.map(p => (normalize(trimSpaces(p.content)), p.url))
      .filter(_._1.length > minLen)
      .groupBy(_._1).values.map(_.minBy(_._2)).toSeq

  final case class MedallionRef(bronze: Long, silver: Long, gold: Long, chunkChars: Long,
                                silverMerged: Long, silverMergedChars: Long)

  /** Row counts and chunk-length sum of the medallion DAG, computed
    * from the generated pages: bronze keeps non-blank content, silver
    * keeps one row per normalized content longer than `minLen`, gold
    * cuts each silver row into `size`-char chunks every `size -
    * overlap` chars; the merge replaces `updates` by url. */
  def medallionRef(ps: Seq[Page], updates: Seq[Page], minLen: Int, size: Int,
                   overlap: Int): MedallionRef = {
    val bronze = ps.count(p => trimSpaces(p.content).nonEmpty)
    val silver = Gen.silver(ps, minLen)
    val stride = size - overlap
    val chunks = silver.map(_._1.length).map { len =>
      val n = (len - 1) / stride + 1
      (n.toLong, (0 until n).map(i => math.min(size, len - i * stride).toLong).sum)
    }
    val byUrl = silver.map { case (c, u) => u -> c.length.toLong }.toMap ++
      updates.map(p => p.url -> normalize(p.content).length.toLong)
    MedallionRef(bronze, silver.size, chunks.map(_._1).sum, chunks.map(_._2).sum,
      byUrl.size, byUrl.values.sum)
  }

  /** JSON-lines encoding of one page, as the raw landing zone holds it. */
  def json(p: Page): String = Json.obj("url" -> p.url, "title" -> p.title,
    "content" -> p.content, "author" -> p.author, "date" -> p.date).s

  // -------------------------------------------------------------- vectors

  /** `n` vectors of `dim` floats around `clusters` Gaussian centres. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int): (Array[Array[Float]], Array[Array[Double]]) = {
    val r = new Random(seed * 1000003L + 23)
    val centres = Array.fill(clusters, dim)(r.nextGaussian())
    val vs = Array.tabulate(n) { i =>
      val c = centres(i % clusters)
      Array.tabulate(dim)(d => (c(d) + 0.6 * r.nextGaussian()).toFloat)
    }
    (vs, centres)
  }

  def queries(seed: Long, op: Int, nq: Int, centres: Array[Array[Double]]): Array[Array[Float]] = {
    val r = new Random(seed * 1000003L + 31L * (op + 1000))
    Array.fill(nq) {
      val c = centres(r.nextInt(centres.length))
      c.map(x => (x + 0.6 * r.nextGaussian()).toFloat)
    }
  }

  def chunkText(id: Long): String = s"chunk $id: " + Words((id % Words.length).toInt) +
    " " + Words(((id / 7) % Words.length).toInt)

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Exact cosine top-k, scored like the index (6-dp rounding, ties
    * to the lower id). */
  def exactTopK(q: Array[Float], vs: Array[Array[Float]], norms: Array[Double],
                k: Int): Seq[Long] = {
    val qn = math.sqrt(dot(q, q))
    val scored = vs.indices.map { i =>
      val s = BigDecimal(dot(q, vs(i)) / (qn * norms(i)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s, i.toLong)
    }
    scored.sortBy { case (s, i) => (-s, i) }.take(k).map(_._2)
  }

  def norms(vs: Array[Array[Float]]): Array[Double] = vs.map(v => math.sqrt(dot(v, v)))

  // ------------------------------------------------------------ documents

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** A shard shaped like the corpus' documents table: word soup from
    * [[Words]], 8 to 100 words, 5 languages, 20 sources. 3% are exact
    * copies of an earlier document under a new id; `dupOf` maps each
    * copy to its original. */
  def docs(seed: Long, n: Int): (IndexedSeq[Doc], Map[Long, Long]) = {
    val r = new Random(seed * 1000003L + 47)
    val out = new Array[Doc](n)
    val dupOf = Map.newBuilder[Long, Long]
    for (i <- 0 until n) {
      val text =
        if (i > 10 && r.nextInt(100) < 3) {
          val j = r.nextInt(i)
          dupOf += (i.toLong -> j.toLong)
          out(j).text
        } else Seq.fill(8 + r.nextInt(53))(word(r)).mkString(" ")
      out(i) = Doc(i, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")
    }
    (out.toIndexedSeq, dupOf.result())
  }

  /** The ids a curation op works on: a seeded 90% sample. */
  def sample(seed: Long, op: Int, n: Int): Set[Long] = {
    val r = new Random(seed * 1000003L + 59L * (op + 1000))
    (0 until n).filter(_ => r.nextInt(10) != 0).map(_.toLong).toSet
  }
}
