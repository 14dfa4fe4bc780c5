package graft.perfbench

import java.util.Random
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators for the four workloads. Everything is a pure
  * function of the seed (java.util.Random streams, no wall clock, no
  * external data), so the same seed gives byte-identical inputs.
  */
object Gen {

  /** 2024-01-01T00:00:00Z, the fixed crawl epoch of generated pages. */
  val CrawlEpoch = 1704067200L

  final case class Page(pageId: Long, url: String, warcTs: Long, text: String, lang: String)

  final case class Person(id: Long, name: String, email: String, phone: String, dob: String)

  final case class Vec(id: Long, v: Array[Float])

  private val Langs = Array("en", "de", "fr", "es", "it")

  /** `n` distinct lowercase pseudo-words of 3..9 letters. */
  def vocab(seed: Long, n: Int): Array[String] = {
    val r = new Random(seed * 31 + 7)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      val sb = new StringBuilder
      for (_ <- 0 until len) sb += ('a' + r.nextInt(26)).toChar
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  /** Discrete Pareto group size, P(size >= k) = k^-1.3, capped: most
    * groups are singletons, a few are large.
    */
  def groupSize(r: Random, cap: Int): Int =
    math.min(cap, math.max(1, math.floor(math.pow(1.0 - r.nextDouble(), -1.0 / 1.3)).toInt))

  /** Near-dup rewrite of a word array: each word is replaced with
    * probability `rate` and dropped with probability `rate / 2`.
    */
  def variant(words: Array[String], r: Random, vocab: Array[String], rate: Double): String = {
    val out = new ArrayBuffer[String](words.length)
    words.foreach { w =>
      val u = r.nextDouble()
      if (u < rate) out += vocab(r.nextInt(vocab.length))
      else if (u >= rate * 1.5) out += w
    }
    out.mkString(" ")
  }

  private def nearRate(r: Random): Double = 0.001 + 0.007 * r.nextDouble()

  /** Page table of `n` pages in heavy-tailed near-dup groups. Each
    * group is a base text plus members that are either near-dup
    * rewrites (new url) or exact re-crawls of an earlier member (same
    * text, hence same html, new url). Rows come out in a seeded
    * shuffled order so groups are not contiguous in the files.
    */
  def crawlPages(seed: Long, n: Int, firstId: Long, host: String): Vector[Page] = {
    val r = new Random(seed)
    val words = vocab(seed, 8000)
    val out = new ArrayBuffer[Page](n)
    var id = firstId
    while (out.size < n) {
      val size = math.min(groupSize(r, 40), n - out.size)
      val base = Array.fill(200 + r.nextInt(80))(words(r.nextInt(words.length)))
      val lang = Langs(r.nextInt(Langs.length))
      val texts = new ArrayBuffer[String](size)
      for (m <- 0 until size) {
        val t =
          if (m == 0) base.mkString(" ")
          else if (r.nextDouble() < 0.15) texts(r.nextInt(texts.size))
          else variant(base, r, words, nearRate(r))
        texts += t
        out += page(id, host, lang, t)
        id += 1
      }
    }
    shuffled(out.toVector, r)
  }

  private def page(id: Long, host: String, lang: String, text: String): Page =
    Page(id, s"https://$host/$lang/p$id", CrawlEpoch + id * 7, text, lang)

  private def shuffled[A](xs: Vector[A], r: Random): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** html carried by a page: the text inside a minimal document whose
    * extraction (head dropped, tags stripped, whitespace collapsed)
    * gives the text back.
    */
  def html(text: String): Array[Byte] =
    ("<html><head><title>page</title></head><body>\n<p>" + text + "</p>\n</body></html>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One crawl snapshot on top of `base`: about `n` pages, mixing
    * near-dups of base pages under new urls (40%), pages at urls the
    * base already holds (20%, which the frontier drops) and new pages
    * in their own heavy-tailed groups (40%).
    */
  def batch(seed: Long, base: Vector[Page], n: Int, firstId: Long, host: String): Vector[Page] = {
    val r = new Random(seed * 1000003L + 17)
    val words = vocab(seed, 8000)
    val nNear = n * 2 / 5
    val nSeen = n / 5
    val near = (0 until nNear).map { i =>
      val src = base(r.nextInt(base.size))
      page(firstId + i, host, src.lang, variant(src.text.split(" "), r, words, nearRate(r)))
    }
    val seen = (0 until nSeen).map { i =>
      val src = base(r.nextInt(base.size))
      val text =
        if (r.nextBoolean()) src.text else variant(src.text.split(" "), r, words, nearRate(r))
      src.copy(pageId = firstId + n + i, warcTs = CrawlEpoch + (firstId + n + i) * 7, text = text)
    }
    val fresh = crawlPages(seed * 7919L + 3, n - nNear - nSeen, firstId + nNear, host)
    shuffled((near ++ seen ++ fresh).toVector, r)
  }

  private val Firsts = Array("james", "mary", "robert", "patricia", "john", "jennifer",
    "michael", "linda", "david", "elizabeth", "william", "barbara", "richard", "susan",
    "joseph", "jessica", "thomas", "sarah", "charles", "karen", "christopher", "nancy",
    "daniel", "lisa", "matthew", "betty", "anthony", "margaret", "mark", "sandra", "donald",
    "ashley", "steven", "kimberly", "paul", "emily", "andrew", "donna", "joshua", "michelle",
    "kenneth", "carol", "kevin", "amanda", "brian", "melissa", "george", "deborah",
    "timothy", "stephanie", "ronald", "rebecca", "edward", "sharon", "jason", "laura",
    "jeffrey", "cynthia", "ryan", "kathleen")
  private val Lasts = Array("smith", "johnson", "williams", "brown", "jones", "garcia",
    "miller", "davis", "rodriguez", "martinez", "hernandez", "lopez", "gonzalez", "wilson",
    "anderson", "thomas", "taylor", "moore", "jackson", "martin", "lee", "perez", "thompson",
    "white", "harris", "sanchez", "clark", "ramirez", "lewis", "robinson", "walker", "young",
    "allen", "king", "wright", "scott", "torres", "nguyen", "hill", "flores", "green",
    "adams", "nelson", "baker", "hall", "rivera", "campbell", "mitchell", "carter",
    "roberts", "gomez", "phillips", "evans", "turner", "diaz", "parker", "cruz", "edwards",
    "collins", "reyes", "stewart", "morris", "morales", "murphy", "cook", "rogers",
    "gutierrez", "ortiz", "morgan", "cooper", "peterson", "bailey", "reed", "kelly",
    "howard", "ramos", "kim", "cox", "ward", "richardson")
  private val Domains = Array("example.com", "mail.test", "post.example.org", "inbox.test")

  private def cap(s: String): String = s.head.toUpper + s.tail

  private def typo(s: String, r: Random): String = {
    if (s.length < 3) return s
    val i = 1 + r.nextInt(s.length - 2)
    if (r.nextBoolean()) s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
    else s.substring(0, i) + ('a' + r.nextInt(26)).toChar + s.substring(i + 1)
  }

  /** Reference-shaped record-matching pair: source 1 holds `n` people
    * (name, email, phone, date of birth); source 2 is a seeded perturbed
    * copy under permuted ids. About a third of the twins are exact
    * copies (the perfect-match shortcut), the rest carry typos,
    * reordered name tokens, reformatted phones, birth dates a day off,
    * and a few percent of missing values (full scoring). Dates are ISO
    * strings here and are written as a date column.
    *
    * @return (source 1, source 2, twin id in source 2 per source-1 id)
    */
  def matchPair(seed: Long, n: Int): (Vector[Person], Vector[Person], Map[Long, Long]) = {
    val r = new Random(seed)
    val s1 = (0 until n).map { i =>
      val f = Firsts(r.nextInt(Firsts.length))
      val l = Lasts(r.nextInt(Lasts.length))
      val email = s"$f.$l${r.nextInt(1000)}@${Domains(r.nextInt(Domains.length))}"
      val phone = f"(${200 + r.nextInt(800)}%03d) ${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
      val dob = f"${1940 + r.nextInt(66)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      Person(i.toLong, s"${cap(f)} ${cap(l)}", email, phone, dob)
    }.toVector
    val perm = shuffled((0 until n).toVector, r)
    val twin = (0 until n).map(i => i.toLong -> (1000000L + perm(i))).toMap
    def missing(v: String): String = if (r.nextDouble() < 0.03) null else v
    val s2 = s1.map { p =>
      val id2 = twin(p.id)
      if (r.nextDouble() < 0.35) p.copy(id = id2)
      else {
        val Array(f, l) = p.name.split(" ")
        val name0 = if (r.nextDouble() < 0.15) s"$l $f" else p.name
        val name = if (r.nextDouble() < 0.5) typo(name0, r) else name0
        val email = if (r.nextDouble() < 0.2) typo(p.email, r) else p.email
        val digits = p.phone.filter(_.isDigit)
        val phone = r.nextInt(3) match {
          case 0 => p.phone
          case 1 => s"${digits.substring(0, 3)}.${digits.substring(3, 6)}.${digits.substring(6)}"
          case _ => s"1-${digits.substring(0, 3)}-${digits.substring(3, 6)}-${digits.substring(6)}"
        }
        val Array(y, m, d) = p.dob.split("-").map(_.toInt)
        val day = if (d > 1) d - 1 else d + 1
        val dob = if (r.nextDouble() < 0.1) f"$y%04d-$m%02d-$day%02d" else p.dob
        Person(id2, missing(name), missing(email), missing(phone), missing(dob))
      }
    }
    (s1, shuffled(s2, r), twin)
  }

  /** Sign-flip-scaled embedding corpus: a base set of `baseN` vectors
    * around 40 Gaussian centres, repeated as `groups` sign-flip
    * isometries (each group flips a seeded subset of dimensions, which
    * keeps within-group cosine structure and scrambles cross-group
    * similarity). Queries are noisy copies of group-0 vectors under ids
    * far above every corpus id.
    *
    * @return (corpus, queries)
    */
  def embeddings(seed: Long, baseN: Int, groups: Int, dim: Int,
      nQueries: Int): (Vector[Vec], Vector[Vec]) = {
    val r = new Random(seed)
    val centres = Array.fill(40, dim)(r.nextGaussian().toFloat)
    val base = Array.tabulate(baseN) { _ =>
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dim)(d => c(d) + 0.6f * r.nextGaussian().toFloat)
    }
    val flips = Array.tabulate(groups, dim)((g, _) => g == 0 || r.nextBoolean())
    val corpus = for (g <- 0 until groups; i <- 0 until baseN) yield
      Vec(g * 10000000L + i, Array.tabulate(dim)(d => if (flips(g)(d)) base(i)(d) else -base(i)(d)))
    val queries = (0 until nQueries).map { q =>
      val b = base(r.nextInt(baseN))
      Vec(1000000000000L + q, Array.tabulate(dim)(d => b(d) + 0.3f * r.nextGaussian().toFloat))
    }
    (corpus.toVector, queries.toVector)
  }

  /** Order-sensitive 64-bit content checksum over rendered rows. */
  def checksum(rows: Iterator[String]): Long = {
    var h = 1125899906842597L
    rows.foreach { s =>
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      h = graft.sim.HashKernels.mix64(h)
    }
    h
  }

  def pageRows(ps: Seq[Page]): Iterator[String] =
    ps.iterator.map(p => s"${p.pageId}|${p.url}|${p.warcTs}|${p.lang}|${p.text}")

  def personRows(ps: Seq[Person]): Iterator[String] =
    ps.iterator.map(p => s"${p.id}|${p.name}|${p.email}|${p.phone}|${p.dob}")

  def vecRows(vs: Seq[Vec]): Iterator[String] =
    vs.iterator.map(v => v.id.toString + "|" + v.v.mkString(","))
}
