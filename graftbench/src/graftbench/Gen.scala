package graftbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.distribution.NormalDistribution

/** Seeded input generator owned by the benchmark. Everything the
 * workloads read is derived from the `--seed` argument here, so the
 * inputs stay fixed when the engine changes. Coordinates are printed
 * with five decimals and parsed back, so the generator's doubles are the
 * exact doubles the engine parses out of the pages.
 *
 * Each traffic parameter names its source next to it. A parameter marked
 * "Assumption" has no published figure behind it; README.md lists them. */
object Gen {

  // ---- page model (both page workloads) --------------------------------

  /** Mean HTML bytes per page. Common Crawl's monthly crawl announcements
   * of 2023-2024 give 3.1-3.4 billion captured pages and 400-460 TiB of
   * uncompressed content per crawl: about 140 KB per capture, HTTP
   * headers included. */
  val MeanPageBytes = 140000.0
  /** Common Crawl truncates a captured payload at 1 MiB. */
  val MaxPageBytes: Int = 1 << 20
  /** Standard deviation of ln(page bytes). Assumption: a log-normal with
   * sigma 1 puts the median at 0.6x the mean (85 KB) and the 1 MiB cap
   * near the 99th percentile. */
  val PageSigma = 1.0
  /** Visible text per HTML byte. Assumption, bounded below by C4: about
   * 750 GB of cleaned text in 365 M documents (Raffel et al. 2020, Dodge
   * et al. 2021) is ~2 KB per page, 1.5% of the mean page; raw extraction
   * before C4's line filters keeps more. */
  val TextShare = 0.04
  /** Share of the non-text bytes in inline script and style blocks, which
   * the extractor skips. Assumption. */
  val ScriptShare = 0.4

  private val normal = new NormalDistribution(null, 0, 1)

  /** HTML sizes of `n` pages, ascending: the log-normal quantile of each
   * of `n` equal strata, jittered inside its stratum. Every seed draws the
   * same size distribution, so the bytes per job barely move with the
   * seed; only the order and the content do. */
  def sizeStrata(r: SplittableRandom, n: Int): Array[Int] = {
    val mu = math.log(MeanPageBytes) - PageSigma * PageSigma / 2
    Array.tabulate(n) { i =>
      val p = (i + 0.25 + 0.5 * r.nextDouble()) / n
      math.min(MaxPageBytes.toDouble, math.exp(mu + PageSigma * normal.inverseCumulativeProbability(p))).toInt
    }
  }

  def shuffle[T](r: SplittableRandom, xs: Array[T]): Array[T] = {
    var i = xs.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t; i -= 1 }
    xs
  }

  /** `n` labels in exact proportion to `shares` (largest remainder), each
   * label's slots spread evenly over [0, n). Dealt onto ascending sizes,
   * every label gets the same spread of sizes in every seed. */
  def allot(n: Int, shares: Seq[(String, Double)]): Array[String] = {
    val raw = shares.map { case (k, x) => k -> x * n / shares.map(_._2).sum }
    val extra = raw.sortBy { case (_, x) => x.toInt - x }.take(n - raw.map(_._2.toInt).sum).map(_._1).toSet
    raw.flatMap { case (k, x) =>
      val c = x.toInt + (if (extra(k)) 1 else 0)
      (0 until c).map(j => ((j + 0.5) * n / c, k))
    }.sortBy(_._1).map(_._2).toArray
  }

  private def coord(v: Double): Double = java.lang.Double.parseDouble(fmt(v))
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.5f", Double.box(v))

  private val Words = Array("river", "market", "station", "harbour", "museum", "bridge",
    "garden", "tower", "square", "library", "theatre", "castle", "valley", "island",
    "street", "festival", "archive", "quarter", "avenue", "county", "province", "route",
    "north", "south", "old", "new", "grand", "little", "upper", "lower", "central")

  private def words(r: SplittableRandom, n: Int, vocab: Array[String], sb: StringBuilder): Unit = {
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(r.nextInt(vocab.length)))
      i += 1
    }
  }
  private def words(r: SplittableRandom, n: Int, vocab: Array[String]): String = {
    val sb = new StringBuilder; words(r, n, vocab, sb); sb.toString
  }

  private val Hex = "0123456789abcdef"
  private def token(r: SplittableRandom, n: Int, sb: StringBuilder): Unit =
    (0 until n).foreach(_ => sb.append(Hex.charAt(r.nextInt(16))))

  /** About `bytes` bytes of page chrome: attribute-heavy wrappers, image
   * and link tags, navigation lists, and (a `ScriptShare` of the bytes)
   * inline scripts. Its only visible text is one anchor word per link,
   * drawn from `vocab`. */
  private def chrome(r: SplittableRandom, bytes: Int, vocab: Array[String], sb: StringBuilder): Unit = {
    val start = sb.length
    while (sb.length - start < bytes) {
      if (r.nextDouble() < ScriptShare) {
        sb.append("<script>window.__s=window.__s||[];__s.push({id:\"")
        token(r, 12, sb)
        sb.append("\",v:").append(r.nextInt(100000)).append("});function f")
        token(r, 6, sb)
        sb.append("(a,b){for(var i=0;i<a.length;i++){if(a[i]<b)return i}return -1}</script>")
      } else r.nextInt(3) match {
        case 0 =>
          sb.append("<div class=\"c-")
          token(r, 6, sb)
          sb.append(" row\" id=\"n").append(r.nextInt(1 << 20)).append("\" data-track=\"")
          token(r, 10, sb)
          sb.append("\"><div class=\"col\"><span class=\"ic\"></span></div></div>")
        case 1 =>
          sb.append("<ul class=\"nav\">")
          (0 until 2 + r.nextInt(5)).foreach { _ =>
            sb.append("<li class=\"it\"><a class=\"lnk\" href=\"/")
            token(r, 8, sb)
            sb.append("/\" title=\"t\"> ").append(vocab(r.nextInt(vocab.length))).append(" </a></li>")
          }
          sb.append("</ul>")
        case _ =>
          sb.append("<img src=\"/i/")
          token(r, 16, sb)
          sb.append(".jpg\" alt=\"\" width=\"").append(r.nextInt(800)).append("\" loading=\"lazy\">")
            .append("<link rel=\"preload\" href=\"/a/")
          token(r, 12, sb)
          sb.append(".css\" as=\"style\">")
      }
    }
  }

  /** Visible text of a page with `bytes` HTML bytes, in words. */
  private def textWords(bytes: Int): Int = math.max(1, (bytes * TextShare / 7).toInt)

  /** A page: head with a style block, then `paras` paragraphs of body
   * text with chrome between them, `slots(i)` inserted after paragraph i.
   * The page comes out close to `bytes` bytes. `vocab` holds the anchor
   * words. */
  private def page(r: SplittableRandom, bytes: Int, title: String, head: String,
      paras: Seq[String], slots: Int => String, vocab: Array[String]): Array[Byte] = {
    val sb = new StringBuilder(bytes + 4096)
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>").append(title).append("</title>")
      .append(head)
      .append("<style>.row{display:flex}.col{flex:1}.nav li{display:inline}.ic{width:16px}</style>")
      .append("</head><body> ")
    val visible = paras.map(_.length + 8).sum
    val gap = math.max(0, bytes - sb.length - visible) / (paras.size + 1)
    chrome(r, gap, vocab, sb)
    paras.zipWithIndex.foreach { case (p, i) =>
      sb.append(" <p>").append(p).append("</p> ").append(slots(i))
      chrome(r, gap, vocab, sb)
    }
    sb.append(" </body></html>")
    sb.toString.getBytes("UTF-8")
  }

  /** Paragraphs of about `n` words in total, 30-90 words each. */
  private def paragraphs(r: SplittableRandom, n: Int, vocab: Array[String]): Seq[String] = {
    val out = ArrayBuffer[String]()
    var left = n
    while (left > 0) {
      val k = math.min(left, 30 + r.nextInt(61))
      out += words(r, k, vocab)
      left -= k
    }
    out.toSeq
  }

  // ---- geo_tiles -------------------------------------------------------

  /** The hot-cell cluster: a ~0.6 degree box that 30% of all points fall
   * in (the skew FIXTURES.md designs into the repo's page fixtures). */
  val HotLat = 48.85
  val HotLon = 2.35
  val HotHalf = 0.3

  final case class Entity(idx: Int, source: String, lat: Double, lon: Double)
  final case class Page(id: Long, url: String, html: Array[Byte], entities: Seq[Entity])
  final case class Polygon(id: Long, ring: Array[Double])
  final case class Point(id: Long, lat: Double, lon: Double)
  final case class Doc(id: Long, url: String, source: String, html: Array[Byte], kind: String)

  /** A point that is hot with probability `hotShare`, else uniform over
   * lat [-60, 70] x lon [-180, 180]. */
  def latLon(r: SplittableRandom, hotShare: Double): (Double, Double) =
    if (r.nextDouble() < hotShare)
      (coord(HotLat + (r.nextDouble() * 2 - 1) * HotHalf),
        coord(HotLon + (r.nextDouble() * 2 - 1) * HotHalf))
    else (coord(-60 + r.nextDouble() * 130), coord(-180 + r.nextDouble() * 360))

  private val Sources = Array("meta", "uri", "microdata")

  /** Geo entities per page: 0, 1, 2, 3 or 6 with shares 15/35/25/15/10%,
   * in exact proportion (see [[allot]]). Assumption: the workload models
   * pages a geo crawl selected, so most carry coordinates; on an
   * unselected crawl most pages carry none. */
  private val EntityShares = Seq("0" -> 0.15, "1" -> 0.35, "2" -> 0.25, "3" -> 0.15, "6" -> 0.10)

  def geoPages(seed: Long, n: Int, hotShare: Double): Seq[Page] = {
    val r = new SplittableRandom(seed * 31 + 1)
    val sizes = shuffle(r, sizeStrata(r, n))
    val counts = shuffle(r, allot(n, EntityShares))
    (0 until n).map { i =>
      val raw = (0 until counts(i).toInt).map { _ =>
        val src = Sources(r.nextInt(3))
        val (la, lo) = latLon(r, hotShare)
        (src, la, lo)
      }
      // the extractor emits meta, then uri, then microdata entities
      val ordered = Seq("meta", "uri", "microdata").flatMap(s => raw.filter(_._1 == s))
      val ents = ordered.zipWithIndex.map { case ((s, la, lo), k) => Entity(k, s, la, lo) }
      val head = ents.filter(_.source == "meta").map { e =>
        s"""<meta name="geo.position" content="${fmt(e.lat)};${fmt(e.lon)}">"""
      }.mkString
      val body = ents.filter(_.source != "meta").map { e =>
        if (e.source == "uri") s"""<p>see <a href="geo:${fmt(e.lat)},${fmt(e.lon)}">the map</a></p> """
        else s"""<div itemscope><span itemprop="latitude">${fmt(e.lat)}</span> """ +
          s"""<span itemprop="longitude">${fmt(e.lon)}</span></div> """
      }
      val paras = paragraphs(r, textWords(sizes(i)), Words)
      // entities go after evenly spaced paragraphs
      val at = body.indices.map(k => (k + 1) * paras.size / (body.size + 1)).zip(body)
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).mkString }
      val html = page(r, sizes(i), words(r, 4, Words), head, paras, p => at.getOrElse(p, ""), Words)
      Page(i.toLong, s"https://site${i % 97}.example/geo/$i", html, ents)
    }
  }

  /** Star-shaped polygon around (cy, cx): vertex angles strictly
   * increase, so the ring never self-intersects. Ring is [x=lon, y=lat]. */
  def star(r: SplittableRandom, cy: Double, cx: Double, radius: Double, verts: Int,
      wobble: Double): Array[Double] = {
    val ring = new Array[Double](2 * verts)
    var i = 0
    while (i < verts) {
      val a = 2 * math.Pi * (i + 0.2 + 0.6 * r.nextDouble()) / verts
      val rr = radius * (1 - wobble + 2 * wobble * r.nextDouble())
      ring(2 * i) = math.max(-179.9, math.min(179.9, cx + rr * math.cos(a)))
      ring(2 * i + 1) = math.max(-89.9, math.min(89.9, cy + rr * 0.5 * math.sin(a)))
      i += 1
    }
    ring
  }

  /** Polygon layer: `n` polygons of `minV`..`maxV` vertices; a quarter are
   * centred in the hot cluster so hot points meet polygons. */
  def polygons(seed: Long, n: Int, minV: Int, maxV: Int, minR: Double, maxR: Double,
      wobble: Double): Seq[Polygon] = {
    val r = new SplittableRandom(seed * 31 + 2)
    (0 until n).map { i =>
      val (cy, cx) =
        if (i % 4 == 0) (HotLat + (r.nextDouble() * 2 - 1) * HotHalf, HotLon + (r.nextDouble() * 2 - 1) * HotHalf)
        else (-55 + r.nextDouble() * 120, -175 + r.nextDouble() * 350)
      val radius = if (i % 4 == 0) 0.05 + r.nextDouble() * 0.3 else minR + r.nextDouble() * (maxR - minR)
      Polygon(i.toLong, star(r, cy, cx, radius, minV + r.nextInt(maxV - minV + 1), wobble))
    }
  }

  // ---- join_knn --------------------------------------------------------

  def points(seed: Long, salt: Long, n: Int, hotShare: Double): Seq[Point] = {
    val r = new SplittableRandom(seed * 31 + salt)
    (0 until n).map { i => val (la, lo) = latLon(r, hotShare); Point(i.toLong, la, lo) }
  }

  /** kNN targets: `hotShare` of them in the hot box, the rest at the
   * centres of a fixed grid over the uniform region. The grid fixes the
   * largest empty area, so the ring-expansion round count does not swing
   * with the seed (a jittered grid still moved it by a round). */
  def gridTargets(seed: Long, n: Int, hotShare: Double): Seq[Point] = {
    val r = new SplittableRandom(seed * 31 + 6)
    val nHot = (n * hotShare).toInt
    val rows = math.max(1, math.round(math.sqrt((n - nHot) * 130.0 / 360.0)).toInt)
    val cols = math.max(1, (n - nHot) / rows)
    val hot = (0 until nHot).map { _ =>
      (coord(HotLat + (r.nextDouble() * 2 - 1) * HotHalf), coord(HotLon + (r.nextDouble() * 2 - 1) * HotHalf))
    }
    val grid = for (y <- 0 until rows; x <- 0 until cols) yield
      (coord(-60 + (y + 0.5) * 130.0 / rows), coord(-180 + (x + 0.5) * 360.0 / cols))
    (hot ++ grid).zipWithIndex.map { case ((la, lo), i) => Point(i.toLong, la, lo) }
  }

  // ---- curate_snapshot -------------------------------------------------

  /** Syllable words that are none of the engine's scored stopwords: the
   * text of the languages the scorer does not know. */
  private val OtherVocab: Array[String] = {
    val syl = for (c <- "bkmrstvz"; v <- "aeiou") yield s"$c$v"
    (for (a <- syl; b <- syl.take(12)) yield a + b).toArray
  }

  /** Vocabularies per language; the first eight words of each are the
   * stopwords the engine's language scorer counts. */
  private val LangVocab: Map[String, Array[String]] = Map(
    "en" -> (Array("the", "a", "of", "and", "to", "in", "is", "it") ++ Words),
    "de" -> (Array("der", "die", "das", "und", "ist", "ein", "zu", "den") ++
      Array("fluss", "markt", "turm", "garten", "strasse", "platz", "haus", "stadt")),
    "fr" -> (Array("le", "la", "les", "et", "est", "un", "une", "des") ++
      Array("rue", "pont", "tour", "jardin", "marche", "ville", "place", "musee")),
    "es" -> (Array("el", "la", "los", "y", "es", "un", "una", "de") ++
      Array("calle", "puente", "torre", "jardin", "mercado", "ciudad", "plaza", "museo")),
    "other" -> OtherVocab)

  private val ContentVocab: Map[String, Array[String]] =
    LangVocab.map { case (l, v) => l -> (if (l == "other") v else v.drop(8)) }

  /** Primary-language shares. Common Crawl's published per-crawl language
   * statistics (CLD2, 2023-2024 crawls) put English near 45%, German near
   * 6% and French and Spanish near 4.5% each; the rest is languages the
   * engine's scorer does not know. */
  val LangShares: Seq[(String, Double)] =
    Seq("en" -> 0.45, "de" -> 0.06, "fr" -> 0.045, "es" -> 0.045, "other" -> 0.40)

  /** Shares of pages generated as copies of an earlier original page.
   * Fetterly, Manasse and Najork, "On the evolution of clusters of
   * near-duplicate web pages" (LA-WEB 2003), report 29.2% of 150 M crawled
   * pages as very similar to another page and 22.2% as virtually
   * identical: 22% exact copies, and the 7% between as near copies (one
   * paragraph edited). */
  val ExactDupShare = 0.22
  val NearDupShare = 0.07
  /** Assumption: pages that quote a benchmark passage. No per-page web
   * rate is published; 2% gives the decontamination stage work. */
  val ContaminatedShare = 0.02
  /** Assumption: pages of chrome with almost no text (below the quality
   * screen's token floor). */
  val ShortShare = 0.06
  /** Hosts: Zipf(1) over 24 hosts. Assumption: pages per host are heavy
   * tailed on the web; the largest host carries ~26% of the pages, so the
   * per-source cap has work. */
  val Hosts = 24
  private val HostShares = (1 to Hosts).map(h => s"src${h - 1}.example" -> 1.0 / h)

  /** Benchmark passages (the decontamination set). */
  def benchmarkPassages(seed: Long, n: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 31 + 5)
    (0 until n).map(i => s"question $i " + words(r, 24, Words))
  }

  /** Curation corpus. `kind` records what each doc was generated as.
   * Every kind and host count is exact (see [[allot]]), so the number of
   * documents that reach each curation stage does not move with the seed.
   * Contaminated and near-empty pages are English; a near-empty page has
   * four words of text, one of them a stopword, so it passes the language
   * screen and fails the quality screen. */
  def curationDocs(seed: Long, n: Int, bench: Seq[String]): Seq[Doc] = {
    val r = new SplittableRandom(seed * 31 + 4)
    val plain = 1 - ExactDupShare - NearDupShare - ContaminatedShare - ShortShare
    val kinds = allot(n, Seq("exact_dup" -> ExactDupShare, "near_dup" -> NearDupShare,
      "contaminated" -> ContaminatedShare, "short" -> ShortShare) ++
      LangShares.map { case (l, x) => l -> x * plain })
    val sizes = sizeStrata(r, n)
    val html = new Array[Array[Byte]](n)
    kinds.indices.filter(i => kinds(i) != "exact_dup" && kinds(i) != "near_dup").foreach { i =>
      val kind = kinds(i)
      val lang = if (kind == "short" || kind == "contaminated") "en" else kind
      val vocab = LangVocab(lang)
      val paras =
        if (kind == "short") Seq("the " + words(r, 3, ContentVocab("en")))
        else paragraphs(r, textWords(sizes(i)), vocab)
      val slots: Int => String = p =>
        if (kind == "contaminated" && p == 0) s"<p>${bench(r.nextInt(bench.size))}</p> " else ""
      // anchors carry content words only, so a page with almost no body
      // text fails the quality screen's stopword share
      html(i) = page(r, sizes(i), words(r, 3, vocab), "", paras, slots, ContentVocab(lang))
    }
    // copies are made of kept-language originals only, the one closest in
    // size: every duplicate group is a star, so the near-dup
    // connected-component rounds do not depend on the seed through chains
    // of copies of copies
    val originals = kinds.indices.filter(i => Set("en", "de", "fr")(kinds(i)))
    kinds.indices.filter(i => kinds(i) == "exact_dup" || kinds(i) == "near_dup").foreach { i =>
      val base = html(originals.minBy(o => math.abs(sizes(o) - sizes(i))))
      html(i) =
        if (kinds(i) == "exact_dup") base
        else {
          val s = new String(base, "UTF-8")
          val cut = s.indexOf("</p>")
          (s.substring(0, cut) + " " + words(r, 3, Words) + s.substring(cut)).getBytes("UTF-8")
        }
    }
    val order = shuffle(r, kinds.indices.toArray)
    val hosts = shuffle(r, allot(n, HostShares))
    order.indices.map { id =>
      val i = order(id)
      Doc(id.toLong, s"https://${hosts(id)}/d/$id", hosts(id), html(i), kinds(i))
    }
  }
}
