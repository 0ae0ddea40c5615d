package graftbench

import java.lang.management.ManagementFactory

import graft.core.Utf8
import graft.geo.{CellIndex, Geometry}
import graft.parse.{Extractor, HtmlParser}

/** Single-thread kernel timings over a workload's own inputs, with bytes
 * allocated by the timing thread (ThreadMXBean). */
object Kernels {
  private val tmx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  @volatile private var sink = 0L

  /** Warm passes for `minS` seconds, then timed passes for `minS` more.
   * Returns (seconds per pass, bytes allocated per pass). */
  private def measure(minS: Double)(pass: => Long): (Double, Double) = {
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < minS) sink += pass
    var n = 0
    val a0 = tmx.getCurrentThreadAllocatedBytes
    val t0 = System.nanoTime()
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < minS) { sink += pass; n += 1 }
    val s = (System.nanoTime() - t0) / 1e9 / n
    (s, (tmx.getCurrentThreadAllocatedBytes - a0).toDouble / n)
  }

  /** HTML kernels over every `every`-th page of `all`. `parse.corpus_s`
   * scales the workload's own parse call (`geo`: geo entities, `text`:
   * text extraction) from the sample to one thread over all pages. */
  def html(all: Seq[Array[Byte]], every: Int, call: String, minS: Double): Map[String, Double] = {
    val docs = all.indices.collect { case i if i % every == 0 => all(i) }
    val bytes = docs.map(_.length.toLong).sum
    val mb = bytes / 1048576.0
    val kb = bytes / 1024.0
    val (uS, uA) = measure(minS)(docs.map(d => Utf8.decodeReplace(d).length.toLong).sum)
    val (pS, pA) = measure(minS)(docs.map(d => HtmlParser.parse(d).nodes.length.toLong).sum)
    val nodes = docs.map(d => HtmlParser.parse(d).nodes.length.toLong).sum.toDouble / docs.size
    val (tS, _) = measure(minS)(docs.map(d => Extractor.extractTextBytes(d).length.toLong).sum)
    val (gS, _) = measure(minS)(docs.map(d => Extractor.geoEntities(d).size.toLong).sum)
    Map(
      "core.utf8_mb_per_s" -> mb / uS,
      "core.utf8_alloc_b_per_kb" -> uA / kb,
      "parse.html_mb_per_s" -> mb / pS,
      "parse.html_alloc_b_per_doc" -> pA / docs.size,
      "parse.nodes_per_doc" -> nodes,
      "parse.extract_text_mb_per_s" -> mb / tS,
      "parse.geo_docs_per_s" -> docs.size / gS,
      "parse.corpus_s" -> (if (call == "geo") gS else tS) * all.map(_.length.toLong).sum / bytes)
  }

  /** Points are (lat, lon); each PIP test pairs point i with ring i mod R. */
  def geo(pts: Array[(Double, Double)], rings: Seq[Array[Double]], res: Int, bands: Int,
      minS: Double): Map[String, Double] = {
    val rs = rings.toArray
    val idx = rs.map(r => Geometry.yBandIndex(r, bands))
    val n = pts.length
    val (cS, _) = measure(minS) {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= CellIndex.latLonToCell(pts(i)._1, pts(i)._2, res); i += 1 }
      acc
    }
    val (pS, _) = measure(minS) {
      var acc = 0L; var i = 0
      while (i < n) {
        if (Geometry.pointInPolygon(pts(i)._2, pts(i)._1, rs(i % rs.length))) acc += 1
        i += 1
      }
      acc
    }
    val (xS, _) = measure(minS) {
      var acc = 0L; var i = 0
      while (i < n) {
        val j = i % rs.length
        if (Geometry.pointInPolygonIndexed(pts(i)._2, pts(i)._1, rs(j), idx(j))) acc += 1
        i += 1
      }
      acc
    }
    val cover = rs.map(r => Geometry.cellCover(r, res).length.toLong).sum.toDouble / rs.length
    val cells = pts.map { case (la, lo) => CellIndex.latLonToCell(la, lo, res) }
    var emitted = 0L
    val (dS, _) = measure(minS) {
      var acc = 0L; var i = 0
      while (i < n) { acc += CellIndex.diskBand(cells(i), 0, 2).length; i += 1 }
      emitted = acc
      acc
    }
    Map(
      "geo.cell_id_m_per_s" -> n / cS / 1e6,
      "geo.pip_m_per_s" -> n / pS / 1e6,
      "geo.pip_indexed_m_per_s" -> n / xS / 1e6,
      "geo.cover_cells_per_polygon" -> cover,
      "geo.disk_band_cells_per_s" -> emitted / dS)
  }
}
