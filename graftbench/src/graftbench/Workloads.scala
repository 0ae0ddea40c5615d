package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.functions.{cell_center_lat, cell_center_lon, cell_cover, cell_id, extract_geo}
import graft.geo.CellIndex
import graft.operators.{Curation, Dedup, Knn, SpatialJoin, Tiler}
import graft.parse.Extractor
import graft.snap.SnapshotCatalog

/** Result of a workload's untimed check job. */
final case class Check(failures: Seq[String], digest: String, extra: Map[String, Double])

/** Result of one timed job: the output digest and job-level measurements. */
final case class JobOut(digest: String, extra: Map[String, Double])

/** Shared helpers: sinks, digests, materialization, file sizes. */
object Util {
  /** Consume a result the way the engine's benches do: a `noop` write. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-row hash over the columns in name order, folded into
   * [0, 2^31-1) so its sum cannot overflow under ANSI. */
  private def rowHash(df: DataFrame) =
    pmod(xxhash64(df.columns.sorted.map(col).toSeq: _*), lit(2147483647L))

  /** Order-independent content digest: row count and summed row hashes. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(rowHash(df))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}"
  }

  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** `df` with the [[digest]] aggregates riding whatever action consumes
   * it (an Observation: no extra job). */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation(s"graftbench_${observations.incrementAndGet()}")
    (df.observe(o, count(lit(1)).as("n"), sum(rowHash(df)).as("h")), o)
  }

  /** Summed digest of several observed outputs (same form as [[digest]]). */
  def digestOf(os: Seq[Observation]): String = {
    val ms = os.map(_.get)
    s"${ms.map(_("n").asInstanceOf[Long]).sum}:${ms.map(m => Option(m("h")).fold(0L)(_.asInstanceOf[Long])).sum}"
  }

  /** Consume with a noop write; returns the output's digest. */
  def sink(df: DataFrame): String = { val (d, o) = observed(df); noop(d); digestOf(Seq(o)) }

  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
  def release(df: DataFrame*): Unit = df.foreach(GraftBridge.releaseCheckpointBlocks(_))

  def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Every path under `p` (itself included), parents before children.
   * Unlike `Files.walk` it skips an entry that vanishes while it lists:
   * Spark's cleaner deletes under spark.local.dir at any time. */
  def tree(p: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer[Path]()
    def go(f: java.io.File): Unit = {
      out += f.toPath
      Option(f.listFiles()).foreach(_.foreach(go))
    }
    val root = p.toFile
    if (root.exists()) go(root)
    out.toSeq
  }

  def files(p: Path): Seq[Path] = tree(p).filter(Files.isRegularFile(_))

  def bytes(p: Path): Long = files(p).map(Files.size).sum
  def parquetFiles(p: Path): Seq[Path] = files(p).filter(_.getFileName.toString.endsWith(".parquet"))

  def deleteTree(p: Path): Unit = tree(p).reverse.foreach(Files.deleteIfExists)

  /** Row groups per parquet file, read from the footers. */
  def rowGroups(spark: SparkSession, p: Path): Seq[Int] = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(p).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size finally r.close()
    }
  }

  /** Brute-force even-odd ray casting; ring is [x, y, ...]. */
  def inside(x: Double, y: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    var c = false; var i = 0; var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1); val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if (((yi > y) != (yj > y)) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) c = !c
      j = i; i += 1
    }
    c
  }

  def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val m = s.size / 2; if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }
}

import Util._

/** One benchmark workload: its seeded inputs, the fused pipeline that is
 * timed, an untimed check job, and the traced per-operator run. */
abstract class Workload {
  def name: String
  /** What one item is, and how many a job processes. */
  def itemName: String
  def items: Long
  /** Input sizes and generator properties, recorded in every result. */
  def info: Map[String, Any]
  def write(spark: SparkSession, dir: Path): Unit
  /** Bytes of the stored input. */
  def inputBytes(dir: Path): Long = bytes(dir.resolve("in"))
  /** The fused pipeline: output digest and job-level measurements. */
  def job(spark: SparkSession, dir: Path): JobOut
  def check(spark: SparkSession, dir: Path, first: Boolean): Check
  /** Traced run: one span per operator over its materialized input.
   * Returns per-layer metrics measured along the way. */
  def split(spark: SparkSession, dir: Path, t: Tracer, probe: Probe): Map[String, Double]
  def kernels(minS: Double): Map[String, Double]
  /** Operator span names this workload reports (operators.<op>.s). */
  def ops: Seq[String]
  /** Least timed jobs per leg, however long they take. */
  def minJobs: Int = 1
  /** Untimed warm-up jobs at the start of each leg's session, and in the
   * first leg, after the check job. */
  def warmJobs: Int = 0
  def firstWarmJobs: Int = 0
  /** Pages the single-thread kernels run over: every 10th page, a
   * sample that keeps the size mix. */
  protected val KernelSample = 10

  protected def in(dir: Path, t: String): String = dir.resolve("in").resolve(t).toString

  /** Time one operator: untimed input is already materialized; the span
   * covers the public call plus a noop write of its output. */
  protected def op(t: Tracer, name: String, layer: String)(f: => DataFrame): Unit =
    t.span(name, layer)(noop(f))

  protected def mat(t: Tracer, df: => DataFrame): DataFrame =
    t.span("materialize", "harness")(materialize(df))
}

// ---------------------------------------------------------------------------

/** Flagship pipeline over many parquet files: extract_geo → cell_id →
 * SpatialJoin against a small broadcastable few-edge layer → raster. */
final class GeoTiles(seed: Long) extends Workload {
  val name = "geo_tiles"
  val itemName = "pages"
  /** Sized so a job at N threads takes about two seconds, most of it
   * parsing (see parse.job_share in README.md); 16 pages per file. */
  val NPages = 384
  val NFiles = 24
  val NPolys = 48
  val HotShare = 0.3
  val JoinRes = 8
  val CellRes = 14
  val Zoom = 6

  lazy val pages: Seq[Gen.Page] = Gen.geoPages(seed, NPages, HotShare)
  lazy val polys: Seq[Gen.Polygon] = Gen.polygons(seed, NPolys, 4, 8, 0.5, 6.0, 0.35)
  def items: Long = NPages

  def info: Map[String, Any] = Map(
    "pages" -> NPages, "parquet_files" -> NFiles,
    "html_bytes" -> pages.map(_.html.length.toLong).sum,
    "page_bytes_p50" -> med(pages.map(_.html.length.toDouble)),
    "page_bytes_max" -> pages.map(_.html.length).max,
    "text_share" -> Gen.TextShare, "script_share" -> Gen.ScriptShare,
    "entities" -> pages.map(_.entities.size).sum,
    "hot_share" -> HotShare, "polygons" -> NPolys, "polygon_edges" -> "4-8",
    "join_res" -> JoinRes, "cell_res" -> CellRes, "zoom" -> Zoom)

  /** Pages in the order that makes Store's round-robin deal give every
   * file nearly the same bytes: largest first, dealt in snake order. With
   * a plain deal the largest file, and so the slowest scan task, moved
   * with the seed. */
  private lazy val balanced: IndexedSeq[Gen.Page] = {
    val out = new Array[Gen.Page](NPages)
    pages.sortBy(p => (-p.html.length, p.id)).zipWithIndex.foreach { case (p, t) =>
      val round = t / NFiles; val pos = t % NFiles
      out(round * NFiles + (if (round % 2 == 0) pos else NFiles - 1 - pos)) = p
    }
    out.toIndexedSeq
  }

  def write(spark: SparkSession, dir: Path): Unit = {
    Store.write(dir.resolve("in/pages"), "message pages { required int64 page_id; " +
        "required binary url (STRING); required binary html; }", NFiles, balanced) { (g, p) =>
      g.append("page_id", p.id).append("url", p.url).append("html", Store.bin(p.html))
    }
    Store.write(dir.resolve("in/polygons"), s"message polygons { required int64 polygon_id; ${Store.Ring} }",
        1, polys.toIndexedSeq) { (g, p) => g.append("polygon_id", p.id); Store.ring(g, "ring", p.ring) }
  }

  private def ents(pages: DataFrame): DataFrame =
    pages.select(col("url"), extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
  private def cells(ents: DataFrame): DataFrame =
    ents.withColumn("cell", cell_id(col("lat"), col("lon"), CellRes))
  private def join(cells: DataFrame, polys: DataFrame): DataFrame =
    SpatialJoin(cells, polys, col("lat"), col("lon"), col("ring"), JoinRes)
  /** Tiles from the cell centres: the cell hierarchy is exact, so a
   * res-14 centre falls in the same pixel as the point itself. */
  private def tiles(joined: DataFrame): DataFrame =
    Tiler.raster(joined.select(cell_center_lat(col("cell")).as("clat"),
      cell_center_lon(col("cell")).as("clon")), "clat", "clon", Zoom)

  private def pipeline(spark: SparkSession, dir: Path): (DataFrame, DataFrame) = {
    val joined = join(cells(ents(spark.read.parquet(in(dir, "pages")))),
      spark.read.parquet(in(dir, "polygons")))
    (joined, tiles(joined))
  }

  def job(spark: SparkSession, dir: Path): JobOut =
    JobOut(sink(pipeline(spark, dir)._2),
      Map("stored_bytes_per_input_byte" -> inputBytes(dir).toDouble / info("html_bytes").asInstanceOf[Long]))

  private lazy val rings = polys.map(p => p.id -> p.ring)
  private def hits(e: Gen.Entity): Seq[Long] = rings.collect { case (id, r) if inside(e.lon, e.lat, r) => id }

  private lazy val expectedTiles: Seq[(Long, Int, Int, Long)] =
    pages.flatMap(_.entities).flatMap(e => hits(e).map(_ => e)).map { e =>
      val pc = CellIndex.latLonToCell(e.lat, e.lon, Zoom + Tiler.SubGridBits)
      (CellIndex.parent(pc, Zoom), (CellIndex.ix(pc) & 15).toInt, (CellIndex.iy(pc) & 15).toInt)
    }.groupBy(identity).toSeq.map { case ((t, x, y), v) => (t, x, y, v.size.toLong) }.sorted

  def check(spark: SparkSession, dir: Path, first: Boolean): Check = {
    val (joined0, _) = pipeline(spark, dir)
    val joined = materialize(joined0)
    val got = tiles(joined).collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getLong(4))).toSeq.sorted
    val sample = pages.filter(_.id % 25 == 0)
    val gotPairs = joined.where(col("url").isin(sample.map(_.url): _*))
      .select("url", "entity_idx", "polygon_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val expPairs = sample.flatMap(p => p.entities.flatMap(e => hits(e).map(h => (p.url, e.idx, h)))).sorted
    val fails =
      (if (got != expectedTiles) Seq(s"tiles differ from brute force (${got.size} vs ${expectedTiles.size} pixels)") else Nil) ++
      (if (gotPairs != expPairs) Seq(s"sampled join pairs differ (${gotPairs.size} vs ${expPairs.size})") else Nil)
    val dg = digest(tiles(joined))
    release(joined)
    Check(fails, dg, Map(
      "check.pairs_sampled" -> expPairs.size.toDouble, "check.tile_pixels" -> got.size.toDouble))
  }

  def split(spark: SparkSession, dir: Path, t: Tracer, probe: Probe): Map[String, Double] = {
    val pagesM = mat(t, spark.read.parquet(in(dir, "pages")))
    val polysM = mat(t, spark.read.parquet(in(dir, "polygons")))
    op(t, "extract_geo", "functions")(ents(pagesM))
    val entsM = mat(t, ents(pagesM))
    op(t, "cell_id", "functions")(cells(entsM))
    val cellsM = mat(t, cells(entsM))
    op(t, "spatial_join", "operators")(join(cellsM, polysM))
    val joinedM = mat(t, join(cellsM, polysM))
    op(t, "raster", "operators")(tiles(joinedM))
    val hitN = joinedM.count()
    val cand = cellsM.select(cell_id(col("lat"), col("lon"), JoinRes).as("c"))
      .join(polysM.select(cell_cover(col("ring"), JoinRes).as("c")), "c").count()
    release(pagesM, polysM, entsM, cellsM, joinedM)
    Map("operators.spatial_join.candidates" -> cand.toDouble,
      "operators.spatial_join.hits" -> hitN.toDouble,
      "operators.spatial_join.hit_ratio" -> hitN.toDouble / math.max(1L, cand))
  }

  def kernels(minS: Double): Map[String, Double] = {
    val pts = pages.flatMap(_.entities).map(e => (e.lat, e.lon)).toArray
    Kernels.html(pages.map(_.html), KernelSample, "geo", minS) ++
      Kernels.geo(pts, polys.map(_.ring), JoinRes, 16, minS)
  }

  val ops = Seq("extract_geo", "cell_id", "spatial_join", "raster")
  /** One warm-up job per session; the JIT is still speeding up the first
   * leg's jobs after the check job, so that leg runs three. */
  override val warmJobs = 1
  override val firstWarmJobs = 3
}

// ---------------------------------------------------------------------------

/** Points, no HTML: a pure-SQL point_in_polygon join against a many-edge
 * layer larger than the broadcast threshold (SpatialJoinRule must turn it
 * into a cell-keyed shuffle join), then Knn at k = 1, 3 and 8. */
final class JoinKnn(seed: Long) extends Workload {
  val name = "join_knn"
  val itemName = "query points"
  val NPoints = 3000
  val NTargets = 400
  val NPolys = 360
  val Verts = 2048
  val HotShare = 0.3
  val Ks = Seq(1, 3, 8)

  lazy val pts: Seq[Gen.Point] = Gen.points(seed, 3, NPoints, HotShare)
  lazy val targets: Seq[Gen.Point] = Gen.gridTargets(seed, NTargets, HotShare)
  lazy val polys: Seq[Gen.Polygon] = Gen.polygons(seed, NPolys, Verts, Verts, 0.3, 1.5, 0.15)
  def items: Long = NPoints

  def info: Map[String, Any] = Map(
    "points" -> NPoints, "targets" -> targets.size, "target_layout" -> "hot box + fixed grid",
    "hot_share" -> HotShare,
    "polygons" -> NPolys, "polygon_edges" -> Verts, "k" -> Ks,
    "knn_res" -> Ks.map(k => Knn.suggestRes(NTargets, k)))

  def write(spark: SparkSession, dir: Path): Unit = {
    def points(t: String, files: Int, xs: Seq[Gen.Point], id: String, lat: String, lon: String): Unit =
      Store.write(dir.resolve(s"in/$t"), s"message $t { required int64 $id; required double $lat; " +
          s"required double $lon; }", files, xs.toIndexedSeq) { (g, p) =>
        g.append(id, p.id).append(lat, p.lat).append(lon, p.lon)
      }
    points("points", 8, pts, "pid", "lat", "lon")
    points("targets", 4, targets, "tid", "tlat", "tlon")
    Store.write(dir.resolve("in/polygons"), s"message polygons { required int64 polygon_id; ${Store.Ring} }",
        1, polys.toIndexedSeq) { (g, p) => g.append("polygon_id", p.id); Store.ring(g, "ring", p.ring) }
  }

  private val Sql = "SELECT p.pid, g.polygon_id FROM gb_points p JOIN gb_polys g " +
    "ON point_in_polygon(p.lon, p.lat, g.ring)"

  private def sqlJoin(spark: SparkSession, points: DataFrame, polys: DataFrame): DataFrame = {
    points.createOrReplaceTempView("gb_points")
    polys.createOrReplaceTempView("gb_polys")
    spark.sql(Sql)
  }
  private def knn(points: DataFrame, targets: DataFrame, k: Int): DataFrame =
    Knn(points, "pid", "lat", "lon", targets, "tid", "tlat", "tlon", k, Knn.suggestRes(NTargets, k))

  private def read(spark: SparkSession, dir: Path) =
    (spark.read.parquet(in(dir, "points")), spark.read.parquet(in(dir, "targets")),
      spark.read.parquet(in(dir, "polygons")))

  def job(spark: SparkSession, dir: Path): JobOut = {
    val (p, tg, g) = read(spark, dir)
    val jd = sink(sqlJoin(spark, p, g))
    val kd = Ks.map { k => val r = knn(p, tg, k); val d = sink(r); release(r); d }
    JobOut((jd +: kd).mkString("|"), Map("stored_bytes_per_input_byte" ->
      inputBytes(dir).toDouble / ((NPoints + targets.size) * 24L + polys.map(_.ring.length * 8L).sum)))
  }

  private def bruteKnn(q: Gen.Point, k: Int): Seq[Long] =
    targets.map { t => val dy = q.lat - t.lat; val dx = q.lon - t.lon; (dx * dx + dy * dy, t.id) }
      .sorted.take(k).map(_._2)

  def check(spark: SparkSession, dir: Path, first: Boolean): Check = {
    val (p, tg, g) = read(spark, dir)
    val sample = pts.filter(_.id % 97 == 0)
    val ids = sample.map(_.id)
    val j0 = sqlJoin(spark, p, g)
    val plan = j0.queryExecution.executedPlan.toString + j0.queryExecution.optimizedPlan.toString
    val j = materialize(j0)
    val gotPairs = j.where(col("pid").isin(ids: _*)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expPairs = sample.flatMap(q => polys.collect { case g2 if inside(q.lon, q.lat, g2.ring) => (q.id, g2.id) }).sorted
    val jd = digest(j)
    release(j)
    var fails = Seq.empty[String]
    if (gotPairs != expPairs) fails :+= s"sampled SQL PIP pairs differ (${gotPairs.size} vs ${expPairs.size})"
    if (!plan.contains("__graft_cover")) fails :+= "SpatialJoinRule did not rewrite the SQL join"
    if (plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct")) fails :+= "SQL join planned as a nested loop"
    val kd = Ks.map { k =>
      val r = knn(p, tg, k)
      val got = r.where(col("pid").isin(ids: _*)).select("pid", "tid", "rank").collect()
        .map(x => (x.getLong(0), x.getInt(2), x.getLong(1))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.sortBy(_._2).map(_._3).toSeq }
      val bad = sample.count(q => got.getOrElse(q.id, Nil) != bruteKnn(q, k))
      if (bad > 0) fails :+= s"knn k=$k: $bad of ${sample.size} sampled queries differ from brute force"
      val d = digest(r)
      release(r)
      d
    }
    Check(fails, (jd +: kd).mkString("|"), Map("check.pairs_sampled" -> expPairs.size.toDouble,
      "check.knn_queries_sampled" -> sample.size.toDouble))
  }

  def split(spark: SparkSession, dir: Path, t: Tracer, probe: Probe): Map[String, Double] = {
    val (p0, tg0, g0) = read(spark, dir)
    val p = mat(t, p0); val tg = mat(t, tg0); val g = mat(t, g0)
    val cand = p.select(cell_id(col("lat"), col("lon"), 7).as("c"))
      .join(g.select(cell_cover(col("ring"), 7).as("c")), "c").count()
    var hitN = 0L
    op(t, "sql_pip_join", "plans")(sqlJoin(spark, p, g))
    hitN = sqlJoin(spark, p, g).count()
    val (s0, _, _) = probe.snap()
    Ks.foreach { k =>
      t.span(s"knn_k$k", "operators") { val r = knn(p, tg, k); noop(r); release(r) }
    }
    val (s1, _, _) = probe.snap()
    val d = s1 - s0
    release(p, tg, g)
    Map("operators.spatial_join.candidates" -> cand.toDouble,
      "operators.spatial_join.hits" -> hitN.toDouble,
      "operators.spatial_join.hit_ratio" -> hitN.toDouble / math.max(1L, cand),
      "operators.knn.jobs_per_call" -> d.jobs.toDouble / Ks.size,
      "operators.knn.candidates_per_query" -> d.joinRows.toDouble / (Ks.size * NPoints))
  }

  def kernels(minS: Double): Map[String, Double] =
    Kernels.geo(pts.map(q => (q.lat, q.lon)).toArray, polys.map(_.ring), 7, 16, minS)

  val ops = Seq("sql_pip_join") ++ Ks.map(k => s"knn_k$k")
  /** A new session's first job runs ~20% slow here. */
  override val warmJobs = 1
}

// ---------------------------------------------------------------------------

/** Curation over ONE parquet file with ONE row group: Engine.extractText →
 * Curation.curate → SnapshotCatalog.resumableRun waves → compact. */
final class CurateSnapshot(seed: Long) extends Workload {
  val name = "curate_snapshot"
  val itemName = "pages"
  /** Sized so the near-dup stage's candidate pairs fit: with 4 x 4 bands
   * almost every pair of surviving documents is a candidate (see
   * README.md, found defect), and the pairs grow with the square of the
   * corpus. */
  val NDocs = 120
  val NBench = 40
  val Waves = 4
  /** The largest host keeps about ten documents up to this stage, so the
   * cap drops a few or none. A tighter cap drops more documents, and
   * which ones moves stored_bytes_per_input_byte from seed to seed. */
  val CapPerSource = 10
  /** 16 minhashes in 4 bands of 4, a usual LSH setting. The engine cuts
   * one md5 into 32 / 16 = 2 hex digits per minhash, whose minimum over a
   * page's shingles is almost always "00": nearly every pair becomes a
   * candidate. The workload keeps this setting so that a fix shows in
   * items_per_s and operators.dedup.verify_ratio. */
  val Bands = 4
  val RowsPerBand = 4

  lazy val bench: Seq[String] = Gen.benchmarkPassages(seed, NBench)
  lazy val docs: Seq[Gen.Doc] = Gen.curationDocs(seed, NDocs, bench)
  def items: Long = NDocs

  def info: Map[String, Any] = Map(
    "pages" -> NDocs, "parquet_files" -> 1, "html_bytes" -> docs.map(_.html.length.toLong).sum,
    "page_bytes_p50" -> med(docs.map(_.html.length.toDouble)),
    "benchmark_passages" -> NBench, "waves" -> Waves, "bands" -> Bands, "rows_per_band" -> RowsPerBand,
    "cap_per_source" -> CapPerSource, "hosts" -> Gen.Hosts, "lang_shares" -> Gen.LangShares.toMap,
    "kinds" -> docs.groupBy(_.kind).map { case (k, v) => k -> v.size })

  def write(spark: SparkSession, dir: Path): Unit =
    Store.write(dir.resolve("in/pages"), "message pages { required binary url (STRING); required binary html; }",
        1, docs.toIndexedSeq) { (g, d) => g.append("url", d.url).append("html", Store.bin(d.html)) }

  private def docsOf(pages: DataFrame): DataFrame =
    Engine.extractText(pages).select(
      regexp_extract(col("url"), "/d/([0-9]+)$", 1).cast("long").as("doc_id"),
      col("url"), regexp_extract(col("url"), "^https://([^/]+)/", 1).as("source"), col("text"))

  private def curate(spark: SparkSession, d: DataFrame): DataFrame =
    Curation.curate(d, "doc_id", "text", "source",
      benchmark = spark.createDataFrame(bench.map(Tuple1(_))).toDF("text"),
      keepLangs = Seq("en", "de", "fr"), minTokens = 20, minStopPct = 5,
      bands = Bands, rowsPerBand = RowsPerBand, threshold = 0.7, nGram = 8,
      capPerSource = CapPerSource, capSalt = "cap", splits = Seq(("train", 9L), ("valid", 1L)),
      splitSalt = "split")

  private def kept(labels: DataFrame, d: DataFrame): DataFrame =
    labels.where(col("stage") === "kept").select("doc_id", "split").join(d, "doc_id")

  private var jobNo = 0

  /** Writes the kept docs as snapshot waves; `transform` sees each wave. */
  private def waves(spark: SparkSession, k: DataFrame, root: Path, table: String)
      (transform: DataFrame => DataFrame): Int =
    SnapshotCatalog.resumableRun(spark, k, "doc_id", Waves, root.toString, table)(transform)

  def job(spark: SparkSession, dir: Path): JobOut = {
    jobNo += 1
    val d = docsOf(spark.read.parquet(in(dir, "pages")))
    val labels = curate(spark, d)
    val k = kept(labels, d)
    val root = dir.resolve("snap"); val table = s"corpus_$jobNo"
    val obs = scala.collection.mutable.ArrayBuffer[Observation]()
    waves(spark, k, root, table) { w => val (o, ob) = observed(w); obs += ob; o }
    SnapshotCatalog.compact(spark, root.toString, table, targetFiles = 1)
    val stored = bytes(root.resolve(table))
    release(labels, k)
    SnapshotCatalog.dropTable(root.toString, table)
    JobOut(digestOf(obs.toSeq), Map("stored_bytes_per_input_byte" -> stored.toDouble / inputBytes(dir)))
  }

  private var drops = Map.empty[String, Double]

  def check(spark: SparkSession, dir: Path, first: Boolean): Check = {
    var fails = Seq.empty[String]
    val extra = scala.collection.mutable.Map[String, Double]()
    val pages = spark.read.parquet(in(dir, "pages"))
    val groups = rowGroups(spark, dir.resolve("in").resolve("pages"))
    if (groups != Seq(1)) fails :+= s"input is not one file with one row group: $groups"
    // inputs of the check's several wave runs are materialized once
    val d = materialize(docsOf(pages))
    val sample = docs.filter(_.id % 10 == 0)
    val got = d.where(col("url").isin(sample.map(_.url): _*)).select("url", "text").collect()
      .map(r => r.getString(0) -> md5hex(r.getString(1).getBytes("UTF-8"))).toMap
    val bad = sample.count(x => !got.get(x.url).contains(md5hex(Extractor.extractText(x.html).getBytes("UTF-8"))))
    if (bad > 0) fails :+= s"extracted text md5 differs on $bad of ${sample.size} sampled urls"
    val labels = curate(spark, d)
    val stages = labels.groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (stages.values.sum != NDocs) fails :+= s"curate labelled ${stages.values.sum} of $NDocs docs"
    drops = Seq("lang", "quality", "exact_dup", "near_dup", "contaminated", "capped", "kept")
      .map(s => s -> stages.getOrElse(s, 0L).toDouble).toMap
    val k = materialize(kept(labels, d))
    val root = dir.resolve("snap")
    waves(spark, k, root, "check")(identity)
    SnapshotCatalog.compact(spark, root.toString, "check", targetFiles = 1)
    val dg = digest(SnapshotCatalog.read(spark, root.toString, "check"))
    if (first) {
      // interrupt a run mid-waves with a failure thrown from this
      // benchmark's own transform (a task fails while wave 2 is written),
      // then resume it; the resumed table must equal the clean one
      var calls = 0
      val failing: DataFrame => DataFrame = { w =>
        calls += 1
        if (calls == 3) w.where(raise_error(lit("graftbench injected failure")).isNull) else w
      }
      val interrupted = try { waves(spark, k, root, "resume")(failing); false }
        catch { case scala.util.control.NonFatal(_) => true }
      val firstCalls = calls
      calls = 0
      val ran = waves(spark, k, root, "resume") { w => calls += 1; w }
      val wavesRerun = firstCalls + calls - Waves
      SnapshotCatalog.compact(spark, root.toString, "resume", targetFiles = 1)
      val rd = digest(SnapshotCatalog.read(spark, root.toString, "resume"))
      if (!interrupted) fails :+= "injected wave failure did not interrupt the run"
      if (ran != Waves - 2) fails :+= s"resume ran $ran waves, expected ${Waves - 2}"
      if (wavesRerun != 1) fails :+= s"waves_rerun = $wavesRerun, expected 1"
      extra += "check.waves_rerun" -> wavesRerun.toDouble
      if (rd != dg) fails :+= s"resumed table $rd != uninterrupted table $dg"
      SnapshotCatalog.dropTable(root.toString, "resume")
    }
    release(labels, k, d)
    SnapshotCatalog.dropTable(root.toString, "check")
    Check(fails, dg, extra.toMap + ("check.urls_sampled" -> sample.size.toDouble))
  }

  def split(spark: SparkSession, dir: Path, t: Tracer, probe: Probe): Map[String, Double] = {
    val pagesM = mat(t, spark.read.parquet(in(dir, "pages")))
    op(t, "extract_text", "api")(Engine.extractText(pagesM))
    val dM = mat(t, docsOf(pagesM))
    var labels: DataFrame = null
    t.span("curate", "operators") { labels = curate(spark, dM); noop(labels) }
    val kM = mat(t, kept(labels, dM))
    // the documents that reach the near-dup stage (survivors of stage 3)
    val s3M = mat(t, dM.join(labels.where(col("stage").isin("near_dup", "contaminated", "capped", "kept"))
      .select("doc_id"), "doc_id"))
    release(labels)
    val root = dir.resolve("snap"); val table = "traced"
    val calls = scala.collection.mutable.ArrayBuffer[Long]()
    t.span("resumable_run", "snap") {
      waves(spark, kM, root, table) { w => calls += System.nanoTime(); w }
    }
    val end = System.nanoTime()
    val waveMs = calls.zip(calls.drop(1) :+ end).map { case (a, b) => (b - a) / 1e6 }
    val tdir = root.resolve(table)
    val filesWritten = parquetFiles(tdir).size
    val bytesWritten = bytes(tdir)
    t.span("compact", "snap")(SnapshotCatalog.compact(spark, root.toString, table, targetFiles = 1))
    val compactS = t.spans.last.seconds
    val rewritten = bytes(tdir) - bytesWritten
    SnapshotCatalog.dropTable(root.toString, table)
    val (s0, _, _) = probe.snap()
    val pairs = t.span("dedup_probe", "operators")(Dedup.minhashLsh(s3M, "doc_id", "text", Bands, RowsPerBand, 0.7))
    val nPairs = pairs.count()
    val (s1, _, _) = probe.snap()
    release(pairs, s3M, kM, dM, pagesM)
    drops.map { case (s, v) => (if (s == "kept") "operators.curate.kept" else s"operators.curate.drops.$s") -> v } ++ Map(
      "operators.dedup.verify_ratio" -> nPairs.toDouble / math.max(1L, (s1 - s0).joinRows),
      "snap.wave_commit_p50_ms" -> med(waveMs.toSeq),
      "snap.wave_commit_max_ms" -> (if (waveMs.isEmpty) 0.0 else waveMs.max),
      "snap.files_written" -> filesWritten.toDouble,
      "snap.bytes_written" -> bytesWritten.toDouble,
      "snap.compact_s" -> compactS,
      "snap.bytes_rewritten" -> rewritten.toDouble)
  }

  def kernels(minS: Double): Map[String, Double] =
    Kernels.html(docs.map(_.html), KernelSample, "text", minS)

  val ops = Seq("extract_text", "curate", "resumable_run")

}
