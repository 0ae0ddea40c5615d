package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators._
import graft.sources.{Fixtures, PagesFromDocs}

/**
 * Driver contract (see /root/repo/SURVEY.md §2 for the operator inventory
 * each query exercises). Every query has an exact DuckDB oracle in
 * [[SparkEntry.oracleSql]]; column names and types are mirrored
 * (integers as BIGINT, floats rounded to 4dp AFTER identical arithmetic,
 * no timestamps in outputs).
 *
 * Cross-engine determinism rules used throughout:
 *  - money/measures sum as integer cents (double SUM order is
 *    nondeterministic; integer sums are exact);
 *  - list-valued intermediates are sorted before compare (DuckDB
 *    list_distinct does not preserve order);
 *  - only md5 is used as a portable hash;
 *  - coordinates derive from integer hundredths so both engines parse
 *    the identical double.
 */
object SparkEntry {

  private val scanSplits = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String, String), Int]]()

  /**
   * Read a fixture table, fanned out to the session's shuffle parallelism
   * when the scan itself plans fewer splits (guide §2.5, "input skew: one
   * huge unsplittable file — repartition immediately after the read").
   * The sf fixtures are single-row-group parquet files, so a plain read
   * plans ONE split and every whole-stage span fused to the scan
   * (tokenize / md5 / parse — the dominant cost of the dedup and text
   * queries) runs single-threaded no matter how many cores the session
   * has. The explicit numPartitions keeps AQE from re-coalescing the
   * exchange (user REPARTITION_BY_NUM shuffles are never coalesced); on a
   * real multi-file table the condition is false and NO extra exchange is
   * planned, so no 100-TB plan pays a gratuitous payload shuffle — the
   * target tracks spark.sql.shuffle.partitions (SPARK_GRAFT_CPUS in the
   * mains), never a hard-coded core count.
   *
   * The planned-split count is cached per session and read settings:
   * deciding via df.rdd costs a physical planning pass, and most queries
   * read the same table 2-5 times per invocation. The count is plan
   * METADATA (file splits), not data, so caching it is safe for the
   * immutable fixture files. The session is a weak key (a later session
   * can never inherit an entry), and the split-size confs are part of the
   * entry's key, so changing them re-plans instead of reusing a stale
   * count.
   */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = s.read.parquet(path)
    val target = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val splits = scanSplits.synchronized {
      scanSplits.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    }
    val key = (path, s.conf.get("spark.sql.files.maxPartitionBytes"),
      s.conf.get("spark.sql.files.openCostInBytes"))
    val parts = splits.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (parts < target) df.repartition(target) else df
  }

  /** Un-fanned read for queries whose per-row work is too light to repay
   * the fan-out exchange (measured: the cheap relational queries lose
   * 0.1-0.3 s to the extra shuffle while gaining nothing — their
   * scan-fused stages are trivial). Heavy-projection queries use [[tbl]]. */
  private def tblRaw(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch root for the snapshot-writing queries (q43/q104/q105/q107/
   * q124), under the session's spark.local.dir — tmpfs in the bench and
   * verify sessions, where the former /tmp roots sat on the sandbox's
   * slow shared virtual disk and their writeback taxed the timed region
   * (the r6 ADVICE finding). A real deployment points local.dir at
   * node-local NVMe, so the same choice holds at scale; without the conf
   * the JVM tmpdir is the fallback.
   *
   * The returned frames read their scratch tables lazily, so a dir lives
   * until the JVM exits; a shutdown hook then deletes every dir this JVM
   * created, and the graft-scratch root once it is empty (a bench's
   * repeated passes would otherwise fill tmpfs with snapshot output). */
  private def scratch(s: SparkSession, prefix: String): String = {
    val base = s.conf.getOption("spark.local.dir")
      .map(_.split(",")(0))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Paths.get(base, "graft-scratch")
    java.nio.file.Files.createDirectories(dir)
    val d = java.nio.file.Files.createTempDirectory(dir, prefix).toFile
    scratchDirs.add(d)
    d.toString
  }

  private val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  sys.addShutdownHook(scratchDirs.forEach { d =>
    deleteTree(d)
    d.getParentFile.delete() // only succeeds once the root is empty
  })

  /** Deletes a tree, skipping entries that vanish while it runs. */
  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Points derived from customer keys (mirrored in latSql/lonSql). */
  private def customerPoints(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_custkey"),
      (((col("c_custkey") * 7919) % 17000 - 8500).cast("double") / 100.0).as("lat"),
      (((col("c_custkey") * 104729) % 36000 - 18000).cast("double") / 100.0).as("lon"))

  /** Diamond polygons derived from nation keys. */
  private def nationPolygons(s: SparkSession, dir: String): DataFrame = {
    val n = col("n_nationkey")
    val cx = ((n * 7001) % 340 - 170).cast("double") + 0.5
    val cy = ((n * 3001) % 160 - 80).cast("double") + 0.5
    val w = (n % 7 + 8).cast("double") + 0.25
    val h = (n % 5 + 6).cast("double") + 0.25
    tbl(s, dir, "nation").select(
      n, cx.as("cx"), cy.as("cy"), w.as("w"), h.as("h"),
      array(cx + w, cy, cx, cy + h, cx - w, cy, cx, cy - h).as("ring"))
  }

  private val CentroidSqlCte =
    """ctr AS (SELECT n_nationkey,
      |  ((n_nationkey*7001) % 340 - 170) + 0.5 AS cx,
      |  ((n_nationkey*3001) % 160 - 80) + 0.5 AS cy,
      |  (n_nationkey % 7 + 8) + 0.25 AS w,
      |  (n_nationkey % 5 + 6) + 0.25 AS h FROM nation)""".stripMargin

  private val PointsSqlCte =
    """pts AS (SELECT c_custkey,
      |  ((c_custkey*7919) % 17000 - 8500) / 100.0 AS lat,
      |  ((c_custkey*104729) % 36000 - 18000) / 100.0 AS lon FROM customer)""".stripMargin

  /** DuckDB mirror of Dedup.minhashLsh (4 bands × 2 rows) at a given
   * jaccard threshold (shared by q13, q57, q58). */
  private def minhashPairsSql(threshold: Double): String =
    s"""WITH sets AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
       |sh AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |mh AS (SELECT doc_id, j.h_idx,
       |    min(substring(md5(s), CAST(j.h_idx*4 + 1 AS INTEGER), 4)) AS min_hash
       |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS h_idx) j GROUP BY doc_id, j.h_idx),
       |bk AS (SELECT doc_id, h_idx // 2 AS band,
       |  array_to_string(list_sort(list(lpad(h_idx::VARCHAR, 4, '0') || '=' || min_hash)), '|') AS band_key
       |  FROM mh GROUP BY doc_id, h_idx // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT key_a, key_b, jaccard FROM (
       |  SELECT key_a, key_b,
       |    round(len(list_filter(a.sh, v -> list_contains(b.sh, v)))::DOUBLE /
       |      (len(a.sh) + len(b.sh) - len(list_filter(a.sh, v -> list_contains(b.sh, v)))), 4) AS jaccard
       |  FROM cand JOIN sets a ON a.doc_id = key_a JOIN sets b ON b.doc_id = key_b)
       |WHERE jaccard >= $threshold""".stripMargin

  private lazy val Q13Sql: String = minhashPairsSql(0.05)

  /** DuckDB mirror of Graph.pageRank over the q99/q104 orders-derived
   * graph: `iters` exact 2^40 fixed-point iterations unrolled — integer
   * division everywhere (operands non-negative, so DuckDB // == Spark
   * div), long sums are order-free ⇒ bit-identical ranks. */
  private def pageRankSql(
      iters: Int,
      edgesSql: String =
        "SELECT DISTINCT o_custkey % 200 AS src, o_orderkey % 200 AS dst FROM orders")
    : String = {
    val scale = 1L << 40
    def iter(k: Int): String =
      s"""i$k AS (SELECT e.dst, sum(r.rank // deg.outdeg) AS s
         |  FROM e JOIN r${k - 1} r ON e.src = r.node
         |  JOIN deg ON e.src = deg.src GROUP BY e.dst),
         |r$k AS (SELECT node, ($scale * 15 // 100) // (SELECT n FROM params)
         |    + 85 * coalesce(i$k.s, 0) // 100 AS rank
         |  FROM nodes LEFT JOIN i$k ON nodes.node = i$k.dst)""".stripMargin
    s"""WITH e AS ($edgesSql),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |params AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, $scale // (SELECT n FROM params) AS rank FROM nodes),
       |${(1 to iters).map(iter).mkString(",\n")}
       |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank FROM r$iters""".stripMargin
  }

  /** DuckDB mirror of Graph.hits over the q99 orders-derived graph:
   * `iters` unnormalized I/O rounds unrolled — exact long sums (DuckDB
   * HUGEINT sums cast back; values bounded by Graph.hits's d^(2t−1)
   * bound, far below 2^63 on this graph). */
  private def hitsSql(iters: Int): String = {
    def round(k: Int): String =
      s"""a$k AS (SELECT n.node, coalesce(s.s, 0) AS auth FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node, sum(h.hub) AS s FROM e JOIN h${k - 1} h ON e.src = h.node
         |  GROUP BY e.dst) s ON n.node = s.node),
         |h$k AS (SELECT n.node, coalesce(s.s, 0) AS hub FROM nodes n LEFT JOIN (
         |  SELECT e.src AS node, sum(a.auth) AS s FROM e JOIN a$k a ON e.dst = a.node
         |  GROUP BY e.src) s ON n.node = s.node)""".stripMargin
    s"""WITH e AS (SELECT DISTINCT o_custkey % 200 AS src, o_orderkey % 200 AS dst FROM orders),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
       |${(1 to iters).map(round).mkString(",\n")}
       |SELECT CAST(h.node AS BIGINT) AS node, CAST(h.hub AS BIGINT) AS hub,
       |  CAST(a.auth AS BIGINT) AS auth
       |FROM h$iters h JOIN a$iters a ON h.node = a.node""".stripMargin
  }

  /** DuckDB mirror of Curation.curate with the q119 fixture/config: each
   * stage replayed over the previous stage's survivors; IN/NOT IN
   * subqueries carry the survivor sets (doc ids are non-null, so NOT IN
   * is safe). Stage expressions are shared with their standalone oracles
   * (q17 lang cases, q13 band join, q57 recursive closure, q85 grams,
   * q88 cap order, q108 split bounds). */
  private lazy val curationPipelineSql: String = {
    // q17's language scorer, over the d0 CTE
    val cases = TextAnalysis.LangStopwords.map { case (l, sw) =>
      val set = sw.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($set, t))) AS s_$l"
    }.mkString(", ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val pred = langs.reverse.foldLeft("'und'") { (acc, l) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    val swAll = TextAnalysis.LangStopwords.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val capHash = "CAST(('0x' || substr(md5(doc_id::VARCHAR || ':cur-v1'), 1, 13)) AS BIGINT)"
    val splitHash = "CAST(('0x' || substr(md5(source || ':cur-sp'), 1, 13)) AS BIGINT)"
    s"""WITH RECURSIVE d0 AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 50 = 0),
       |lsc AS (SELECT doc_id, $cases FROM d0),
       |lb AS (SELECT *, $best AS best FROM lsc),
       |k1 AS (SELECT doc_id FROM lb WHERE $pred IN ('en', 'fr', 'es')),
       |s1 AS (SELECT * FROM d0 WHERE doc_id IN (SELECT doc_id FROM k1)),
       |d1 AS (SELECT doc_id, source, 'lang' AS stage FROM d0
       |       WHERE doc_id NOT IN (SELECT doc_id FROM k1)),
       |qm AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
       |  len(list_filter(string_split(lower(text), ' '), t -> list_contains($swAll, t))) AS sw
       |  FROM s1),
       |k2 AS (SELECT doc_id FROM qm WHERE nt >= 20 AND sw * 100 >= nt * 2),
       |s2 AS (SELECT * FROM s1 WHERE doc_id IN (SELECT doc_id FROM k2)),
       |d2 AS (SELECT doc_id, source, 'quality' AS stage FROM s1
       |       WHERE doc_id NOT IN (SELECT doc_id FROM k2)),
       |dgg AS (SELECT doc_id, text, source, md5(text) AS g FROM s2),
       |k3m AS (SELECT g, min(doc_id) AS keep FROM dgg GROUP BY g),
       |s3 AS (SELECT dgg.doc_id, dgg.text, dgg.source FROM dgg JOIN k3m USING (g)
       |       WHERE doc_id = keep),
       |d3 AS (SELECT dgg.doc_id, dgg.source, 'exact_dup' AS stage FROM dgg
       |       JOIN k3m USING (g) WHERE doc_id <> keep),
       |sets AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM s3),
       |shx AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |mh AS (SELECT doc_id, j.h_idx,
       |    min(substring(md5(s), CAST(j.h_idx*4 + 1 AS INTEGER), 4)) AS min_hash
       |  FROM shx CROSS JOIN (SELECT unnest(range(8)) AS h_idx) j GROUP BY doc_id, j.h_idx),
       |bk AS (SELECT doc_id, h_idx // 2 AS band,
       |  array_to_string(list_sort(list(lpad(h_idx::VARCHAR, 4, '0') || '=' || min_hash)), '|') AS band_key
       |  FROM mh GROUP BY doc_id, h_idx // 2),
       |cand AS (SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT key_a, key_b FROM (
       |  SELECT key_a, key_b,
       |    round(len(list_filter(a.sh, v -> list_contains(b.sh, v)))::DOUBLE /
       |      (len(a.sh) + len(b.sh) - len(list_filter(a.sh, v -> list_contains(b.sh, v)))), 4) AS jaccard
       |  FROM cand JOIN sets a ON a.doc_id = key_a JOIN sets b ON b.doc_id = key_b)
       |  WHERE jaccard >= 0.05),
       |edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
       |          UNION SELECT key_b, key_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
       |drop4 AS (SELECT key AS doc_id FROM (
       |  SELECT src AS key, least(src, min(dst)) AS component FROM reach GROUP BY src)
       |  WHERE key <> component),
       |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
       |d4 AS (SELECT doc_id, source, 'near_dup' AS stage FROM s3
       |       WHERE doc_id IN (SELECT doc_id FROM drop4)),
       |bg AS (SELECT DISTINCT unnest(${ngramsSql("text", 4)}) AS g
       |       FROM documents WHERE doc_id % 97 = 0),
       |hit5 AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id, unnest(${ngramsSql("text", 4)}) AS g FROM s4) dgx
       |  JOIN bg USING (g)),
       |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hit5)),
       |d5 AS (SELECT doc_id, source, 'contaminated' AS stage FROM s4
       |       WHERE doc_id IN (SELECT doc_id FROM hit5)),
       |capd AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source ORDER BY $capHash, doc_id) AS rn
       |  FROM s5),
       |d6 AS (SELECT doc_id, source, 'capped' AS stage FROM capd WHERE rn > 4),
       |kept AS (SELECT doc_id, source, 'kept' AS stage,
       |  CASE WHEN $splitHash < (9 * 4503599627370496) // 10
       |       THEN 'train' ELSE 'valid' END AS split
       |  FROM capd WHERE rn <= 4)
       |SELECT doc_id, source, stage, CAST(NULL AS VARCHAR) AS split FROM d1
       |UNION ALL SELECT doc_id, source, stage, NULL FROM d2
       |UNION ALL SELECT doc_id, source, stage, NULL FROM d3
       |UNION ALL SELECT doc_id, source, stage, NULL FROM d4
       |UNION ALL SELECT doc_id, source, stage, NULL FROM d5
       |UNION ALL SELECT doc_id, source, stage, NULL FROM d6
       |UNION ALL SELECT doc_id, source, stage, split FROM kept""".stripMargin
  }

  /** DuckDB mirror of Dedup.simhash64 (shared by q52/q53). */
  private val Sim64SqlCte =
    """WITH toks AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
      |bits AS (SELECT doc_id, j.j,
      |  CASE WHEN ((CASE WHEN ascii(substring(h, (j.j % 32) + 1, 1)) <= 57
      |              THEN ascii(substring(h, (j.j % 32) + 1, 1)) - 48
      |              ELSE ascii(substring(h, (j.j % 32) + 1, 1)) - 87 END
      |             >> (j.j // 32)) & 1) = 1 THEN 1 ELSE -1 END AS vote
      |  FROM toks CROSS JOIN (SELECT unnest(range(64)) AS j) j),
      |sums AS (SELECT doc_id, j, sum(vote) AS v FROM bits GROUP BY doc_id, j),
      |sh AS (SELECT doc_id, CAST(sum(CASE
      |    WHEN v > 0 AND j = 63 THEN (-9223372036854775807 - 1)
      |    WHEN v > 0 THEN (1::BIGINT << j::INTEGER) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM sums GROUP BY doc_id)
      |""".stripMargin

  /** q82 mix config: rates are pipeline configuration, inlined into the
   * oracle as exact integer thresholds via Curation.rateThreshold. */
  private val MixSalt = "mix-v1"
  private val MixRates = Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.0)

  /** q86 fixture queries: (query_id, term) pairs over the corpus vocabulary. */
  private val RetrievalQueries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "data", 0L -> "query",
    1L -> "merge", 1L -> "slow",
    2L -> "window", 2L -> "scan", 2L -> "sort", 2L -> "hash")

  /** DuckDB mirror of the PagesFromDocs url derivation. */
  private val UrlSql =
    "('https://' || source || '.example/' || doc_id::VARCHAR || '.html')"

  /** DuckDB mirror of the FULL PagesFromDocs html string (used by the
   * gate/corpus-stats oracles, which need exact html byte lengths —
   * text/source are pure ASCII in the driver tables, so char length =
   * byte length). */
  private val HtmlSql: String = {
    import graft.sources.PagesFromDocs.{coordStrSql, latSql, lonSql}
    val latS = coordStrSql(latSql("doc_id"))
    val lonS = coordStrSql(lonSql("doc_id"))
    val anchors = "(CASE WHEN doc_id % 3 > 0 THEN array_to_string(list_transform(" +
      "generate_series(0, doc_id % 3 - 1), " +
      "j -> '<a href=\"https://ex.com/' || doc_id::VARCHAR || '/' || j::VARCHAR || " +
      "'\">l' || j::VARCHAR || '</a>'), '') ELSE '' END)"
    val h2 = "(CASE WHEN doc_id % 2 = 0 THEN '<h2>s' || doc_id::VARCHAR || '</h2>' ELSE '' END)"
    "('<!doctype html><html><head><title>Doc ' || doc_id::VARCHAR || '</title>' || " +
      s"""'<meta name="geo.position" content="' || $latS || ';' || $lonS || '">' || """ +
      "'</head><body><h1>' || source || '</h1>' || " + anchors + " || " + h2 + " || " +
      "'<p>' || replace(replace(text, '&', '&amp;'), '<', '&lt;') || '</p></body></html>')"
  }

  /** DuckDB mirror of TextAnalysis.shingles. */
  private def shinglesSql(text: String): String = ngramsSql(text, 3)

  /** DuckDB mirror of TextAnalysis.ngramsOf: sorted distinct word n-grams
   * (generate_series(1, 0) is EMPTY in DuckDB, so greatest() alone guards
   * short docs — no when-branch needed as on the Spark side). */
  private def ngramsSql(text: String, n: Int): String = {
    val sp = s"string_split($text,' ')"
    val gram = (0 until n)
      .map(j => if (j == 0) s"$sp[i]" else s"$sp[i+$j]")
      .mkString(" || ' ' || ")
    s"list_sort(list_distinct(list_transform(" +
      s"generate_series(1, greatest(len($sp)-${n - 1}, 0)), " +
      s"i -> $gram)))"
  }

  /** DuckDB Lloyd mirror, shared by the q55/q118 oracles: corpus rows of
   * CTE `e` (vec_id, v) → nearest-centroid assignment (rn ≤ limit keeps
   * `limit` nearest; dist ties break by cid like Spark's array_min over
   * (d, c) structs). */
  private def duckAssign(cents: String, limit: Int, where: String = ""): String =
    s"""SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(c.m, c.m) - 2 * list_dot_product(e.v, c.m), c.cid) AS rn
       |    FROM e CROSS JOIN $cents c $where) WHERE rn <= $limit""".stripMargin

  /** DuckDB Lloyd step: per-cluster element-wise mean (exact on the
   * integer-valued quantized doubles), empty clusters keep the previous
   * centroid. */
  private def duckMeans(afrom: String, prev: String): String =
    s"""SELECT p.cid, coalesce(g.m, p.m) AS m FROM $prev p LEFT JOIN (
       |    SELECT cid, list(s ORDER BY i) AS m FROM (
       |      SELECT cid, t.u.i AS i, avg(t.u.x) AS s FROM (
       |        SELECT cid, unnest(list_transform(v, (x, i) -> {'x': x, 'i': i})) AS u
       |        FROM $afrom) t
       |      GROUP BY cid, t.u.i) GROUP BY cid) g ON p.cid = g.cid""".stripMargin

  /** The 2-iteration Lloyd loop over CTE `e`: init c0 = kClusters
   * lowest-key vectors, two assign+means rounds ending at centroids
   * `m2` — byte-identical to Similarity.kmeansCentroids(iters = 2). */
  private def duckLloydCtes(kClusters: Int): String =
    s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid, v AS m
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kClusters)),
       |a1 AS (${duckAssign("c0", 1)}),
       |m1 AS (${duckMeans("a1", "c0")}),
       |a2 AS (${duckAssign("m1", 1)}),
       |m2 AS (${duckMeans("a2", "m1")})""".stripMargin

  /** Flagship: full spatial pipeline over the synthesized pages fixture
   * (extract → cell-encode → spatial join → PIP). Driver smoke-checks
   * rows > 0 at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Fixtures.pages(spark, 2000, partitions = 8)
    val polys = Fixtures.polygonsDf(spark, 64)
    val ents = pages.toDF().select(col("url"),
      extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
    SpatialJoin(ents, polys, col("lat"), col("lon"), col("ring"), res = 7)
      .select(col("url"), col("entity_idx"), col("polygon_id"),
        cell_id(col("lat"), col("lon"), 12).as("cell_id"))
  }

  // =========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.1, §2.4-§2.7) ------------------------
    "q01_lang_histogram" -> ((s, d) =>
      tblRaw(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))),

    "q02_url_filter" -> ((s, d) =>
      tblRaw(s, d, "documents").where(col("source").startsWith("src1"))
        .select("doc_id", "source")),

    "q03_doc_metadata" -> ((s, d) =>
      tblRaw(s, d, "documents").select(col("doc_id"), col("n_chars"),
        length(col("text")).cast("long").as("len_text"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"))),

    "q04_slice_tokens" -> ((s, d) =>
      tblRaw(s, d, "documents").select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 3, 5)).as("sliced"))),

    "q05_term_match" -> ((s, d) =>
      tblRaw(s, d, "documents").select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t === "spark")).cast("long").as("n_match"))),

    "q06_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      tblRaw(s, d, "events").select(col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        sum(round(col("value") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_cents"))
    }),

    "q07_topk_orders" -> ((s, d) =>
      tblRaw(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))),

    "q08_join_revenue" -> ((s, d) => {
      val li = tblRaw(s, d, "lineitem"); val o = tblRaw(s, d, "orders"); val c = tblRaw(s, d, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    }),

    "q09_theta_join" -> ((s, d) => {
      val o = tblRaw(s, d, "orders"); val c = tblRaw(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey") &&
        o("o_totalprice") >= c("c_acctbal") * 2 && o("o_totalprice") <= c("c_acctbal") * 40)
        .select("o_orderkey", "c_custkey")
    }),

    "q10_similarity_topk" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val snip = docs.where(col("doc_id") === 0)
        .withColumn("__ts", TextAnalysis.tokens(col("text")))
        .select(TextAnalysis.shinglesOf(col("__ts")).as("snip"))
      docs.withColumn("__ts", TextAnalysis.tokens(col("text")))
        .select(col("doc_id"), TextAnalysis.shinglesOf(col("__ts")).as("sh"))
        .crossJoin(broadcast(snip))
        .withColumn("score", round(
          size(array_intersect(col("sh"), col("snip"))).cast("double") /
            greatest(size(col("snip")), lit(1)), 4))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .select("doc_id", "score")
    }),

    // ---- dedup family (training-data ops) --------------------------------
    "q11_dedup_exact" -> ((s, d) =>
      Dedup.exact(tblRaw(s, d, "documents"), "doc_id", "text")),

    "q12_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(tbl(s, d, "documents"), "doc_id", "text", 0.05)),

    "q13_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(tbl(s, d, "documents"), "doc_id", "text",
        bands = 4, rowsPerBand = 2, threshold = 0.05)),

    "q14_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(tbl(s, d, "documents"), "doc_id", "text", maxHamming = 3)),

    "q48_ngram_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccard(tbl(s, d, "documents"), "doc_id", "text", 0.05, maxDocFreq = 40)),

    // ---- reference round-out: node paths, regex search, dependencies ----
    "q49_node_paths" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), parse_html_nodes(col("html")).as(Seq(
          "node_id", "parent_id", "depth", "kind", "name", "attrs",
          "sb", "eb", "sr", "sc", "er", "ec", "path", "n_children")))
        .groupBy(concat_ws("/", col("path")).as("path"))
        .agg(count(lit(1)).as("n"))),

    "q50_regex_search" -> ((s, d) =>
      TextAnalysis.textSearch(tbl(s, d, "documents"), "doc_id", "text",
        "sp[a-z]+k", regex = true)),

    "q51_dependencies" -> ((s, d) =>
      graft.api.Engine.dependencies(PagesFromDocs(tbl(s, d, "documents")))),

    // the corpus-scale 64-bit simhash (Manku et al. WWW'07 configuration)
    "q52_simhash64_values" -> ((s, d) =>
      Dedup.simhash64(tbl(s, d, "documents"), "doc_id", "text")),

    "q53_simhash64_pairs" -> ((s, d) =>
      Dedup.simhashPairs64(tbl(s, d, "documents"), "doc_id", "text", maxHamming = 3)),

    "q54_vector_tiles" -> ((s, d) =>
      Tiler.vector(
        customerPoints(s, d).withColumn("entity_idx", (col("c_custkey") % 4).cast("int")),
        "c_custkey", "entity_idx", "lat", "lon", zoom = 3)
        .select(col("tile_id"), col("zoom").cast("long").as("zoom"),
          explode(col("features")).as("f"))
        .select(col("tile_id"), col("zoom"), col("f.c_custkey").as("c_custkey"),
          col("f.entity_idx").cast("long").as("entity_idx"),
          col("f.cell_id").as("cell_id"))),

    "q58_clean_corpus" -> ((s, d) =>
      graft.api.Engine.cleanCorpus(tbl(s, d, "documents"), "doc_id", "text")),

    "q57_dedup_components" -> ((s, d) =>
      Dedup.dropKeys(
        Dedup.minhashLsh(tbl(s, d, "documents"), "doc_id", "text",
          bands = 4, rowsPerBand = 2, threshold = 0.05),
        "key_a", "key_b")),

    "q56_vectorize" -> ((s, d) =>
      Tiler.vectorize(Tiler.raster(customerPoints(s, d), "lat", "lon", zoom = 3),
        zoom = 3, minCount = 2)
        .select(col("cell_id"), col("zoom").cast("long").as("zoom"), col("n"),
          col("lon_min"), col("lat_min"), col("lon_max"), col("lat_max"))),

    // full oracle (was rows-only): the k-means iterates become portably
    // exact by QUANTIZING the embeddings to integer-valued doubles
    // (floor(x·256) — floor is exact in both engines; ×256 is a
    // power-of-two scale, lossless on floats). Then every Lloyd mean is
    // one exact integer sum + one correctly-rounded division, every
    // distance is cnorm − 2·dot with both engines folding in index order
    // (list_dot_product == DotProductExpr, the q15-proven identity), and
    // every assignment argmin compares bit-identical doubles. Recall vs
    // brute force stays pinned in SimilaritySpec on the raw floats.
    "q55_kmeans_ivf" -> ((s, d) => {
      val e = tbl(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(256)).cast("double")).as("embedding"))
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("q_vec"), col("embedding"))
      Similarity.kmeansIvfTopK(q, "q_vec", "embedding", e, "vec_id", "embedding",
        k = 5, kClusters = 8, iters = 2, nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // SemDeDup (Abbas et al. 2023): embedding-cluster semantic dedup over
    // the q55 quantized vectors plus exact-copy rows (vec_id+100000 for
    // vec_id < 50) — copies share their original's cluster and cosine 1.0,
    // so every one must be dropped; natural ≥0.95 pairs prune too. The
    // oracle replays the identical Lloyd loop + pairwise shadow in SQL.
    "q118_semdedup" -> ((s, d) => {
      val e = tbl(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(256)).cast("double")).as("v"))
      val withCopies = e.unionByName(e.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"), col("v")))
      Similarity.semDedup(withCopies, "vec_id", "v",
        kClusters = 8, iters = 2, tau = 0.95)
        .withColumn("kept", col("kept").cast("int"))
    }),

    // the composite curation pipeline — the LLM-pipeline counterpart of
    // q116's crawl front door: lang → quality → exact dedup → near-dup
    // components → benchmark decontamination → per-source cap →
    // leakage-safe split, each stage over the previous stage's survivors,
    // every input doc labeled with the first stage that dropped it.
    // Exact copies (doc_id+100000 of doc_id % 50 == 0) exercise the
    // exact-dup stage; the benchmark slice (doc_id % 97 == 0) is ALSO in
    // the corpus, so stage 5 provably fires on its surviving members.
    "q119_curation_pipeline" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val withCopies = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(docs.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("source")))
      Curation.curate(withCopies, "doc_id", "text", "source",
        benchmark = docs.where(col("doc_id") % 97 === 0).select("doc_id", "text"),
        keepLangs = Seq("en", "fr", "es"),
        minTokens = 20, minStopPct = 2,
        bands = 4, rowsPerBand = 2, threshold = 0.05, nGram = 4,
        capPerSource = 4, capSalt = "cur-v1",
        splits = Seq(("train", 9L), ("valid", 1L)), splitSalt = "cur-sp")
    }),

    // zoom pyramid: base raster at zoom 3 rolled up level-by-level to
    // zoom 0 — each level derives from the PREVIOUS level's pixel rows
    // (points scanned once); exact because halving payload coords IS the
    // coarser encoding (the oracle computes every level the direct way)
    "q120_tile_pyramid" -> ((s, d) =>
      Tiler.rasterPyramid(customerPoints(s, d), "lat", "lon", zoom = 3, minZoom = 0)
        .select(col("tile_id"), col("zoom").cast("long").as("zoom"),
          col("pix_x").cast("long").as("pix_x"),
          col("pix_y").cast("long").as("pix_y"), col("n"))),

    // quadkey: prefix-hierarchical tile key (parent = string prefix — the
    // layout-friendly sort key for tile stores); pure codegen'd bit/string
    // algebra over the cell index
    "q121_quadkey" -> ((s, d) =>
      customerPoints(s, d).select(col("c_custkey"),
        Tiler.quadkey(col("lat"), col("lon"), zoom = 6).as("qk"))),

    // HITS hubs/authorities over the q99 orders-derived link graph —
    // unnormalized exact-integer variant (values = alternating-path
    // counts), 2 I/O rounds; order is what ranking consumes
    "q122_hits" -> ((s, d) =>
      Graph.hits(
        tblRaw(s, d, "orders").select((col("o_custkey") % 200).as("src"),
          (col("o_orderkey") % 200).as("dst")),
        "src", "dst", iterations = 2)),

    // GPT-style sequence packing: docs concatenated in deterministic
    // (hash, key) order per bucket, chopped into 256-token sequences
    // (docs straddle boundaries like standard causal-LM packing); pure
    // integer window cumsum — bit-replayable in SQL
    "q123_pack_sequences" -> ((s, d) =>
      Curation.packSequences(
        tbl(s, d, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")),
        "doc_id", "n_tokens", budget = 256L, nBuckets = 8, salt = "pk")),

    // link-graph composite: parse html → extract hrefs → RFC 3986
    // canonicalize (tracking params + fragment appended by the fixture,
    // stripped by canonical) → hash to bounded node ids → exact
    // fixed-point PageRank. The composite a web-quality pipeline runs,
    // chaining parser/urls/graph so any column-contract drift between
    // the three surfaces breaks here.
    "q125_link_graph_rank" -> ((s, d) => {
      val links = PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), extract_captures(col("html"), "links")
          .as(Seq("capture", "text", "sb", "eb", "sr", "sc", "er", "ec")))
        .where(col("capture") === "link.href")
        .select(col("doc_id"),
          concat(col("text"), lit("?utm_source=x&b=2&a=1#frag")).as("href"))
      val edges = links.select(
        (col("doc_id") % 200).as("src"),
        pmod(Sketches.portableHash52(Urls.canonical(col("href"))), lit(200)).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3)
    }),

    // snapshot-to-snapshot diff (time-travel CDC read): two committed
    // waves, then diff(parent, current) — for an append-only wave table
    // the diff is exactly the new wave's rows as 'added' (the oracle's
    // closed form); removed is empty by construction
    "q124_snapshot_diff" -> ((s, d) => {
      val root = scratch(s, "graft_q124")
      val wave = pmod(
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long"), lit(2))
      graft.snap.SnapshotCatalog.resumableRunBy(s, tblRaw(s, d, "orders"), wave, 2, root, "ords") {
        df => df.select(col("o_orderkey"), col("o_custkey").cast("string").as("content"))
      }
      val cur = graft.snap.SnapshotCatalog.currentManifest(root, "ords").get
      graft.snap.SnapshotCatalog.diffSnapshots(
        s, root, "ords", cur.parentId, cur.snapshotId, "o_orderkey", "content")
    }),

    // ---- tool-facade round-out: every remaining SURVEY §2 operator gets an
    // exact closed-form oracle over the PagesFromDocs fixture --------------
    "q59_node_at_position" -> ((s, d) =>
      // position (0, 35) sits inside the title text node of every fixture
      // page; min-span containment must pick it (J3/T2)
      graft.api.Engine.nodesAtPosition(PagesFromDocs(tbl(s, d, "documents")), row = 0, colPos = 35)
        .select(col("url"), col("kind"), col("name"),
          col("start_byte").cast("long").as("start_byte"),
          col("end_byte").cast("long").as("end_byte"))),

    "q60_exclude_within" -> ((s, d) =>
      // range anti-join (P6/J4): drop nodes starting inside any <h1>
      graft.api.Engine.excludeWithin(
        graft.api.Engine.nodes(PagesFromDocs(tbl(s, d, "documents"))), "h1")
        .groupBy("url").agg(count(lit(1)).as("n"))),

    "q61_find_context" -> ((s, d) => {
      // search hits with ±1 context lines (W1); a multi-line corpus is
      // synthesized by turning token separators into newlines
      val docs = tbl(s, d, "documents")
      val df = docs.select(
        concat(lit("https://"), col("source"), lit(".example/"), col("doc_id"), lit(".html")).as("url"),
        regexp_replace(col("text"), " ", "\n").as("text"))
      graft.api.Engine.findTextWithContext(df, "spark", context = 1)
        .select(col("url"), col("line"), col("line_text"),
          concat_ws("|", transform(col("context"),
            c => concat_ws(":", c.getField("line"), c.getField("line_text")))).as("context_str"))
    }),

    "q62_find_usage" -> ((s, d) =>
      graft.api.Engine.findUsage(PagesFromDocs(tbl(s, d, "documents")), "links", "l1")
        .select("url", "capture", "text")),

    "q63_sample_symbols" -> ((s, d) =>
      // per-language sampling (A6/W3) feeding grouped symbol extraction (Q4)
      graft.api.Engine.symbols(
        graft.api.Engine.sampleByLang(PagesFromDocs(tbl(s, d, "documents")), 3))
        .select(col("url"), col("symbol_type"),
          size(col("symbols")).cast("long").as("n"),
          concat_ws("|", transform(col("symbols"), x => x.getField("text"))).as("texts_str"))),

    "q64_security_gate" -> ((s, d) =>
      // size + url-prefix gate BEFORE parse (S6)
      graft.api.Engine.securityGate(PagesFromDocs(tbl(s, d, "documents")),
        maxBytes = 500, allowedPrefixes = Seq("https://src1"))
        .select(col("url"), length(col("html")).cast("long").as("size_bytes"))),

    "q65_summarize_nodes" -> ((s, d) =>
      graft.api.Engine.summarizeNodes(PagesFromDocs(tbl(s, d, "documents")))
        .where(col("name").isin("title", "h2"))
        .select("url", "kind", "name", "preview")),

    "q66_nodes_with_text" -> ((s, d) =>
      // include_text surface (reference models/ast_cursor.py:95-119): raw
      // node bytes attached per node; '|'-joined sorted per url (arrays of
      // strings hash non-portably in the driver compare)
      graft.api.Engine.nodesWithText(PagesFromDocs(tbl(s, d, "documents")))
        .where(col("kind") === "text")
        .groupBy("url")
        .agg(count(lit(1)).as("n"),
          concat_ws("|", array_sort(collect_list(col("node_text")))).as("texts_str"))),

    "q67_node_types" -> ((s, d) => {
      // describe_node_types (Q6): static kind docs joined to the corpus's
      // observed kind histogram
      import s.implicits._
      val types = graft.api.Engine.nodeTypes.toSeq.toDF("kind", "description")
      graft.api.Engine.nodes(PagesFromDocs(tbl(s, d, "documents")))
        .groupBy("kind").agg(count(lit(1)).as("n"))
        .join(broadcast(types), "kind")
        .select("kind", "description", "n")
    }),

    "q68_analyze_corpus" -> ((s, d) =>
      graft.api.Engine.analyzeCorpus(PagesFromDocs(tbl(s, d, "documents")), sampleDepth = 3)
        .select(col("n_pages"), col("n_sites"), col("total_bytes"),
          col("languages"), col("sample_symbol_counts"))),

    "q69_composed_query" -> ((s, d) =>
      // Q4 build_query compose: one COMPOSED spec string, ONE parse per
      // page (tools/query_builder.py:16-78 'combine'); oracle = closed-form
      // union of both templates' captures over the fixture
      graft.api.Engine.query(PagesFromDocs(tbl(s, d, "documents")), "headings,links")
        .select(col("url"), col("capture"), col("text"))),

    // ---- similarity search ------------------------------------------------
    "q15_ann_brute" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("q_vec"), col("embedding"))
      Similarity.bruteTopK(q, "q_vec", "embedding", e, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    "q16_ann_ivf" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_vec"), col("embedding"), col("label"))
      Similarity.ivfTopK(q, "q_vec", "embedding", "label",
        e, "vec_id", "embedding", "label", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // ---- text analysis ----------------------------------------------------
    "q17_lang_id" -> ((s, d) =>
      TextAnalysis.langId(tbl(s, d, "documents"), "doc_id", "text")),

    "q18_quality" -> ((s, d) =>
      TextAnalysis.quality(tbl(s, d, "documents"), "doc_id", "text")),

    "q19_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(tbl(s, d, "documents"), "doc_id", "text")),

    "q20_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(tbl(s, d, "documents"), "doc_id", "text")),

    // ---- spatial family (the north rule) ---------------------------------
    "q21_cells" -> ((s, d) =>
      customerPoints(s, d).select(col("c_custkey"),
        cell_id(col("lat"), col("lon"), 12).as("cell12"),
        cell_parent(cell_id(col("lat"), col("lon"), 12), 5).as("tile5"))),

    "q22_cell_rollup" -> ((s, d) =>
      customerPoints(s, d)
        .groupBy(cell_parent(cell_id(col("lat"), col("lon"), 12), 5).as("tile5"))
        .agg(count(lit(1)).as("n"))),

    "q23_spatial_join" -> ((s, d) =>
      SpatialJoin(customerPoints(s, d), nationPolygons(s, d),
        col("lat"), col("lon"), col("ring"), res = 6)
        .select("c_custkey", "n_nationkey")),

    // same join refined through the y-banded edge interval index (the
    // north rule's indexed ray cast) — must produce the identical row set
    "q76_spatial_join_indexed" -> ((s, d) =>
      SpatialJoin(customerPoints(s, d), nationPolygons(s, d),
        col("lat"), col("lon"), col("ring"), res = 6, edgeIndexBands = 4)
        .select("c_custkey", "n_nationkey")),

    // cell-clustered LAYOUT round-trip: write the points range-partitioned
    // and sorted by cell_id(res 6) (each parquet file covers a disjoint id
    // range — SpatialLayoutSpec pins that), then read through the bbox
    // path, whose per-ix-strip cell ranges push down to the scan and whose
    // exact lat/lon test is what the oracle reproduces (cell arithmetic is
    // the q21-proven exact form)
    "q77_layout_bbox" -> ((s, d) => {
      val root = scratch(s, "graft_q77")
      SpatialLayout.writeClustered(customerPoints(s, d), "lat", "lon", 6, root, partitions = 8)
      SpatialLayout.readBBox(s, root, -20.0, 35.0, -40.0, 70.0)
        .select(col("c_custkey"), col("cell_id"))
    }),

    // pruned spatial join over the clustered layout: only files covering
    // the polygons' cells are scanned; row-set contract identical to the
    // full-scan q23 (SpatialLayoutSpec pins the equality on fixtures too)
    "q78_layout_join" -> ((s, d) => {
      val root = scratch(s, "graft_q78")
      SpatialLayout.writeClustered(customerPoints(s, d), "lat", "lon", 6, root, partitions = 8)
      SpatialLayout.joinPolygons(s, root, nationPolygons(s, d), col("ring"))
        .select("c_custkey", "n_nationkey")
    }),

    // as-of (point-in-time) join: each non-purchase event picks up the
    // user's latest purchase at-or-before it — AsofJoin's union-and-window
    // plan (join-free, one keyed shuffle); oracle is DuckDB's native
    // ASOF LEFT JOIN, an entirely independent implementation
    "q79_asof_join" -> ((s, d) => {
      val ev = tbl(s, d, "events")
      val states = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(round(col("value") * 100).cast("long")).as("purchase_cents"),
          max("event_id").as("purchase_event"))
        .withColumn("purchase_ts", col("ts"))
      val probes = ev.where(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type")
      AsofJoin(probes, states, Seq("user_id"), "ts", "ts",
        Seq("purchase_ts", "purchase_cents", "purchase_event"))
    }),

    // KMV bottom-k distinct sketch per event type (k = 16 → declarative
    // TopKSlots path); integer-exact estimator, mirrored step-for-step in
    // the oracle via row_number over the same portable md5-prefix hashes
    "q80_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(
        tblRaw(s, d, "events").withColumn("u", col("user_id").cast("string")),
        Seq("event_type"), "u", k = 16)),

    // sketch ROLLUP: per-type sketches merged to a global estimate
    // without rescanning events — exact (bottom-k of bottom-k), so the
    // oracle is simply the direct global sketch in SQL
    "q84_kmv_rollup" -> ((s, d) => {
      val ev = tblRaw(s, d, "events").withColumn("u", col("user_id").cast("string"))
      Sketches.kmvMerge(
        Sketches.kmvSketch(ev, Seq("event_type"), "u", 16), Seq.empty, 16)
    }),

    // bucket-minima distinct sketch at REALISTIC k (256) — the scale path
    // past TopKSlots.MaxK: plain codegen-fused min aggregate, no distinct
    // pre-pass, integer-exact estimator replayed bit-for-bit in SQL
    "q117_minbucket_distinct" -> ((s, d) =>
      Sketches.minBucketDistinct(
        tblRaw(s, d, "events").withColumn("u", col("user_id").cast("string")),
        Seq("event_type"), "u", k = 256)),

    // banded big-x-big interval join (no broadcast side assumed): event
    // cents vs +/-50-cent customer-balance windows, then a per-event
    // rollup — the band equi-join + exact BETWEEN never plans a nested
    // loop (IntervalJoinSpec pins the plan shape and exactly-once pairs)
    "q81_interval_join" -> ((s, d) => {
      val pts = tbl(s, d, "events").select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val ivs = tbl(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"),
          (round(col("c_acctbal") * 100).cast("long") - 50L).as("lo"),
          (round(col("c_acctbal") * 100).cast("long") + 50L).as("hi"))
      IntervalJoin(pts, ivs, "cents", "lo", "hi", bandWidth = 100L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_windows"), min("c_custkey").as("min_custkey"))
    }),

    // deterministic source mixing: the keep decision is a pure function
    // of (doc_id, salt) — retry/rerun/engine independent; DuckDB
    // recomputes the identical subset from the same hash + inlined
    // thresholds (no rand() anywhere)
    "q82_corpus_mix" -> ((s, d) =>
      Curation.mixCorpus(tbl(s, d, "documents"),
        "source", "doc_id", MixRates, defaultRate = 0.2, salt = MixSalt)
        .select("doc_id", "source")),

    // per-group quality cutoff: keep events at-or-above their type's
    // exact p75 of integer cents (quarter quantiles are bit-portable
    // across engines — see Curation.quantileThreshold contract)
    "q83_quality_cutoff" -> ((s, d) => {
      val pts = tbl(s, d, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Curation.quantileThreshold(pts, Seq("event_type"), "cents", 0.75)
        .select("event_id", "event_type", "cents")
    }),

    // benchmark decontamination: exact word-4-gram overlap against a
    // deterministic "benchmark" slice (doc_id % 97 == 0) — the pre-ship
    // leakage screen; grams are distinct per doc on BOTH sides, so
    // n_hits is exactly the count of distinct shared grams
    "q85_decontaminate" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      Curation.decontaminate(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
    }),

    // inverted-index keyword retrieval: integer tf·(N div df) scoring
    // (bit-portable, no float log), three term-set queries, declarative
    // partial top-k ranking (score desc, doc_id asc)
    "q86_keyword_topk" -> ((s, d) => {
      import s.implicits._
      Retrieval.searchTopK(tbl(s, d, "documents"), "doc_id", "text",
        RetrievalQueries.toDF("query_id", "term"), k = 10)
    }),

    // Gopher-family repetition signals: exact integer counts + basis-point
    // ratios by integer division (Spark div == DuckDB // on non-negatives)
    "q87_repetition" -> ((s, d) =>
      TextAnalysis.repetition(tbl(s, d, "documents"), "doc_id", "text")),

    // domain balancing: ≤ 4 docs per source, deterministic md5-hash order;
    // cap 4 = TopKSlots.JitK → exercises the declarative partial-top-k
    // slots path (k ≥ 5 routes to the window/imperative forms: JitK doc)
    "q88_domain_cap" -> ((s, d) =>
      Curation.capPerGroup(tbl(s, d, "documents"), "source", "doc_id", 4, "cap-v1")
        .select("doc_id", "source")),

    // int8-quantized ANN: per-vector symmetric codes (floor(x·127/m + .5)
    // — floor avoids the round()-at-.5 dialect divergence), integer-exact
    // dots/norms, cosine from exact integers (correctly-rounded sqrt and
    // division → bit-portable with NO rounding step)
    "q89_ann_quantized" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("q_vec"), col("embedding"))
      Similarity.quantizedTopK(q, "q_vec", "embedding", e, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // PII audit + redaction: deterministic synthetic PII is appended to
    // each doc (both engines derive the identical augmented text), counts
    // come from the raw text, the md5 proves byte-identical redaction
    "q90_pii_scrub" -> ((s, d) => {
      val aug = tbl(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"), lit("@mail.example.org or 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 100).cast("string"), lit(" id "),
          lpad(col("doc_id").cast("string"), 9, "0")).as("text"))
      val counted = aug.select(col("doc_id"), col("text"),
        TextAnalysis.piiCount(col("text"), "email").as("n_email"),
        TextAnalysis.piiCount(col("text"), "ipv4").as("n_ipv4"),
        TextAnalysis.piiCount(col("text"), "number").as("n_number"))
      TextAnalysis.scrubPii(counted, "text")
        .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_number"),
          md5(col("text")).as("scrub_md5"))
    }),

    // gap-based sessionization (10-min silence = new session): per-event
    // labels via one keyed window, integer epoch-micros comparisons
    "q91_sessionize" -> ((s, d) =>
      Sessionize.label(tblRaw(s, d, "events"), "user_id", "ts", "event_id", gapSeconds = 600)
        .select("event_id", "user_id", "session_seq")),

    // per-session aggregates via the NATIVE session_window aggregate
    // (mergeable partial state, streaming-ready); end = last event + gap
    "q92_session_stats" -> ((s, d) =>
      Sessionize.stats(tblRaw(s, d, "events"), "user_id", "ts", "value", gapSeconds = 600)),

    // exact phrase search via the positional index: term-filtered postings
    // aligned on (doc, pos − offset); overlapping occurrences counted
    // ("batch batch batch" contains "batch batch" twice)
    "q93_phrase_search" -> ((s, d) =>
      Retrieval.phraseCount(tbl(s, d, "documents"), "doc_id", "text",
        Seq("batch", "batch"), positional = true)),

    // tokenizer-prep vocabulary: top-25 terms, deterministic under ties
    // (freq desc, term asc is a total order ⇒ the cut is reproducible)
    "q94_vocabulary" -> ((s, d) =>
      Vocab.vocabulary(tbl(s, d, "documents"), "text", topV = 25)),

    // word-vector prep: window-3 co-occurrence counts, canonical unordered
    // pairs, per-row pair generation (no positional self-join)
    "q95_cooccurrence" -> ((s, d) =>
      Vocab.cooccurrence(tbl(s, d, "documents"), "text", window = 3, minCount = 2)),

    // C4/MassiveText line-level boilerplate dedup: documents re-lined as
    // 3-token lines (deterministically in both engines), lines occurring
    // in >= 2 distinct docs dropped, docs rebuilt in original line order;
    // md5 proves byte-identical reconstruction
    "q96_boilerplate_lines" -> ((s, d) => {
      val lined = tbl(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("__ts"))
        .select(col("doc_id"), concat_ws("\n", transform(
          sequence(lit(0L), expr("CAST((size(__ts) - 1) div 3 AS BIGINT)")),
          i => concat_ws(" ", slice(col("__ts"), (i * 3 + 1).cast("int"), lit(3))))).as("text"))
      TextAnalysis.dropBoilerplateLines(lined, "doc_id", "text", minDocs = 2)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // bloom-filter runtime join pruning: the broadcast bloom prefilters
    // the big side BEFORE its shuffle; the exact semi-join kills false
    // positives, so the result is bit-identical to the plain semi-join
    // (which IS the oracle)
    "q97_bloom_join" -> ((s, d) => {
      val sel = tbl(s, d, "orders").where(col("o_totalprice") > 400000)
        .select("o_orderkey")
      Bloom.prunedSemiJoin(tbl(s, d, "lineitem"), "l_orderkey",
          sel, "o_orderkey", expectedKeys = 65536)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
    }),

    // URL canonicalization census: messy variants (case-shuffled hosts,
    // default ports, fragments, tracking params, permuted query strings)
    // synthesized deterministically from doc_id in BOTH engines, then
    // collapsed onto the RFC 3986 canonical form
    "q98_url_canonical" -> ((s, d) => {
      val id = col("doc_id")
      val urls = tbl(s, d, "documents").select(id.as("doc_id"),
        when(id % 4 === 0, concat(lit("HTTP://Site"), (id % 7).cast("string"),
            lit(".COM:80/p/"), (id % 50).cast("string"), lit("?utm_source=x&b=2&a=1#frag")))
          .when(id % 4 === 1, concat(lit("https://site"), (id % 7).cast("string"),
            lit(".com:443/p/"), (id % 50).cast("string"), lit("?a=1&b=2")))
          .when(id % 4 === 2, concat(lit("http://site"), (id % 7).cast("string"),
            lit(".com/p/"), (id % 50).cast("string"), lit("?b=2&a=1&gclid=99")))
          .otherwise(concat(lit("http://Other.ORG/q"), (id % 25).cast("string"))).as("url"))
      Urls.canonicalDedup(urls, "url")
    }),

    // link-graph PageRank, EXACT 64-bit fixed-point (2^40 = 1.0): integer
    // contributions and rational 85/100 damping make every iterate
    // bit-identical under any partitioning — and in any engine (the
    // oracle unrolls the same 4 iterations in SQL)
    "q99_pagerank" -> ((s, d) =>
      Graph.pageRank(tblRaw(s, d, "orders")
          .select((col("o_custkey") % 200).as("src"), (col("o_orderkey") % 200).as("dst")),
        "src", "dst", iterations = 4)),

    // ExactSubstr dedup spans (Lee et al. 2022): token positions inside a
    // 6-token window that occurs >= 2x anywhere in the corpus; per-doc
    // covered-token counts by exact interval arithmetic
    "q100_exact_substr" -> ((s, d) =>
      Dedup.exactSubstrSpans(tbl(s, d, "documents"), "doc_id", "text", minTokens = 6)),

    // unigram-surprisal quality score: -log2 p(token) integer-approximated
    // by bit lengths (floorlog2(N) - floorlog2(count)) — exact in both
    // engines via the shared bin() builtin
    "q101_surprisal" -> ((s, d) =>
      TextAnalysis.surprisal(tblRaw(s, d, "documents"), "doc_id", "text")),

    // shoelace area + centroid over star-shaped integer rings (8 compass
    // directions, per-nation radii): CCW and positive coords by
    // construction, so area2 > 0 and the centroid divisions are portable
    "q102_polygon_measures" -> ((s, d) => {
      val k = col("n_nationkey").cast("long")
      def r(dir: Int) = (k * 7 + dir * 13) % 50 + 10
      val cx = k % 5 * 200 + 300; val cy = k % 7 * 150 + 300
      val rings = tbl(s, d, "nation").select(col("n_nationkey"), array(
        cx + r(0), cy, cx + r(1), cy + r(1), cx, cy + r(2), cx - r(3), cy + r(3),
        cx - r(4), cy, cx - r(5), cy - r(5), cx, cy - r(6), cx + r(7), cy - r(7)
      ).as("ring"))
      Polygons.measures(rings, "ring").select("n_nationkey", "area2", "cx", "cy")
    }),

    // audio frame-sampling: 400-sample windows over the q72 WAV fixture,
    // per-frame integer features (sum|x|, peak, Σx²)
    "q103_audio_frames" -> ((s, d) => {
      import s.implicits._
      Multimodal.audioFrames(Multimodal.syntheticWav(s, 200, 8000, 1600), 400).toDF()
    }),

    // snapshot-resumable PageRank: every iteration commits as an
    // idempotent lineage-carrying wave; the result is bit-identical to
    // the in-memory walk (same oracle builder as q99, 3 iterations)
    "q104_pagerank_resumable" -> ((s, d) => {
      val dir = scratch(s, "graft_q104")
      Graph.pageRankResumable(tblRaw(s, d, "orders")
          .select((col("o_custkey") % 200).as("src"), (col("o_orderkey") % 200).as("dst")),
        "src", "dst", iterations = 3, root = dir, table = "ranks")
    }),

    // wave-committed orders survive rewrite-data-files byte-exactly: 4
    // md5-bucketed resumable waves, then compact(2 files, sorted by
    // o_orderkey) — the CURRENT read aggregates identically to DuckDB
    // over the raw table (compact itself re-proves the row total against
    // the manifest before flipping CURRENT)
    "q105_snapshot_compact" -> ((s, d) => {
      val root = scratch(s, "graft_q105")
      val wave = pmod(
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long"), lit(4))
      graft.snap.SnapshotCatalog.resumableRunBy(s, tblRaw(s, d, "orders"), wave, 4, root, "ords") {
        df => df.select(col("o_orderkey"), col("o_custkey"))
      }
      graft.snap.SnapshotCatalog.compact(s, root, "ords",
        targetFiles = 2, sortBy = Seq("o_orderkey"))
      graft.snap.SnapshotCatalog.read(s, root, "ords")
        .groupBy((col("o_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("sum_key"))
    }),

    // count–min frequency estimates for every distinct key: depth 3 ×
    // width 64 sketch (narrower than the 50 distinct keys, so collisions
    // — the interesting path — occur and both engines must agree on them)
    "q106_cms_counts" -> ((s, d) => {
      val vals = tblRaw(s, d, "orders")
        .select((col("o_custkey") % 50).cast("string").as("v"))
      val sk = Sketches.cmsSketch(vals, Nil, "v", depth = 3, width = 64)
      Sketches.cmsEstimate(sk, vals.distinct(), "v", depth = 3, width = 64)
        .select(col("v").cast("long").as("key"), col("est_count"))
    }),

    // incremental dedup: wave 0 bootstraps the corpus signature table
    // from doc_id%3==0, wave 1 screens the rest against the committed
    // survivors + smaller-keyed batch docs (agreement >= 4 of 8)
    "q107_incremental_dedup" -> ((s, d) => {
      val root = scratch(s, "graft_q107")
      val docs = tbl(s, d, "documents")
      Dedup.incrementalMinhash(docs.where(col("doc_id") % 3 === 0),
        "doc_id", "text", bands = 4, rowsPerBand = 2, minAgree = 4, root, "sigs", 0)
      Dedup.incrementalMinhash(docs.where(col("doc_id") % 3 =!= 0),
        "doc_id", "text", bands = 4, rowsPerBand = 2, minAgree = 4, root, "sigs", 1)
        .select(col("doc_id"), col("is_dup").cast("int").as("is_dup"),
          coalesce(col("dup_of"), lit(-1L)).cast("long").as("dup_of"))
    }),

    // leakage-safe 8/1/1 split keyed on source (all docs of a source land
    // in one split); census proves assignment + group-atomicity portably
    "q108_split_leakage_safe" -> ((s, d) =>
      Curation.splitByGroup(tbl(s, d, "documents"), "source",
        Seq("train" -> 8L, "valid" -> 1L, "test" -> 1L), salt = "sp")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"))),

    // robots.txt crawl gate: three per-host robots variants (md5-picked),
    // four per-doc path variants — the full parse + longest-prefix
    // precedence path decides fetchability per document
    "q109_robots_gate" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val v = pmod(Sketches.portableHash52(col("source")), lit(3))
      val robots = docs.select(col("source")).distinct()
        .withColumn("txt",
          when(v === 0, "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n")
            .when(v === 1,
              "User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp\n")
            .otherwise("# generic agent unrestricted\nUser-agent: googlebot\nDisallow: /\n"))
      val rules = Urls.robotsRules(robots, "source", "txt")
      val urls = docs.select(col("doc_id"),
        concat(lit("https://"), col("source"),
          element_at(array(lit("/private/x"), lit("/private/pub/y"), lit("/tmp/z"), lit("/ok")),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int"))).as("url"))
      Urls.robotsFilter(urls, "url", rules)
        .select(col("doc_id"), col("fetchable").cast("int").as("fetchable"))
    }),

    // sitemap discovery: one synthesized sitemap per source listing its
    // docs (order-nondeterministic entry concat is fine — the oracle
    // compares the PARSED row set) — the parse must recover every entry
    "q115_sitemap_urls" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val entry = concat(lit("<url><loc>https://"), col("source"), lit("/d/"), col("doc_id"),
        lit("</loc><lastmod>2026-01-0"), col("doc_id") % 3 + 1, lit("</lastmod></url>"))
      // array_sort: collect_list merges partial buffers in shuffle-fetch
      // order (CLAUDE.md), and sitemapUrls keys its internal joins on a
      // hash of the XML BYTES — unsorted entries could differ between
      // plan-branch re-evaluations and silently drop every entry
      val sitemaps = docs.groupBy(col("source"))
        .agg(concat(lit("<urlset>"), concat_ws("", array_sort(collect_list(entry))),
          lit("</urlset>")).as("xml"))
      graft.api.Engine.sitemapUrls(sitemaps, "source", "xml")
    }),

    // the composite crawl front door — the pipeline a crawl operator
    // actually runs, chaining the q114/q109/q113/q115 operators over ONE
    // capture table (so any column-contract drift between them breaks
    // here): canonicalize raw captures → collapse revisits to the latest
    // capture (digest re-join; page bytes never ride the argmax shuffle)
    // → RFC 9309 robots gate (longest-prefix precedence) → attach the
    // per-host politeness budget → flag sitemap-discovered URLs. Plan
    // shape is pinned in PlanAuditSpec: equi-joins only, no cartesian,
    // no window over the capture table.
    "q116_crawl_front_door" -> ((s, d) => {
      // docs feeds FIVE branches (two capture variants, robots, delays,
      // sitemaps): materialize the fanned read once so each branch reads
      // the blocks instead of re-running the scan+fan exchange 5×
      val docs = tbl(s, d, "documents").localCheckpoint(true)
      val v = pmod(Sketches.portableHash52(col("source")), lit(3))
      // four path families so every robots rule fires; unique per doc so
      // revisit collapse merges only a page's own capture variants
      val path = element_at(array(
          concat(lit("/private/"), col("doc_id")),
          concat(lit("/private/pub/"), col("doc_id")),
          concat(lit("/tmp/"), col("doc_id")),
          concat(lit("/ok/"), col("doc_id"))),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      val base = concat(lit("https://"), col("source"), path)
      val a = docs.select(base.as("url"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
        col("text").as("content"))
      val b = docs.select(concat(base, lit("?utm_source=x")).as("url"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 01:00:00")).as("ts"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit("!v2"))).as("content"))
      // materialize the collapsed capture table ONCE: robotsFilter
      // references its urls input twice (distinct decision pairs + the
      // payload join-back), and re-evaluating the rejoin pipeline on both
      // sides measured 10.9 s vs 1.5 s checkpointed at sf0.1 — exactly
      // the storage boundary a real crawl pipeline has here anyway (the
      // collapsed captures ARE a table). Blocks stay owned by the result.
      val latest = Urls.latestCaptureRejoin(a.unionByName(b), "url", "ts", "content")
        .localCheckpoint(true)
      // robots = the q109 gate rules merged with the q113 delay lines
      val robots = docs.select(col("source")).distinct()
        .withColumn("txt",
          when(v === 0,
            "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\nAllow: /private/pub/\n")
            .when(v === 1,
              "User-agent: googlebot\nDisallow: /\n\n" +
                "User-agent: *\nCrawl-delay: 1.5\nDisallow: /tmp\n")
            .otherwise("User-agent: googlebot\nCrawl-delay: 9\nDisallow: /\n"))
      // one robots parse feeds both the gate rules and the delay table
      // (the former two calls each re-ran the explode + per-host window)
      val (rules, delays) = Urls.robotsTables(robots, "source", "txt")
      val gated = Urls
        .robotsFilter(latest, "canonical_url", rules)
        .where(col("fetchable"))
      // sitemaps list even docs only (a per-URL membership flag, not a
      // gate) under the SAME urls the captures canonicalize to
      val entry = concat(lit("<url><loc>"), base, lit("</loc></url>"))
      val sitemaps = docs.where(col("doc_id") % 2 === 0)
        .groupBy(col("source"))
        .agg(concat(lit("<urlset>"), concat_ws("", array_sort(collect_list(entry))),
          lit("</urlset>")).as("xml"))
      val listed = graft.api.Engine.sitemapUrls(sitemaps, "source", "xml")
        .select(col("loc_url")).distinct().withColumn("__sm", lit(1))
      gated
        .withColumn("host", regexp_extract(col("canonical_url"), "^https://([^/]*)", 1))
        .join(delays, Seq("host"), "left")
        .join(listed, col("canonical_url") === col("loc_url"), "left")
        .select(col("canonical_url"), col("host"), col("n_captures"),
          col("changed").cast("int").as("changed"),
          md5(col("content")).as("content_md5"), col("crawl_delay"),
          coalesce(col("__sm"), lit(0)).as("in_sitemap"))
    }),

    // revisit collapse: two captures per page (the newer under a
    // tracking-param variant url, content changed on odd docs) — keep the
    // newest, count captures, flag real content change
    "q114_latest_capture" -> ((s, d) => {
      val docs = tbl(s, d, "documents")
      val base = concat(lit("https://"), col("source"), lit("/d/"), col("doc_id"))
      val a = docs.select(base.as("url"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
        col("text").as("content"))
      val b = docs.select(concat(base, lit("?utm_source=x")).as("url"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 01:00:00")).as("ts"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit("!v2"))).as("content"))
      Urls.latestCaptureRejoin(a.unionByName(b), "url", "ts", "content")
        .select(col("canonical_url"), col("n_captures"),
          col("changed").cast("int").as("changed"), md5(col("content")).as("content_md5"))
    }),

    // per-host politeness budget: Crawl-delay from the q109 robots
    // variants (v0 gets 2s, v1's star group 1.5s, v2 has no star group)
    "q113_crawl_delay" -> ((s, d) => {
      val v = pmod(Sketches.portableHash52(col("source")), lit(3))
      val robots = tbl(s, d, "documents").select(col("source")).distinct()
        .withColumn("txt",
          when(v === 0,
            "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\nAllow: /private/pub/\n")
            .when(v === 1,
              "User-agent: googlebot\nDisallow: /\n\nUser-agent: *\nCrawl-delay: 1.5\nDisallow: /tmp\n")
            .otherwise("User-agent: googlebot\nCrawl-delay: 9\nDisallow: /\n"))
      Urls.robotsCrawlDelay(robots, "source", "txt")
        .select(col("host"), col("crawl_delay"))
    }),

    "q24_knn" -> ((s, d) =>
      Knn(customerPoints(s, d), "c_custkey", "lat", "lon",
        nationPolygons(s, d).select(col("n_nationkey"), col("cy"), col("cx")),
        "n_nationkey", "cy", "cx", k = 3, res = 3)
        .select(col("c_custkey"), col("n_nationkey"), col("rank").cast("long").as("rank"))),

    // k = 1 exercises the fully-codegen'd declarative nearest path
    // (Knn.applyNearest / MaxScoreMinKey), a different code path from
    // q24's general-k aggregate — both must match the brute-force oracle
    "q75_nearest" -> ((s, d) =>
      Knn(customerPoints(s, d), "c_custkey", "lat", "lon",
        nationPolygons(s, d).select(col("n_nationkey"), col("cy"), col("cx")),
        "n_nationkey", "cy", "cx", k = 1, res = 3)
        .select(col("c_custkey"), col("n_nationkey"), col("rank").cast("long").as("rank"))),

    "q25_raster_tiles" -> ((s, d) =>
      Tiler.raster(customerPoints(s, d), "lat", "lon", zoom = 3)
        .select(col("tile_id"), col("zoom").cast("long").as("zoom"),
          col("pix_x").cast("long").as("pix_x"),
          col("pix_y").cast("long").as("pix_y"), col("n"))),

    // ---- extraction pipeline (byte-identity, SURVEY §2.8-2.11) -----------
    "q26_extract_text" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), extract_text(col("html")).as("extracted"))),

    "q27_extract_links" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), extract_captures(col("html"), "links")
          .as(Seq("capture", "text", "sb", "eb", "sr", "sc", "er", "ec")))
        .where(col("capture") === "link.href")
        .select(col("doc_id"), col("text").as("href"))),

    "q28_geo_cells" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
        .select(col("doc_id"), cell_id(col("lat"), col("lon"), 12).as("cell12"))),

    "q29_headings" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), extract_captures(col("html"), "headings")
          .as(Seq("capture", "text", "sb", "eb", "sr", "sc", "er", "ec")))
        .select("doc_id", "capture", "text")),

    "q30_node_stats" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), parse_html_nodes(col("html")).as(Seq(
          "node_id", "parent_id", "depth", "kind", "name", "attrs",
          "sb", "eb", "sr", "sc", "er", "ec", "path", "n_children")))
        .groupBy("doc_id")
        .agg(
          sum(when(col("kind") === "element", 1L).otherwise(0L)).as("n_elements"),
          sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
          max(col("depth")).cast("long").as("max_depth"))),

    // ---- grouping sets & set ops ------------------------------------------
    "q31_cube_orders" -> ((s, d) =>
      tblRaw(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))),

    "q32_union_sources" -> ((s, d) =>
      tblRaw(s, d, "documents").select(col("source").as("v"))
        .union(tblRaw(s, d, "events").select(col("event_type").as("v")))
        .distinct()),

    // ---- join variants / set ops / signatures (round-out coverage) --------
    "q33_semi_join" -> ((s, d) => {
      val c = tblRaw(s, d, "customer"); val o = tblRaw(s, d, "orders")
      c.join(o.where(col("o_totalprice") > 400000), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    }),

    "q34_anti_join" -> ((s, d) => {
      val c = tblRaw(s, d, "customer"); val o = tblRaw(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
    }),

    "q35_rollup_lineitem" -> ((s, d) =>
      tblRaw(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("qty"))),

    "q36_except_sources" -> ((s, d) =>
      tblRaw(s, d, "documents").select(col("source").as("v")).distinct()
        .except(tblRaw(s, d, "events").select(col("event_type").as("v")).distinct())),

    "q37_minhash_signatures" -> ((s, d) =>
      Dedup.minhashLong(tbl(s, d, "documents").where(col("doc_id") < 50), "doc_id", "text", 4)),

    "q38_simhash_values" -> ((s, d) =>
      Dedup.simhash(tbl(s, d, "documents"), "doc_id", "text")),

    "q39_node_depth_histogram" -> ((s, d) =>
      PagesFromDocs(tbl(s, d, "documents"))
        .select(col("doc_id"), parse_html_nodes(col("html")).as(Seq(
          "node_id", "parent_id", "depth", "kind", "name", "attrs",
          "sb", "eb", "sr", "sc", "er", "ec", "path", "n_children")))
        .groupBy(col("depth").cast("long").as("depth"))
        .agg(count(lit(1)).as("n"))),

    "q40_window_rank_value" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      tblRaw(s, d, "events")
        .select(col("event_type"), col("event_id"),
          rank().over(w).cast("long").as("rnk"),
          first(col("event_id")).over(w).as("top_event"))
        .where(col("rnk") <= 5)
    }),

    // sign-LSH ANN: the hyperplanes are deterministic data-independent
    // literals, so since round 4 this has a FULL oracle (the SQL inlines
    // the same hyperplane constants)
    "q41_ann_lsh" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("q_vec"), col("embedding"))
      Similarity.lshTopK(q, "q_vec", "embedding", e, "vec_id", "embedding", k = 5, bits = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // real PPM decode (two sizes so width/height are not constants); the
    // stub fallback is no longer on the driver-gate path
    "q42_multimodal_meta" -> ((s, d) => {
      import s.implicits._
      Multimodal.imageMeta(
        Multimodal.syntheticPpm(s, 150, 16, 12).union(Multimodal.syntheticPpm(s, 150, 7, 5)))
        .toDF()
        .select(col("key"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
    }),

    // ---- real codec-free media kernels: full encode→decode→stats loops
    // oracle-checked against the closed-form pixel/sample functions ----
    "q70_image_stats" -> ((s, d) => {
      import s.implicits._
      Multimodal.rgbStats(Multimodal.syntheticPpm(s, 200, 16, 12)).toDF()
    }),

    "q71_image_resize_stats" -> ((s, d) => {
      import s.implicits._
      Multimodal.rgbStats(
        Multimodal.resizeNearest(Multimodal.syntheticPpm(s, 200, 16, 12), 8, 6)).toDF()
    }),

    "q72_audio_stats" -> ((s, d) => {
      import s.implicits._
      Multimodal.audioStats(Multimodal.syntheticWav(s, 200, 8000, 1600)).toDF()
    }),

    // WARC round-trip (the CC container): pages → gzipped segments →
    // readPages. Byte identity is checked two independent ways: md5 vs the
    // source pages (in-engine join) and md5 vs DuckDB's own derivation of
    // the html string (the oracle) — the url/ts/html of every page must
    // survive the container bytes exactly.
    "q73_warc_roundtrip" -> ((s, d) => {
      val pages = PagesFromDocs(tbl(s, d, "documents"))
        .select(col("url"), col("warc_ts"), col("html"))
      val dir = scratch(s, "graft_q73")
      graft.sources.Warc.writePages(pages.repartition(4), dir, gzip = true)
      graft.sources.Warc.readPages(s, dir)
        .join(pages.select(col("url"), col("warc_ts").as("__ts0"),
          md5(col("html")).as("__md50")), "url")
        .select(col("url"), md5(col("html")).as("html_md5"),
          length(col("html")).cast("long").as("html_len"),
          (col("warc_ts") === col("__ts0") && md5(col("html")) === col("__md50"))
            .as("roundtrip_ok"))
    }),

    // CDX-style index + random access: write plain segments, index them
    // (offset/length/md5 per record), then materialize EVERY record via
    // seek(offset)+readFully — seek_ok proves the range reads return the
    // exact payload the index digested
    "q110_warc_index_seek" -> ((s, d) => {
      val pages = PagesFromDocs(tbl(s, d, "documents"))
        .select(col("url"), col("warc_ts"), col("html"))
      val dir = scratch(s, "graft_q110")
      graft.sources.Warc.writePages(pages.repartition(4), dir, gzip = false)
      val index = graft.sources.Warc.indexPages(s, dir)
      graft.sources.Warc.readRecordsAt(index)
        .select(col("url"), md5(col("html")).as("payload_md5"))
        .join(index.select(col("url"), col("payload_md5").as("__im")), "url")
        .select(col("url"), col("payload_md5"),
          (col("payload_md5") === col("__im")).as("seek_ok"))
    }),

    // HTTP envelope split over synthesized CC-style response payloads
    // (status varies by doc, one header carries n_chars, body = text) —
    // the builtins-only parse must recover all three pieces exactly
    "q111_http_envelope" -> ((s, d) => {
      val status = element_at(array(lit("200 OK"), lit("404 Not Found"), lit("301 Moved")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val payload = concat(lit("HTTP/1.1 "), status,
        lit("\r\nContent-Type: text/html; charset=UTF-8\r\nX-Chars: "),
        col("n_chars").cast("string"), lit("\r\n\r\n"), col("text"))
      tbl(s, d, "documents").select(col("doc_id"), payload.as("p"))
        .select(col("doc_id"),
          graft.sources.Warc.httpStatus(col("p")).as("status"),
          graft.sources.Warc.httpHeader(col("p"), "X-Chars").cast("long").as("x_chars"),
          md5(graft.sources.Warc.httpBody(col("p"))).as("body_md5"))
    }),

    // DOM main-content extraction: the <p> must beat the h1/h2/anchor
    // chrome on every page, with content_len = the escaped text's bytes
    "q112_main_content" -> ((s, d) =>
      graft.api.Engine.mainContent(PagesFromDocs(tbl(s, d, "documents")))
        .select(col("url"), col("main_tag"), col("content_len"), col("anchor_len"))),

    // payload-dialect inventory (list_languages analogue) — static
    // metadata, but the driver gate pins the surface's shape + content
    "q74_payload_dialects" -> ((s, d) => {
      import s.implicits._
      graft.api.Engine.payloadDialects.toDF("dialect", "kernel", "available")
    }),

    "q43_snapshot_lineage" -> ((s, d) => {
      // full oracle (was rows-only): waves split by an md5-derived bucket —
      // the one hash both engines share — so DuckDB can recompute the
      // engine-side lineage counters per wave independently. inputRows is
      // carried per PARTITION lineage row (duplicated within a wave) →
      // max, not sum; outputRows are per-partition → sum.
      val root = scratch(s, "graft_q43")
      val wave = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"), lit(4))
      graft.snap.SnapshotCatalog.resumableRunBy(s, tblRaw(s, d, "documents"), wave, 4, root, "docs") {
        df => df.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      }
      graft.snap.SnapshotCatalog.lineage(s, root, "docs")
        .groupBy(col("wave").cast("long").as("wave"))
        .agg(max("inputRows").as("input_rows"), sum("outputRows").as("output_rows"))
    }),

    "q44_spatial_join_salted" -> ((s, d) =>
      // the shuffle/salt code path as a query (row set equals q23)
      SpatialJoin(customerPoints(s, d), nationPolygons(s, d),
        col("lat"), col("lon"), col("ring"), res = 6, saltBuckets = 4)
        .select("c_custkey", "n_nationkey")),

    "q45_json_extract" -> ((s, d) =>
      tbl(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))),

    "q46_distinct_aggs" -> ((s, d) =>
      tblRaw(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n"))),

    "q47_sessionize" -> ((s, d) => {
      // classic event sessionization: a new session starts when the gap to
      // the previous event of the same user exceeds 30 minutes (lag window
      // + running conditional sum)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      tblRaw(s, d, "events")
        .withColumn("gap_us",
          unix_micros(col("ts").cast("timestamp")) -
            lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .withColumn("new_sess",
          when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
    })
  )

  // =========================================================================

  def oracleSql: Map[String, String] = Map(
    "q01_lang_histogram" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang",

    "q02_url_filter" ->
      "SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'",

    "q03_doc_metadata" ->
      ("SELECT doc_id, n_chars, length(text) AS len_text, " +
        "len(string_split(text, ' ')) AS ws_tokens FROM documents"),

    "q04_slice_tokens" ->
      ("SELECT doc_id, array_to_string(string_split(text, ' ')[3:7], ' ') AS sliced " +
        "FROM documents"),

    "q05_term_match" ->
      ("SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t = 'spark')) AS n_match " +
        "FROM documents"),

    "q06_window_running" ->
      ("SELECT user_id, event_id, " +
        "CAST(row_number() OVER w AS BIGINT) AS rn, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),

    "q07_topk_orders" ->
      ("SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    "q08_join_revenue" ->
      ("SELECT c_mktsegment, count(*) AS n, " +
        "CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"),

    "q09_theta_join" ->
      ("SELECT o_orderkey, c_custkey FROM orders JOIN customer ON o_custkey = c_custkey " +
        "AND o_totalprice >= c_acctbal*2 AND o_totalprice <= c_acctbal*40"),

    "q10_similarity_topk" ->
      (s"""WITH snip AS (SELECT ${shinglesSql("text")} AS s FROM documents WHERE doc_id = 0)
         |SELECT doc_id, score FROM (
         |  SELECT d.doc_id,
         |    round(len(list_filter(${shinglesSql("d.text")}, x -> list_contains(snip.s, x)))::DOUBLE
         |      / greatest(len(snip.s), 1), 4) AS score
         |  FROM documents d, snip)
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    "q11_dedup_exact" ->
      ("SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keep_key " +
        "FROM documents GROUP BY md5(text) HAVING count(*) > 1"),

    // mirrors the operator's default df-cap of 128 (shingles shared by
    // >128 docs are excluded from intersections; set sizes stay full)
    "q12_ngram_jaccard" ->
      (s"""WITH sets AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
         |sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
         |exall AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         |rare AS (SELECT s FROM exall GROUP BY s HAVING count(*) <= 128),
         |ex AS (SELECT doc_id, s FROM exall WHERE s IN (SELECT s FROM rare)),
         |inter AS (SELECT x.doc_id AS key_a, y.doc_id AS key_b, count(*) AS i
         |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT key_a, key_b, jaccard FROM (
         |  SELECT key_a, key_b, round(i::DOUBLE / (a.n + b.n - i), 4) AS jaccard
         |  FROM inter JOIN sizes a ON a.doc_id = key_a JOIN sizes b ON b.doc_id = key_b)
         |WHERE jaccard >= 0.05""".stripMargin),

    "q48_ngram_jaccard_capped" ->
      (s"""WITH sets AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
         |sizes AS (SELECT doc_id, len(sh) AS n FROM sets),
         |exall AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         |rare AS (SELECT s FROM exall GROUP BY s HAVING count(*) <= 40),
         |ex AS (SELECT doc_id, s FROM exall WHERE s IN (SELECT s FROM rare)),
         |inter AS (SELECT x.doc_id AS key_a, y.doc_id AS key_b, count(*) AS i
         |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT key_a, key_b, jaccard FROM (
         |  SELECT key_a, key_b, round(i::DOUBLE / (a.n + b.n - i), 4) AS jaccard
         |  FROM inter JOIN sizes a ON a.doc_id = key_a JOIN sizes b ON b.doc_id = key_b)
         |WHERE jaccard >= 0.05""".stripMargin),

    "q13_minhash_lsh" -> Q13Sql,

    "q58_clean_corpus" -> {
      val sw = TextAnalysis.LangStopwords.flatMap(_._2).distinct.map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH RECURSIVE pairs AS (${minhashPairsSql(0.5)}),
         |edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
         |          UNION SELECT key_b, key_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |neard AS (SELECT key FROM (
         |  SELECT src AS key, least(src, min(dst)) AS component FROM reach GROUP BY src)
         |  WHERE key <> component),
         |dg AS (SELECT doc_id, md5(text) AS digest FROM documents),
         |keepk AS (SELECT digest, min(doc_id) AS k FROM dg GROUP BY digest),
         |exd AS (SELECT doc_id FROM dg JOIN keepk USING (digest) WHERE doc_id <> k),
         |qual AS (SELECT doc_id FROM documents
         |  WHERE len(string_split(text, ' ')) < 5 OR
         |    len(list_filter(string_split(lower(text), ' '), t -> list_contains($sw, t)))::DOUBLE
         |      / len(string_split(text, ' ')) < 0.05)
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM exd) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT key FROM neard) THEN 'near_dup'
         |       WHEN doc_id IN (SELECT doc_id FROM qual) THEN 'low_quality'
         |       ELSE 'keep' END AS status
         |FROM documents""".stripMargin
    },

    // transitive closure of the q13 near-dup pairs via recursive CTE —
    // the exact fixed point the engine's label propagation converges to
    "q57_dedup_components" ->
      (s"""WITH RECURSIVE pairs AS ($Q13Sql),
         |edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
         |          UNION SELECT key_b, key_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT key AS drop_key, component AS keep_key FROM (
         |  SELECT src AS key, least(src, min(dst)) AS component FROM reach GROUP BY src)
         |WHERE key <> component""".stripMargin),

    // the engine's maxHamming+1 banding is recall-complete (pigeonhole), so
    // the oracle is the TRUE contract: every pair at hamming <= 3, brute force
    "q14_simhash_pairs" ->
      ("""WITH toks AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
        |bits AS (SELECT doc_id, j.j,
        |  CASE WHEN ascii(substring(h, j.j + 1, 1)) % 2 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM toks CROSS JOIN (SELECT unnest(range(16)) AS j) j),
        |sums AS (SELECT doc_id, j, sum(vote) AS v FROM bits GROUP BY doc_id, j),
        |sh AS (SELECT doc_id,
        |  sum(CASE WHEN v > 0 THEN (1::BIGINT << j::INTEGER) ELSE 0 END) AS simhash FROM sums GROUP BY doc_id)
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    "q15_ann_brute" ->
      ("""WITH q AS (SELECT vec_id AS q_vec, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
        |scored AS (SELECT q.q_vec, c.vec_id,
        |  round(list_dot_product(qv, c.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS cos
        |  FROM q, embeddings c WHERE q.q_vec <> c.vec_id)
        |SELECT q_vec, vec_id, cos, rank FROM (
        |  SELECT q_vec, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_vec ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin),

    "q16_ann_ivf" ->
      ("""WITH q AS (SELECT vec_id AS q_vec, label, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
        |scored AS (SELECT q.q_vec, c.vec_id,
        |  round(list_dot_product(qv, c.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS cos
        |  FROM q JOIN embeddings c ON q.label = c.label AND q.q_vec <> c.vec_id)
        |SELECT q_vec, vec_id, cos, rank FROM (
        |  SELECT q_vec, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_vec ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin),

    "q17_lang_id" -> {
      val cases = TextAnalysis.LangStopwords.map { case (l, sw) =>
        val set = sw.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(string_split(lower(text), ' '), t -> list_contains($set, t))) AS s_$l"
      }.mkString(", ")
      val langs = TextAnalysis.LangStopwords.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val pred = langs.reverse.foldLeft("'und'") { (acc, l) =>
        s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH scored AS (SELECT doc_id, $cases FROM documents),
         |b AS (SELECT *, $best AS best FROM scored)
         |SELECT doc_id, $pred AS pred_lang, CAST(best AS BIGINT) AS best_score FROM b""".stripMargin
    },

    "q18_quality" -> {
      val sw = TextAnalysis.LangStopwords.flatMap(_._2).distinct.map(w => s"'$w'")
        .mkString("[", ", ", "]")
      ("SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars, " +
        "round(length(text)::DOUBLE / len(string_split(text, ' ')), 4) AS mean_token_len, " +
        s"round(len(list_filter(string_split(lower(text), ' '), t -> list_contains($sw, t)))::DOUBLE " +
        "/ len(string_split(text, ' ')), 4) AS stopword_ratio FROM documents")
    },

    "q19_token_count" ->
      ("SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens, " +
        "len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens FROM documents"),

    "q20_fingerprint" ->
      ("SELECT doc_id, CAST(list_reduce(['0'] || string_split(text, ' '), " +
        "(acc, t) -> CAST((CAST(acc AS BIGINT)*31 + length(t)*7 + ascii(substring(t, 1, 1))) " +
        "% 1000000007 AS VARCHAR)) AS BIGINT) AS fp FROM documents"),

    "q21_cells" ->
      (s"""WITH $PointsSqlCte
         |SELECT c_custkey,
         |  (12::BIGINT << 58) | (CAST(floor(((lon + 180.0)/360.0)*4096.0) AS BIGINT) << 29) |
         |    CAST(floor(((lat + 90.0)/180.0)*4096.0) AS BIGINT) AS cell12,
         |  (5::BIGINT << 58) | (CAST(floor(((lon + 180.0)/360.0)*32.0) AS BIGINT) << 29) |
         |    CAST(floor(((lat + 90.0)/180.0)*32.0) AS BIGINT) AS tile5
         |FROM pts""".stripMargin),

    "q22_cell_rollup" ->
      (s"""WITH $PointsSqlCte
         |SELECT (5::BIGINT << 58) | (CAST(floor(((lon + 180.0)/360.0)*32.0) AS BIGINT) << 29) |
         |    CAST(floor(((lat + 90.0)/180.0)*32.0) AS BIGINT) AS tile5, count(*) AS n
         |FROM pts GROUP BY 1""".stripMargin),

    "q23_spatial_join" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey FROM pts, ctr
         |WHERE abs(lon - cx)/w + abs(lat - cy)/h < 1""".stripMargin),

    "q76_spatial_join_indexed" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey FROM pts, ctr
         |WHERE abs(lon - cx)/w + abs(lat - cy)/h < 1""".stripMargin),

    // q77: the layout's bbox read = exact bbox filter + the q21 cell form
    "q77_layout_bbox" ->
      (s"""WITH $PointsSqlCte
         |SELECT c_custkey,
         |  (6::BIGINT << 58) | (CAST(floor(((lon + 180.0)/360.0)*64.0) AS BIGINT) << 29) |
         |    CAST(floor(((lat + 90.0)/180.0)*64.0) AS BIGINT) AS cell_id
         |FROM pts
         |WHERE lat BETWEEN -20.0 AND 35.0 AND lon BETWEEN -40.0 AND 70.0""".stripMargin),

    // q78: scan-pruned layout join — row set must equal the q23 full join
    "q78_layout_join" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey FROM pts, ctr
         |WHERE abs(lon - cx)/w + abs(lat - cy)/h < 1""".stripMargin),

    // q79: DuckDB's native ASOF LEFT JOIN is the oracle for the
    // union-and-window as-of plan (inclusive backward: p.ts >= s.ts)
    "q79_asof_join" ->
      ("""WITH states AS (
         |  SELECT user_id, ts, ts AS purchase_ts,
         |    max(CAST(round(value * 100) AS BIGINT)) AS purchase_cents,
         |    max(event_id) AS purchase_event
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
         |probes AS (
         |  SELECT event_id, user_id, ts, event_type FROM events
         |  WHERE event_type <> 'purchase')
         |SELECT p.event_id, p.user_id, p.ts, p.event_type,
         |  s.purchase_ts, s.purchase_cents, s.purchase_event
         |FROM probes p ASOF LEFT JOIN states s
         |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin),

    // q80: the KMV sketch re-derived in SQL — same 52-bit md5-prefix
    // hash, same distinct → bottom-k → integer-division estimator
    "q80_kmv_distinct" ->
      ("""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |      FROM h),
         |g AS (SELECT event_type, count(*) AS cnt,
         |        max(CASE WHEN rn = 16 THEN hv END) AS h16
         |      FROM r GROUP BY event_type)
         |SELECT event_type, CAST(least(cnt, 16) AS BIGINT) AS distinct_hashes,
         |  CAST(CASE WHEN cnt < 16 THEN cnt
         |            ELSE (15 * 4503599627370496) // h16 END AS BIGINT) AS est_distinct
         |FROM g""".stripMargin),

    // q84: the rollup is exact, so the oracle is the DIRECT global sketch
    "q84_kmv_rollup" ->
      ("""WITH h AS (
         |  SELECT DISTINCT
         |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
         |g AS (SELECT count(*) AS cnt, max(CASE WHEN rn = 16 THEN hv END) AS h16 FROM r)
         |SELECT CAST(least(cnt, 16) AS BIGINT) AS distinct_hashes,
         |  CAST(CASE WHEN cnt < 16 THEN cnt
         |            ELSE (15 * 4503599627370496) // h16 END AS BIGINT) AS est_distinct
         |FROM g""".stripMargin),

    // q117: the bucket-minima sketch replayed in SQL — same 52-bit
    // md5-prefix hash, bucket = low 8 bits, reduced hash = high 44 bits,
    // empty buckets contribute S' = 2^44, occupancy-corrected integer
    // estimator (2^52·hits) // Σ − 1 with the buckets_hit lower-bound
    // guard (DuckDB sums BIGINT into HUGEINT; the final CAST lands back
    // on BIGINT like Spark's long arithmetic)
    "q117_minbucket_distinct" ->
      ("""WITH h AS (
         |  SELECT event_type,
         |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |b AS (SELECT event_type, hv & 255 AS bucket, min(hv >> 8) AS m
         |      FROM h GROUP BY 1, 2),
         |g AS (SELECT event_type, count(*) AS hits,
         |        sum(m) + (256 - count(*)) * 17592186044416 AS s
         |      FROM b GROUP BY 1)
         |SELECT event_type, CAST(hits AS BIGINT) AS buckets_hit,
         |  CAST(greatest((4503599627370496 * hits) // greatest(s, 1) - 1, hits) AS BIGINT)
         |    AS est_distinct
         |FROM g""".stripMargin),

    // q81: plain theta join in DuckDB — the banded plan must produce the
    // identical pair set (and therefore identical rollups)
    "q81_interval_join" ->
      ("""WITH pts AS (
         |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |ivs AS (
         |  SELECT c_custkey,
         |    CAST(round(c_acctbal * 100) AS BIGINT) - 50 AS lo,
         |    CAST(round(c_acctbal * 100) AS BIGINT) + 50 AS hi
         |  FROM customer WHERE c_mktsegment = 'BUILDING')
         |SELECT event_id, count(*) AS n_windows, min(c_custkey) AS min_custkey
         |FROM pts JOIN ivs ON cents BETWEEN lo AND hi
         |GROUP BY event_id""".stripMargin),

    // q82: identical hash + identical thresholds recompute the identical
    // deterministic sample
    "q82_corpus_mix" -> {
      val cases = MixRates.map { case (src, r) =>
        s"WHEN '$src' THEN ${Curation.rateThreshold(r)}" }.mkString(" ")
      val dflt = Curation.rateThreshold(0.2)
      s"""SELECT doc_id, source FROM documents
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$MixSalt'), 1, 13)) AS BIGINT)
         |  < (CASE source $cases ELSE $dflt END)""".stripMargin
    },

    // q83: quantile_cont shares the (n-1)q convention with Spark's
    // percentile; quarter q + integer cents => bit-identical thresholds
    "q83_quality_cutoff" ->
      ("""WITH pts AS (
         |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |th AS (SELECT event_type, quantile_cont(cents, 0.75) AS thr
         |       FROM pts GROUP BY event_type)
         |SELECT p.event_id, p.event_type, p.cents
         |FROM pts p JOIN th USING (event_type) WHERE cents >= thr""".stripMargin),

    // q85: same gram derivation, same distinct-per-doc contract; count(*)
    // after the gram join therefore counts distinct shared grams
    "q85_decontaminate" ->
      (s"""WITH bg AS (SELECT DISTINCT unnest(${ngramsSql("text", 4)}) AS g
         |            FROM documents WHERE doc_id % 97 = 0),
         |dg AS (SELECT doc_id, unnest(${ngramsSql("text", 4)}) AS g
         |       FROM documents WHERE doc_id % 97 <> 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM dg JOIN bg USING (g) GROUP BY doc_id""".stripMargin),

    // q86: identical integer scoring (// is DuckDB integer division,
    // mirroring Spark's div); row_number tie-break (score desc, doc_id)
    // is the declarative top-k's exact ordering contract
    "q86_keyword_topk" -> {
      val vals = RetrievalQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $vals),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks
         |       WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT query_id, doc_id, CAST(sum(tf * (n_docs // df)) AS BIGINT) AS score
         |       FROM tf JOIN q USING (term) JOIN dfq USING (term) CROSS JOIN n
         |       GROUP BY 1, 2)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
         |       CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
         |WHERE rank <= 10""".stripMargin
    },

    // q87: same token/gram derivations; multiplicities via unnest+group
    // (the Spark side folds a sorted array instead — same numbers); //
    // is DuckDB floor division == Spark div on these non-negatives
    "q87_repetition" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |g AS (SELECT doc_id, ts,
         |  list_transform(generate_series(1, greatest(len(ts)-1, 0)), i -> ts[i] || ' ' || ts[i+1]) AS g2,
         |  list_transform(generate_series(1, greatest(len(ts)-2, 0)), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS g3,
         |  list_transform(generate_series(1, greatest(len(ts)-3, 0)), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) AS g4
         |  FROM t),
         |tc AS (SELECT doc_id, max(c) AS m FROM (
         |  SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY 1, 2) GROUP BY 1),
         |g2c AS (SELECT doc_id, max(c) AS m FROM (
         |  SELECT doc_id, gg, count(*) AS c FROM (SELECT doc_id, unnest(g2) AS gg FROM g) GROUP BY 1, 2) GROUP BY 1)
         |SELECT g.doc_id,
         |  CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(tc.m, 0) AS BIGINT) AS top_token_count,
         |  CAST((len(ts) - len(list_distinct(ts))) * 10000 // len(ts) AS BIGINT) AS dup_token_bp,
         |  CAST(CASE WHEN len(g2) = 0 THEN 0 ELSE (len(g2) - len(list_distinct(g2))) * 10000 // len(g2) END AS BIGINT) AS dup2_bp,
         |  CAST(CASE WHEN len(g3) = 0 THEN 0 ELSE (len(g3) - len(list_distinct(g3))) * 10000 // len(g3) END AS BIGINT) AS dup3_bp,
         |  CAST(CASE WHEN len(g4) = 0 THEN 0 ELSE (len(g4) - len(list_distinct(g4))) * 10000 // len(g4) END AS BIGINT) AS dup4_bp,
         |  CAST(coalesce(g2c.m, 0) AS BIGINT) AS top2_count
         |FROM g LEFT JOIN tc USING (doc_id) LEFT JOIN g2c USING (doc_id)""".stripMargin),

    // q88: identical md5-prefix hash and (hash, key) order as the operator;
    // the slots path's kept set equals this row_number form by construction
    "q88_domain_cap" ->
      ("""WITH h AS (SELECT doc_id, source,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR || ':cap-v1'), 1, 13)) AS BIGINT) AS hh
         |  FROM documents)
         |SELECT doc_id, source FROM (
         |  SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn FROM h)
         |WHERE rn <= 4""".stripMargin),

    // q89: identical quantization (same float max, same double ·/÷ order,
    // same floor(+0.5)) and identical cosine expression — exact integer
    // inputs make every double op correctly-rounded-identical, no round()
    "q89_ann_quantized" ->
      ("""WITH codes AS (
         |  SELECT vec_id,
         |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
         |         ELSE list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 127.0 / CAST(mx AS DOUBLE) + 0.5)) END AS qd
         |  FROM (SELECT vec_id, embedding,
         |          list_max(list_transform(embedding, x -> abs(x))) AS mx FROM embeddings)),
         |n AS (SELECT vec_id, qd, list_dot_product(qd, qd) AS qn FROM codes),
         |q AS (SELECT vec_id AS q_vec, qd AS qv, qn AS qnq FROM n WHERE vec_id < 20),
         |scored AS (SELECT q.q_vec, c.vec_id,
         |  list_dot_product(qv, c.qd) / (sqrt(qnq) * sqrt(c.qn)) AS cos
         |  FROM q, n c WHERE q.q_vec <> c.vec_id)
         |SELECT q_vec, vec_id, cos, rank FROM (
         |  SELECT q_vec, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_vec ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin),

    // q90: identical augmented text, identical portable patterns (the
    // subset behaves the same under Java regex and RE2), identical
    // email → ipv4 → number replace cascade; 'g' = replace-all like Spark
    "q90_pii_scrub" -> {
      val Seq(email, ipv4, number) = TextAnalysis.PiiPatterns.map(_._2)
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' reach user' || doc_id::VARCHAR || '@mail.example.org or 10.' ||
         |  (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR || ' id ' ||
         |  lpad(doc_id::VARCHAR, 9, '0') AS text FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(text, '$number')) AS BIGINT) AS n_number,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'), '$ipv4', '<IPV4>', 'g'), '$number', '<NUMBER>', 'g')) AS scrub_md5
         |FROM aug""".stripMargin
    },

    // q91: same gap rule on integer epoch micros, same (ts, id) tie order,
    // explicit ROWS frame (engine defaults differ on tied RANGE frames)
    "q91_sessionize" ->
      ("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events)
         |SELECT event_id, user_id,
         |  CAST(sum(CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |FROM p""".stripMargin),

    // q92: sessions reconstructed by the same gap rule, then aggregated;
    // session_window's end contract is last-event + gap; integer cents
    "q92_session_stats" ->
      ("""WITH lab AS (
         |  SELECT user_id, us, cents,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS seq
         |  FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
         |          CAST(round(value * 100) AS BIGINT) AS cents,
         |          CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600000000
         |               THEN 1 ELSE 0 END AS is_new
         |        FROM events))
         |SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
         |  CAST(max(us) + 600000000 AS BIGINT) AS session_end_us,
         |  CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS value_cents
         |FROM lab GROUP BY user_id, seq""".stripMargin),

    // q93: occurrence = a 2-gram equal to the phrase (overlap-counting,
    // exactly the positional join's start-position semantics)
    "q93_phrase_search" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |g AS (SELECT doc_id,
         |  list_transform(generate_series(1, greatest(len(ts)-1, 0)), i -> ts[i] || ' ' || ts[i+1]) AS g2
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(list_filter(g2, x -> x = 'batch batch')) AS BIGINT) AS n_occur
         |FROM g WHERE len(list_filter(g2, x -> x = 'batch batch')) > 0""".stripMargin),

    // q94: same total order (freq desc, term asc) ⇒ identical top-25 set
    "q94_vocabulary" ->
      ("""SELECT term, CAST(count(*) AS BIGINT) AS freq
         |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |GROUP BY term ORDER BY freq DESC, term LIMIT 25""".stripMargin),

    // q95: identical per-row pair generation (same index bounds, same
    // least/greatest canonicalization), then a plain count
    "q95_cooccurrence" ->
      ("""WITH t AS (SELECT string_split(text, ' ') AS ts,
         |             len(string_split(text, ' ')) AS n FROM documents),
         |p AS (SELECT unnest(flatten(list_transform(generate_series(1, n-1), i ->
         |        list_transform(generate_series(i+1, least(i+3, n)), j ->
         |          least(ts[i], ts[j]) || ' ' || greatest(ts[i], ts[j]))))) AS pair
         |      FROM t WHERE n >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY pair HAVING count(*) >= 2""".stripMargin),

    // q96: identical 3-token re-lining (same index bounds, same slice
    // clamping), frequent lines by DISTINCT-doc count, list_filter keeps
    // document order exactly like the position-rebuild on the Spark side
    "q96_boilerplate_lines" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |l AS (SELECT doc_id, list_transform(generate_series(0, (len(ts)-1)//3), i ->
         |        array_to_string(list_slice(ts, i*3+1, i*3+3), ' ')) AS lines FROM t),
         |fl AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(lines) AS line FROM l)
         |       GROUP BY line HAVING count(*) >= 2),
         |fr AS (SELECT coalesce(list(line), []) AS fls FROM fl),
         |c AS (SELECT doc_id, lines,
         |        list_filter(lines, x -> NOT list_contains(fls, x)) AS kept
         |      FROM l, fr)
         |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped,
         |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
         |FROM c""".stripMargin),

    // q97: the bloom prefilter provably changes NOTHING about the result
    // set — the oracle is the plain semi-join aggregate
    "q97_bloom_join" ->
      ("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
         |GROUP BY l_returnflag""".stripMargin),

    // q98: the same messy-url synthesis, then the same RFC 3986 pipeline
    // step by step (fragment, lowercase scheme/host, default ports, empty
    // path, tracking-param drop + byte-wise param sort)
    "q98_url_canonical" ->
      ("""WITH raw AS (SELECT CASE
         |    WHEN doc_id % 4 = 0 THEN 'HTTP://Site' || (doc_id % 7)::VARCHAR ||
         |      '.COM:80/p/' || (doc_id % 50)::VARCHAR || '?utm_source=x&b=2&a=1#frag'
         |    WHEN doc_id % 4 = 1 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
         |      '.com:443/p/' || (doc_id % 50)::VARCHAR || '?a=1&b=2'
         |    WHEN doc_id % 4 = 2 THEN 'http://site' || (doc_id % 7)::VARCHAR ||
         |      '.com/p/' || (doc_id % 50)::VARCHAR || '?b=2&a=1&gclid=99'
         |    ELSE 'http://Other.ORG/q' || (doc_id % 25)::VARCHAR END AS url FROM documents),
         |s1 AS (SELECT url, split_part(url, '#', 1) AS nofrag FROM raw),
         |s2 AS (SELECT url, lower(split_part(nofrag, '://', 1)) AS scheme,
         |         substr(nofrag, length(split_part(nofrag, '://', 1)) + 4) AS rest FROM s1),
         |s3 AS (SELECT *, lower(regexp_extract(rest, '^[^/?]*')) AS hostport FROM s2),
         |s4 AS (SELECT *, CASE
         |         WHEN scheme = 'http' AND hostport LIKE '%:80'
         |           THEN substr(hostport, 1, length(hostport) - 3)
         |         WHEN scheme = 'https' AND hostport LIKE '%:443'
         |           THEN substr(hostport, 1, length(hostport) - 4)
         |         ELSE hostport END AS host,
         |         substr(rest, length(hostport) + 1) AS pathq FROM s3),
         |s5 AS (SELECT *, split_part(pathq, '?', 1) AS path0 FROM s4),
         |s6 AS (SELECT *, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         |         CASE WHEN contains(pathq, '?') THEN substr(pathq, length(path0) + 2)
         |              ELSE '' END AS query FROM s5),
         |s7 AS (SELECT *, list_sort(list_filter(string_split(query, '&'), p ->
         |         p <> '' AND NOT (starts_with(p, 'utm_')
         |           OR split_part(p, '=', 1) IN ('fbclid', 'gclid', 'msclkid')))) AS params FROM s6),
         |s8 AS (SELECT url, scheme || '://' || host || path ||
         |         CASE WHEN len(params) = 0 THEN ''
         |              ELSE '?' || array_to_string(params, '&') END AS canonical_url FROM s7)
         |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants
         |FROM s8 GROUP BY canonical_url""".stripMargin),

    // q99: the same 4 iterations unrolled — 2^40 fixed point, integer
    // division everywhere (operands non-negative, so DuckDB // == Spark
    // div), long sums are order-free ⇒ bit-identical ranks
    "q99_pagerank" -> pageRankSql(4),

    // q103: same closed-form synth as q72, reduced per 400-sample frame
    // (offset 50 ms/frame at 8 kHz) — sum|x|, peak, Σx² all integers
    "q103_audio_frames" ->
      ("""WITH s AS (SELECT k.k, f.f, ABS(((31*k.k + 17*(f.f*400 + j.j)) % 65536) - 32768) AS a
         |  FROM range(0, 200) k(k), range(0, 4) f(f), range(0, 400) j(j))
         |SELECT k AS key, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(f * 50 AS BIGINT) AS offset_ms, CAST(400 AS INTEGER) AS n,
         |  CAST(SUM(a) AS BIGINT) AS sum_abs, CAST(MAX(a) AS INTEGER) AS peak,
         |  CAST(SUM(a * a) AS BIGINT) AS sum_sq
         |FROM s GROUP BY k, f""".stripMargin),

    // q104: resumable = bit-identical to in-memory — one shared oracle
    // builder, 3 iterations
    "q104_pagerank_resumable" -> pageRankSql(3),

    // q105: compaction preserves content exactly — the aggregate over the
    // compacted CURRENT equals the raw table's
    "q105_snapshot_compact" ->
      ("SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt, CAST(sum(o_orderkey) AS BIGINT) AS sum_key " +
        "FROM orders GROUP BY 1"),

    // q107: DuckDB replays both waves closed-form — same signatures
    // (q13's CTEs), same band candidates, same integer agreement rule;
    // stage 0's survivors are the only corpus keys stage 1 may match
    "q107_incremental_dedup" ->
      s"""WITH sets AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
         |sh AS (SELECT doc_id, unnest(sh) AS s FROM sets),
         |mh AS (SELECT doc_id, j.h_idx,
         |    min(substring(md5(s), CAST(j.h_idx*4 + 1 AS INTEGER), 4)) AS min_hash
         |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS h_idx) j GROUP BY doc_id, j.h_idx),
         |bk AS (SELECT doc_id, h_idx // 2 AS band,
         |  array_to_string(list_sort(list(lpad(h_idx::VARCHAR, 4, '0') || '=' || min_hash)), '|') AS band_key
         |  FROM mh GROUP BY doc_id, h_idx // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
         |  FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
         |  AND a.doc_id <> b.doc_id),
         |agree AS (SELECT c.ka, c.kb FROM cand c
         |  JOIN mh a ON a.doc_id = c.ka JOIN mh b ON b.doc_id = c.kb AND b.h_idx = a.h_idx
         |  WHERE a.min_hash = b.min_hash GROUP BY c.ka, c.kb HAVING count(*) >= 4),
         |s0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
         |  AND doc_id NOT IN (SELECT ka FROM agree WHERE ka % 3 = 0 AND kb % 3 = 0 AND kb < ka)),
         |batch AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0),
         |dup AS (SELECT g.ka, min(g.kb) AS dup_of FROM agree g JOIN batch ON g.ka = batch.doc_id
         |  WHERE g.kb IN (SELECT doc_id FROM s0) OR (g.kb % 3 <> 0 AND g.kb < g.ka)
         |  GROUP BY g.ka)
         |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
         |  CAST(CASE WHEN d.ka IS NULL THEN 0 ELSE 1 END AS INTEGER) AS is_dup,
         |  CAST(coalesce(d.dup_of, -1) AS BIGINT) AS dup_of
         |FROM batch b LEFT JOIN dup d ON b.doc_id = d.ka""".stripMargin,

    // q108: same 52-bit hash, same exact integer bounds (8/10 and 9/10 of
    // 2^52 computed inline — both < 2^63, no overflow)
    "q108_split_leakage_safe" ->
      ("""WITH a AS (SELECT source,
         |  CASE WHEN CAST(('0x' || substr(md5(source || ':sp'), 1, 13)) AS BIGINT)
         |         < (8 * 4503599627370496) // 10 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(source || ':sp'), 1, 13)) AS BIGINT)
         |         < (9 * 4503599627370496) // 10 THEN 'valid'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM a GROUP BY split""".stripMargin),

    // q109: closed-form RFC 9309 decision per (robots variant, path
    // variant) — v0 blocks /private/ except the longer /private/pub/
    // allow; v1's star group blocks /tmp; v2 has no star group
    "q109_robots_gate" ->
      ("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(CASE
         |    WHEN CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) % 3 = 0
         |      AND doc_id % 4 = 0 THEN 0
         |    WHEN CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) % 3 = 1
         |      AND doc_id % 4 = 2 THEN 0
         |    ELSE 1 END AS INTEGER) AS fetchable
         |FROM documents""".stripMargin),

    // q106: DuckDB rebuilds the identical 3×64 counter table from the
    // same md5-derived buckets and reads the same min-over-rows estimates
    "q106_cms_counts" ->
      ("""WITH vals AS (SELECT CAST(o_custkey % 50 AS VARCHAR) AS v FROM orders),
         |sk AS (
         |  SELECT t.h, CAST(('0x' || substr(md5(t.h || ':' || v), 1, 13)) AS BIGINT) % 64 AS bucket,
         |    count(*) AS c
         |  FROM vals, range(0, 3) t(h) GROUP BY 1, 2),
         |probes AS (SELECT DISTINCT v FROM vals)
         |SELECT CAST(p.v AS BIGINT) AS key,
         |  CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS est_count
         |FROM probes p CROSS JOIN range(0, 3) t(h)
         |LEFT JOIN sk ON sk.h = t.h
         |  AND sk.bucket = CAST(('0x' || substr(md5(t.h || ':' || p.v), 1, 13)) AS BIGINT) % 64
         |GROUP BY p.v""".stripMargin),

    // q100: identical window census — 6-token window digests counted
    // corpus-wide, dup positions folded into covered-token counts with
    // the same capped-gap interval arithmetic (all integers)
    "q100_exact_substr" ->
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |g AS (SELECT doc_id, i AS pos,
         |        md5(array_to_string(list_slice(ts, i+1, i+6), ' ')) AS d
         |      FROM t, LATERAL unnest(generate_series(0, len(ts) - 6)) AS u(i)
         |      WHERE len(ts) >= 6),
         |dup AS (SELECT d FROM g GROUP BY d HAVING count(*) >= 2),
         |s AS (SELECT doc_id, list_sort(list(pos)) AS ps
         |      FROM g WHERE d IN (SELECT d FROM dup) GROUP BY doc_id),
         |cv AS (SELECT doc_id,
         |        6 + coalesce(list_sum(list_transform(generate_series(1, len(ps)-1),
         |              j -> least(6, ps[j+1] - ps[j]))), 0) AS cov
         |       FROM s)
         |SELECT t.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(cov, 0) AS BIGINT) AS dup_tokens,
         |  CAST(coalesce(cov, 0) * 10000 // len(ts) AS BIGINT) AS dup_ratio_bp
         |FROM t LEFT JOIN cv USING (doc_id)""".stripMargin),

    // q101: same bit-length surprisal — floorlog2 via the shared bin()
    // builtin, corpus N and per-token counts over md5 digests
    "q101_surprisal" ->
      ("""WITH tk AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS d FROM documents),
         |c AS (SELECT d, count(*) AS c FROM tk GROUP BY d),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM c),
         |i AS (SELECT d, CAST(length(bin(N)) - length(bin(c)) AS BIGINT) AS bits FROM c, nn)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(bits) AS BIGINT) AS total_bits,
         |  CAST(sum(bits) * 10000 // count(*) AS BIGINT) AS mean_bits_bp
         |FROM tk JOIN i USING (d) GROUP BY doc_id""".stripMargin),

    // q102: the same star rings, the same shoelace/centroid integer
    // formulas (CCW + positive coords ⇒ // equals Spark div)
    "q102_polygon_measures" ->
      ("""WITH b AS (SELECT n_nationkey, CAST(n_nationkey AS BIGINT) AS k,
         |             (CAST(n_nationkey AS BIGINT) % 5) * 200 + 300 AS cx,
         |             (CAST(n_nationkey AS BIGINT) % 7) * 150 + 300 AS cy FROM nation),
         |ring AS (SELECT n_nationkey,
         |  [cx + (k*7 +  0*13) % 50 + 10, cy,
         |   cx + (k*7 +  1*13) % 50 + 10, cy + (k*7 + 1*13) % 50 + 10,
         |   cx, cy + (k*7 + 2*13) % 50 + 10,
         |   cx - ((k*7 + 3*13) % 50 + 10), cy + (k*7 + 3*13) % 50 + 10,
         |   cx - ((k*7 + 4*13) % 50 + 10), cy,
         |   cx - ((k*7 + 5*13) % 50 + 10), cy - ((k*7 + 5*13) % 50 + 10),
         |   cx, cy - ((k*7 + 6*13) % 50 + 10),
         |   cx + (k*7 + 7*13) % 50 + 10, cy - ((k*7 + 7*13) % 50 + 10)] AS ring
         |  FROM b),
         |m AS (SELECT n_nationkey, ring, len(ring)//2 AS n FROM ring),
         |a AS (SELECT n_nationkey,
         |  list_sum(list_transform(generate_series(0, n-1), i ->
         |    ring[2*i+1] * ring[2*((i+1)%n)+2] - ring[2*((i+1)%n)+1] * ring[2*i+2])) AS area2,
         |  list_sum(list_transform(generate_series(0, n-1), i ->
         |    (ring[2*i+1] + ring[2*((i+1)%n)+1]) *
         |    (ring[2*i+1] * ring[2*((i+1)%n)+2] - ring[2*((i+1)%n)+1] * ring[2*i+2]))) AS nx,
         |  list_sum(list_transform(generate_series(0, n-1), i ->
         |    (ring[2*i+2] + ring[2*((i+1)%n)+2]) *
         |    (ring[2*i+1] * ring[2*((i+1)%n)+2] - ring[2*((i+1)%n)+1] * ring[2*i+2]))) AS ny
         |  FROM m)
         |SELECT n_nationkey, CAST(area2 AS BIGINT) AS area2,
         |  CAST(nx // (3 * area2) AS BIGINT) AS cx,
         |  CAST(ny // (3 * area2) AS BIGINT) AS cy FROM a""".stripMargin),

    "q24_knn" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey, rank FROM (
         |  SELECT c_custkey, n_nationkey,
         |    CAST(row_number() OVER (PARTITION BY c_custkey
         |      ORDER BY (cx-lon)*(cx-lon) + (cy-lat)*(cy-lat), n_nationkey) AS BIGINT) AS rank
         |  FROM pts, ctr) WHERE rank <= 3""".stripMargin),

    "q75_nearest" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey, rank FROM (
         |  SELECT c_custkey, n_nationkey,
         |    CAST(row_number() OVER (PARTITION BY c_custkey
         |      ORDER BY (cx-lon)*(cx-lon) + (cy-lat)*(cy-lat), n_nationkey) AS BIGINT) AS rank
         |  FROM pts, ctr) WHERE rank <= 1""".stripMargin),

    "q25_raster_tiles" ->
      (s"""WITH $PointsSqlCte,
         |enc AS (SELECT CAST(floor(((lon + 180.0)/360.0)*128.0) AS BIGINT) AS ixp,
         |               CAST(floor(((lat + 90.0)/180.0)*128.0) AS BIGINT) AS iyp FROM pts)
         |SELECT (3::BIGINT << 58) | ((ixp // 16) << 29) | (iyp // 16) AS tile_id,
         |  CAST(3 AS BIGINT) AS zoom, ixp % 16 AS pix_x, iyp % 16 AS pix_y, count(*) AS n
         |FROM enc GROUP BY 1, 2, 3, 4""".stripMargin),

    "q26_extract_text" ->
      ("SELECT doc_id, 'Doc ' || doc_id::VARCHAR || source || " +
        "(CASE doc_id % 3 WHEN 1 THEN 'l0' WHEN 2 THEN 'l0l1' ELSE '' END) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN 's' || doc_id::VARCHAR ELSE '' END) || " +
        "text AS extracted FROM documents"),

    "q27_extract_links" ->
      ("SELECT doc_id, 'https://ex.com/' || doc_id::VARCHAR || '/' || j::VARCHAR AS href " +
        "FROM documents, unnest(generate_series(0, doc_id % 3 - 1)) AS t(j) " +
        "WHERE doc_id % 3 > 0"),

    "q28_geo_cells" -> {
      val lat = s"(${PagesFromDocs.latSql("doc_id")} / 100.0)"
      val lon = s"(${PagesFromDocs.lonSql("doc_id")} / 100.0)"
      s"SELECT doc_id, (12::BIGINT << 58) | " +
        s"(CAST(floor((($lon + 180.0)/360.0)*4096.0) AS BIGINT) << 29) | " +
        s"CAST(floor((($lat + 90.0)/180.0)*4096.0) AS BIGINT) AS cell12 FROM documents"
    },

    "q29_headings" ->
      ("SELECT doc_id, 'heading.h1' AS capture, source AS text FROM documents " +
        "UNION ALL " +
        "SELECT doc_id, 'heading.h2' AS capture, 's' || doc_id::VARCHAR AS text " +
        "FROM documents WHERE doc_id % 2 = 0"),

    "q30_node_stats" ->
      ("SELECT doc_id, " +
        "CAST(7 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_elements, " +
        "CAST(3 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_text, " +
        "CAST(4 AS BIGINT) AS max_depth FROM documents"),

    "q31_cube_orders" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"),

    "q32_union_sources" ->
      "SELECT source AS v FROM documents UNION SELECT event_type AS v FROM events",

    "q33_semi_join" ->
      ("SELECT c_custkey, c_mktsegment FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)"),

    "q34_anti_join" ->
      ("SELECT c_custkey FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),

    "q35_rollup_lineitem" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),

    "q36_except_sources" ->
      ("SELECT DISTINCT source AS v FROM documents " +
        "EXCEPT SELECT DISTINCT event_type AS v FROM events"),

    "q37_minhash_signatures" ->
      ("""WITH sh AS (SELECT doc_id, unnest(list_sort(list_distinct(list_transform(
        |  generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
        |  i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])))) AS s
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id, j.h_idx,
        |  min(substring(md5(s), CAST(j.h_idx*8 + 1 AS INTEGER), 8)) AS min_hash
        |FROM sh CROSS JOIN (SELECT unnest(range(4)) AS h_idx) j GROUP BY doc_id, j.h_idx""".stripMargin),

    "q38_simhash_values" ->
      ("""WITH toks AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
        |bits AS (SELECT doc_id, j.j,
        |  CASE WHEN ascii(substring(h, j.j + 1, 1)) % 2 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM toks CROSS JOIN (SELECT unnest(range(16)) AS j) j),
        |sums AS (SELECT doc_id, j, sum(vote) AS v FROM bits GROUP BY doc_id, j)
        |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j::INTEGER) ELSE 0 END) AS BIGINT) AS simhash
        |FROM sums GROUP BY doc_id""".stripMargin),

    "q39_node_depth_histogram" ->
      ("""SELECT CAST(0 AS BIGINT) AS depth, count(*) AS n FROM documents
        |UNION ALL SELECT 1, CAST(2*count(*) AS BIGINT) FROM documents
        |UNION ALL SELECT 2, CAST(2*count(*) AS BIGINT) FROM documents
        |UNION ALL SELECT 3, CAST(sum(4 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |UNION ALL SELECT 4, CAST(sum(3 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM documents""".stripMargin),

    "q49_node_paths" ->
      ("""WITH n AS (SELECT count(*) AS c FROM documents),
        |a AS (SELECT CAST(sum(doc_id % 3) AS BIGINT) AS c FROM documents),
        |e AS (SELECT count(*) AS c FROM documents WHERE doc_id % 2 = 0)
        |SELECT 'document' AS path, c AS n FROM n
        |UNION ALL SELECT 'document/doctype', c FROM n
        |UNION ALL SELECT 'document/html', c FROM n
        |UNION ALL SELECT 'document/html/head', c FROM n
        |UNION ALL SELECT 'document/html/head/title', c FROM n
        |UNION ALL SELECT 'document/html/head/title/text', c FROM n
        |UNION ALL SELECT 'document/html/head/meta', c FROM n
        |UNION ALL SELECT 'document/html/body', c FROM n
        |UNION ALL SELECT 'document/html/body/h1', c FROM n
        |UNION ALL SELECT 'document/html/body/h1/text', c FROM n
        |UNION ALL SELECT 'document/html/body/a', c FROM a
        |UNION ALL SELECT 'document/html/body/a/text', c FROM a
        |UNION ALL SELECT 'document/html/body/h2', c FROM e
        |UNION ALL SELECT 'document/html/body/h2/text', c FROM e
        |UNION ALL SELECT 'document/html/body/p', c FROM n
        |UNION ALL SELECT 'document/html/body/p/text', c FROM n""".stripMargin),

    "q50_regex_search" ->
      ("""WITH lines AS (SELECT doc_id, CAST(i AS BIGINT) AS line,
        |    string_split(text, chr(10))[i] AS line_text
        |  FROM documents, unnest(generate_series(1, len(string_split(text, chr(10))))) AS t(i))
        |SELECT doc_id, line, line_text FROM lines
        |WHERE regexp_matches(line_text, 'sp[a-z]+k')""".stripMargin),

    "q51_dependencies" ->
      ("SELECT 'https://' || source || '.example/' || doc_id::VARCHAR || '.html' AS url, " +
        "'external' AS category, 'ex.com' AS targets_str, " +
        "CAST(doc_id % 3 AS BIGINT) AS n_refs " +
        "FROM documents WHERE doc_id % 3 > 0"),

    // 64-bit simhash: bit j = nibble bit j//32 of md5 hex char j%32.
    // 1<<63 overflows DuckDB's left shift, so bit 63 uses the min-long
    // literal; the CAST collapses the HUGEINT sum back to int64.
    "q52_simhash64_values" -> (Sim64SqlCte + "SELECT doc_id, simhash FROM sh"),

    "q53_simhash64_pairs" -> (Sim64SqlCte +
      """SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    // zoom 3 → tile res 3, payload res 7 (parent identity: the tile of a
    // point's res-7 cell equals its res-3 cell — property-tested)
    "q54_vector_tiles" ->
      (s"""WITH $PointsSqlCte,
         |enc AS (SELECT c_custkey, CAST(c_custkey % 4 AS BIGINT) AS entity_idx,
         |  CAST(floor(((lon + 180.0)/360.0)*128.0) AS BIGINT) AS ix,
         |  CAST(floor(((lat + 90.0)/180.0)*128.0) AS BIGINT) AS iy FROM pts)
         |SELECT (3::BIGINT << 58) | ((ix // 16) << 29) | (iy // 16) AS tile_id,
         |  CAST(3 AS BIGINT) AS zoom, c_custkey, entity_idx,
         |  (7::BIGINT << 58) | (ix << 29) | iy AS cell_id
         |FROM enc""".stripMargin),

    // raster→vector: pixels with n >= 2 become exact res-7 cell boxes
    // (power-of-two divisions → bit-exact doubles in both engines)
    "q56_vectorize" ->
      (s"""WITH $PointsSqlCte,
         |enc AS (SELECT CAST(floor(((lon + 180.0)/360.0)*128.0) AS BIGINT) AS ix,
         |               CAST(floor(((lat + 90.0)/180.0)*128.0) AS BIGINT) AS iy FROM pts),
         |cnt AS (SELECT ix, iy, count(*) AS n FROM enc GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT (7::BIGINT << 58) | (ix << 29) | iy AS cell_id,
         |  CAST(3 AS BIGINT) AS zoom, n,
         |  ix * (360.0/128) - 180.0 AS lon_min, iy * (180.0/128) - 90.0 AS lat_min,
         |  (ix + 1) * (360.0/128) - 180.0 AS lon_max, (iy + 1) * (180.0/128) - 90.0 AS lat_max
         |FROM cnt""".stripMargin),

    // fixture layout: '<!doctype html>'=15, '<html>'→21, '<head>'→27,
    // '<title>'→34; the title text 'Doc {id}' spans [34, 38+len(id)) — the
    // unique min-span node containing point (0, 35) on every page
    "q59_node_at_position" ->
      (s"SELECT $UrlSql AS url, 'text' AS kind, '' AS name, " +
        "CAST(34 AS BIGINT) AS start_byte, " +
        "CAST(38 + length(doc_id::VARCHAR) AS BIGINT) AS end_byte FROM documents"),

    // per-page node count is 12 + 2*(anchors) + 2*(has_h2); excluding
    // within <h1> drops exactly its one text child
    "q60_exclude_within" ->
      (s"SELECT $UrlSql AS url, CAST(11 + 2*(doc_id % 3) + " +
        "2*(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n FROM documents"),

    "q61_find_context" ->
      (s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ls FROM documents),
         |u AS (SELECT doc_id, source, ls, len(ls) AS nl,
         |  unnest(generate_series(1, len(ls))) AS i FROM t)
         |SELECT $UrlSql AS url, CAST(i AS BIGINT) AS line, ls[i] AS line_text,
         |  array_to_string(list_transform(generate_series(greatest(i-1, 1), least(i+1, nl)),
         |    j -> j::VARCHAR || ':' || ls[j]), '|') AS context_str
         |FROM u WHERE contains(ls[i], 'spark')""".stripMargin),

    "q62_find_usage" ->
      (s"SELECT $UrlSql AS url, 'link.text' AS capture, 'l1' AS text " +
        "FROM documents WHERE doc_id % 3 = 2"),

    "q63_sample_symbols" ->
      (s"""WITH pages AS (SELECT doc_id, source, lang, $UrlSql AS url FROM documents),
         |samp AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY url) AS rn
         |  FROM pages) WHERE rn <= 3),
         |rows_ AS (
         |  SELECT url, 'title' AS symbol_type, ['Doc ' || doc_id::VARCHAR] AS texts FROM samp
         |  UNION ALL
         |  SELECT url, 'meta', [${PagesFromDocs.coordStrSql(PagesFromDocs.latSql("doc_id"))} || ';' ||
         |    ${PagesFromDocs.coordStrSql(PagesFromDocs.lonSql("doc_id"))}] FROM samp
         |  UNION ALL
         |  SELECT url, 'heading', CASE WHEN doc_id % 2 = 0
         |    THEN list_sort([source, 's' || doc_id::VARCHAR]) ELSE [source] END FROM samp
         |  UNION ALL
         |  SELECT url, 'link', list_sort(flatten(list_transform(generate_series(0, doc_id % 3 - 1),
         |    j -> ['https://ex.com/' || doc_id::VARCHAR || '/' || j::VARCHAR, 'l' || j::VARCHAR])))
         |  FROM samp WHERE doc_id % 3 > 0)
         |SELECT url, symbol_type, CAST(len(texts) AS BIGINT) AS n,
         |  array_to_string(texts, '|') AS texts_str FROM rows_""".stripMargin),

    "q64_security_gate" ->
      (s"""WITH h AS (SELECT $UrlSql AS url, $HtmlSql AS html_str FROM documents)
         |SELECT url, CAST(length(html_str) AS BIGINT) AS size_bytes FROM h
         |WHERE length(html_str) <= 500 AND url LIKE 'https://src1%'""".stripMargin),

    "q65_summarize_nodes" ->
      (s"""SELECT $UrlSql AS url, 'element' AS kind, 'title' AS name,
         |  '<title>Doc ' || doc_id::VARCHAR || '</title>' AS preview FROM documents
         |UNION ALL
         |SELECT $UrlSql, 'element', 'h2', '<h2>s' || doc_id::VARCHAR || '</h2>'
         |FROM documents WHERE doc_id % 2 = 0""".stripMargin),

    "q66_nodes_with_text" ->
      (s"""WITH t AS (SELECT $UrlSql AS url,
         |  list_sort(['Doc ' || doc_id::VARCHAR, source,
         |      replace(replace(text, '&', '&amp;'), '<', '&lt;')] ||
         |    list_transform(generate_series(0, doc_id % 3 - 1), j -> 'l' || j::VARCHAR) ||
         |    (CASE WHEN doc_id % 2 = 0 THEN ['s' || doc_id::VARCHAR]
         |     ELSE CAST([] AS VARCHAR[]) END)) AS texts
         |  FROM documents)
         |SELECT url, CAST(len(texts) AS BIGINT) AS n,
         |  array_to_string(texts, '|') AS texts_str FROM t""".stripMargin),

    "q67_node_types" ->
      ("""WITH c AS (SELECT count(*) AS n_docs,
        |  CAST(sum(7 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_el,
        |  CAST(sum(3 + doc_id % 3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tx
        |  FROM documents)
        |SELECT 'document' AS kind, 'the root node spanning the whole byte stream' AS description, n_docs AS n FROM c
        |UNION ALL SELECT 'doctype', 'a <! declaration', n_docs FROM c
        |UNION ALL SELECT 'element', 'a tag with lowercased name, attributes, and children', n_el FROM c
        |UNION ALL SELECT 'text', 'a raw text run (entity decoding happens at extraction)', n_tx FROM c""".stripMargin),

    "q68_analyze_corpus" ->
      (s"""WITH pages AS (SELECT doc_id, source, lang, $UrlSql AS url, $HtmlSql AS html_str FROM documents),
         |samp AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY url) AS rn
         |  FROM pages) WHERE rn <= 3),
         |sc AS (SELECT array_to_string(list_sort(list_filter([
         |    'heading:' || CAST(sum(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)::VARCHAR,
         |    'link:' || CAST(sum(2 * (doc_id % 3)) AS BIGINT)::VARCHAR,
         |    'meta:' || count(*)::VARCHAR,
         |    'title:' || count(*)::VARCHAR], x -> x <> 'link:0')), ',') AS sample_symbol_counts FROM samp),
         |lg AS (SELECT array_to_string(list_sort(list(lang || ':' || cnt::VARCHAR)), ',') AS languages
         |  FROM (SELECT lang, count(*) AS cnt FROM pages GROUP BY lang)),
         |tot AS (SELECT count(*) AS n_pages, count(DISTINCT source) AS n_sites,
         |  CAST(sum(length(html_str)) AS BIGINT) AS total_bytes FROM pages)
         |SELECT n_pages, n_sites, total_bytes, languages, sample_symbol_counts FROM tot, lg, sc""".stripMargin),

    "q70_image_stats" ->
      ("""SELECT k.k AS key, CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
         |  CAST(SUM((3*k.k + 7*x.x + 13*y.y) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((5*k.k + 11*x.x + 17*y.y) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((7*k.k + 13*x.x + 19*y.y) % 256) AS BIGINT) AS sum_b
         |FROM range(0, 200) k(k), range(0, 16) x(x), range(0, 12) y(y)
         |GROUP BY k.k""".stripMargin),

    "q71_image_resize_stats" ->
      ("""SELECT k.k AS key, CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
         |  CAST(SUM((3*k.k + 7*(2*x.x) + 13*(2*y.y)) % 256) AS BIGINT) AS sum_r,
         |  CAST(SUM((5*k.k + 11*(2*x.x) + 17*(2*y.y)) % 256) AS BIGINT) AS sum_g,
         |  CAST(SUM((7*k.k + 13*(2*x.x) + 19*(2*y.y)) % 256) AS BIGINT) AS sum_b
         |FROM range(0, 200) k(k), range(0, 8) x(x), range(0, 6) y(y)
         |GROUP BY k.k""".stripMargin),

    "q72_audio_stats" ->
      ("""SELECT k.k AS key, CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(1600 AS BIGINT) AS n_samples, CAST(200 AS BIGINT) AS duration_ms,
         |  CAST(SUM(ABS(((31*k.k + 17*i.i) % 65536) - 32768)) AS BIGINT) AS sum_abs
         |FROM range(0, 200) k(k), range(0, 1600) i(i)
         |GROUP BY k.k""".stripMargin),

    "q69_composed_query" ->
      (s"""SELECT $UrlSql AS url, 'heading.h1' AS capture, source AS text FROM documents
         |UNION ALL
         |SELECT $UrlSql, 'heading.h2', 's' || doc_id::VARCHAR FROM documents WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT $UrlSql, 'link.href', 'https://ex.com/' || doc_id::VARCHAR || '/' || j::VARCHAR
         |  FROM documents, unnest(generate_series(0, doc_id % 3 - 1)) AS t(j) WHERE doc_id % 3 > 0
         |UNION ALL
         |SELECT $UrlSql, 'link.text', 'l' || j::VARCHAR
         |  FROM documents, unnest(generate_series(0, doc_id % 3 - 1)) AS t(j) WHERE doc_id % 3 > 0""".stripMargin),

    "q40_window_rank_value" ->
      ("SELECT event_type, event_id, rnk, top_event FROM (" +
        "SELECT event_type, event_id, " +
        "CAST(rank() OVER w AS BIGINT) AS rnk, " +
        "first_value(event_id) OVER w AS top_event " +
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)" +
        ") WHERE rnk <= 5"),

    // q43: the snapshot waves split by an md5-derived bucket (the portable
    // hash), so DuckDB recomputes the engine's per-wave lineage counters
    // from the same source table; the transform is row-local 1:1, so
    // input = output per wave
    "q43_snapshot_lineage" ->
      ("SELECT wave, count(*) AS input_rows, count(*) AS output_rows FROM (" +
        "SELECT (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4) AS wave " +
        "FROM documents) GROUP BY wave"),

    // q55: DuckDB re-runs the full 2-iteration Lloyd loop on the
    // quantized vectors — exact integer sums make the means portable and
    // list_dot_product folds like DotProductExpr (see the query-side
    // comment). Assignment/probe CTEs share one generated shape.
    "q55_kmeans_ivf" -> {
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 256)) AS v
         |  FROM embeddings),
         |${duckLloydCtes(kClusters = 8)},
         |cass AS (${duckAssign("m2", 1)}),
         |qprobe AS (${duckAssign("m2", 2, "WHERE e.vec_id < 20")}),
         |scored AS (
         |  SELECT q.vec_id AS q_vec, c.vec_id,
         |    round(list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
         |  FROM qprobe q JOIN cass c ON q.cid = c.cid AND q.vec_id <> c.vec_id)
         |SELECT q_vec, vec_id, cos, rank FROM (
         |  SELECT q_vec, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_vec ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin
    },

    // q118: identical Lloyd loop over the union fixture, then the SemDeDup
    // shadow rule — a doc is dropped iff a smaller-keyed cluster-mate
    // scores 4-dp cosine >= 0.95 (the deterministic min-key-survivor
    // convention the Spark side documents)
    "q118_semdedup" -> {
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 256)) AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> floor(x * 256))
         |  FROM embeddings WHERE vec_id < 50),
         |${duckLloydCtes(kClusters = 8)},
         |cass AS (${duckAssign("m2", 1)}),
         |dropped AS (
         |  SELECT DISTINCT a.vec_id FROM cass a JOIN cass b
         |    ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.95)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
         |FROM cass a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin
    },

    // q119: every curation stage replayed in SQL over the SURVIVORS of
    // the previous stage, exactly like Curation.curate chains them —
    // lang/quality are the q17/q18 expressions, exact dedup is the q11
    // min-key rule, near-dup is the q13 band join + q57 recursive
    // components restricted to stage-3 survivors, decontamination is the
    // q85 gram probe, the cap is the q88 (hash, key) row_number, the
    // split is the q108 hash-bound CASE
    "q119_curation_pipeline" -> curationPipelineSql,

    // q120: every pyramid level computed the DIRECT way (encode points at
    // each zoom's payload resolution) — equal to the Spark side's
    // level-from-level rollup because floor(x·2^k) >> d == floor(x·2^(k−d))
    // for x ≥ 0 (the exact-hierarchy property)
    "q120_tile_pyramid" ->
      (s"""WITH $PointsSqlCte,
         |z AS (SELECT CAST(x AS BIGINT) AS zm FROM range(0, 4) t(x)),
         |enc AS (SELECT zm,
         |  CAST(floor(((lon + 180.0)/360.0) * CAST(1::BIGINT << CAST(zm + 4 AS INTEGER) AS DOUBLE)) AS BIGINT) AS ixp,
         |  CAST(floor(((lat + 90.0)/180.0) * CAST(1::BIGINT << CAST(zm + 4 AS INTEGER) AS DOUBLE)) AS BIGINT) AS iyp
         |  FROM pts CROSS JOIN z)
         |SELECT (zm << 58) | ((ixp // 16) << 29) | (iyp // 16) AS tile_id,
         |  zm AS zoom, ixp % 16 AS pix_x, iyp % 16 AS pix_y, count(*) AS n
         |FROM enc GROUP BY 1, 2, 3, 4""".stripMargin),

    // q121: identical floor arithmetic at res 6, then the 6 two-bit
    // quadrant digits concatenated — generated from the same zoom
    // constant as the Spark side
    "q121_quadkey" -> {
      val zoom = 6
      val digits = (1 to zoom).map { l =>
        s"CAST(((ixp >> ${zoom - l}) & 1) + 2*((iyp >> ${zoom - l}) & 1) AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH $PointsSqlCte,
         |enc AS (SELECT c_custkey,
         |  CAST(floor(((lon + 180.0)/360.0) * ${1 << zoom}.0) AS BIGINT) AS ixp,
         |  CAST(floor(((lat + 90.0)/180.0) * ${1 << zoom}.0) AS BIGINT) AS iyp
         |  FROM pts)
         |SELECT c_custkey, $digits AS qk FROM enc""".stripMargin
    },

    // q122: the two I/O HITS rounds unrolled — long sums are order-free,
    // so the unnormalized integer scores are bit-identical; DuckDB's
    // HUGEINT sums cast back to BIGINT (values bounded far below 2^63 by
    // the d_max^(2t-1) bound in Graph.hits)
    "q122_hits" -> hitsSql(2),

    // q125: the q27 link closed form, canonicalized in closed form too
    // (canonical of "<href>?utm_source=x&b=2&a=1#frag" = "<href>?a=1&b=2"
    // — tracking keys and the fragment stripped, remaining params
    // key-sorted; exactness of the general canonicalizer is q98's job),
    // then the exact fixed-point PageRank unrolled over the hashed edges
    "q125_link_graph_rank" -> pageRankSql(3,
      """SELECT DISTINCT doc_id % 200 AS src,
        |  CAST(('0x' || substr(md5('https://ex.com/' || doc_id::VARCHAR || '/' ||
        |    j::VARCHAR || '?a=1&b=2'), 1, 13)) AS BIGINT) % 200 AS dst
        |  FROM documents, unnest(generate_series(0, doc_id % 3 - 1)) AS t(j)
        |  WHERE doc_id % 3 > 0""".stripMargin),

    // q124: the append-only closed form — diff(parent, current) over two
    // hash-split waves is exactly the wave-1 rows as 'added' (removed is
    // empty: earlier waves' files are still in the child snapshot); the
    // content hash is the portable md5-52
    "q124_snapshot_diff" ->
      ("""SELECT o_orderkey AS key,
         |  CAST(('0x' || substr(md5(o_custkey::VARCHAR), 1, 13)) AS BIGINT) AS content_hash,
         |  'added' AS change
         |FROM orders
         |WHERE CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8)) AS BIGINT) % 2 = 1""".stripMargin),

    // q123: the same deterministic (hash, key) stream order per bucket,
    // window cumsum over preceding rows, integer div/mod chunking
    "q123_pack_sequences" ->
      ("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
         |  CAST(('0x' || substr(md5(doc_id::VARCHAR || ':pk'), 1, 13)) AS BIGINT) AS hh
         |  FROM documents WHERE len(string_split(text, ' ')) > 0),
         |s AS (SELECT doc_id, n, hh, hh % 8 AS bucket,
         |  coalesce(sum(n) OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
         |  FROM t)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, CAST(st AS BIGINT) AS token_start,
         |  CAST(st // 256 AS BIGINT) AS pack_first,
         |  CAST((st + n - 1) // 256 AS BIGINT) AS pack_last,
         |  CAST(st % 256 AS BIGINT) AS pack_off
         |FROM s""".stripMargin),

    // q41: the sign-LSH hyperplanes are deterministic data-independent
    // constants, so the oracle inlines the SAME values as literal arrays
    // (cosine arithmetic portability is the q15-proven path; the bucket
    // test is exact sign/integer arithmetic).
    "q41_ann_lsh" -> {
      val hps = (0 until 4).map(j =>
        Similarity.lshHyperplane(j, 64).mkString("[", ", ", "]"))
      val bucket = (0 until 4).map(j =>
        s"(CASE WHEN list_dot_product(v, ${hps(j)}) > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bkt FROM e),
         |q AS (SELECT vec_id AS q_vec, v AS qv, bkt AS b0 FROM b WHERE vec_id < 20),
         |probes AS (SELECT q_vec, qv, xor(b0, m.m) AS bkt
         |  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m) m),
         |scored AS (SELECT q_vec, c.vec_id,
         |    round(list_dot_product(qv, c.v) /
         |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
         |  FROM probes JOIN b c USING (bkt) WHERE q_vec <> c.vec_id)
         |SELECT q_vec, vec_id, cos, rank FROM (
         |  SELECT q_vec, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_vec ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin
    },

    "q42_multimodal_meta" ->
      ("""SELECT x AS key, 16::BIGINT AS width, 12::BIGINT AS height, 'ppm' AS format
        |FROM range(0, 150) t(x)
        |UNION ALL
        |SELECT x, 7::BIGINT, 5::BIGINT, 'ppm' FROM range(0, 150) t(x)""".stripMargin),

    "q73_warc_roundtrip" ->
      (s"""SELECT $UrlSql AS url, md5($HtmlSql) AS html_md5,
         |  length($HtmlSql)::BIGINT AS html_len, true AS roundtrip_ok
         |FROM documents""".stripMargin),

    // q110: the index digest and the seek-read digest must both equal the
    // independent html derivation (q73's mirror); seek_ok is computed by
    // ACTUALLY seeking, the oracle pins it true for every record
    "q110_warc_index_seek" ->
      (s"""SELECT $UrlSql AS url, md5($HtmlSql) AS payload_md5, true AS seek_ok
         |FROM documents""".stripMargin),

    // q115: one row per doc, derived directly — the parse must invert
    // the synthesis exactly
    "q115_sitemap_urls" ->
      ("""SELECT source AS host,
         |  'https://' || source || '/d/' || doc_id::VARCHAR AS loc_url,
         |  '2026-01-0' || (doc_id % 3 + 1)::VARCHAR AS lastmod
         |FROM documents""".stripMargin),

    // q116: every stage of the composite is closed-form per doc — the
    // newer capture wins (content by parity), robots decisions and delays
    // follow the q109/q113 md5-bucket variants, sitemap membership is doc
    // parity; the WHERE clause is the robots gate
    "q116_crawl_front_door" ->
      ("""WITH d AS (SELECT doc_id, source, text,
         |    CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) % 3 AS v,
         |    CASE CAST(doc_id % 4 AS INTEGER)
         |      WHEN 0 THEN '/private/' || doc_id::VARCHAR
         |      WHEN 1 THEN '/private/pub/' || doc_id::VARCHAR
         |      WHEN 2 THEN '/tmp/' || doc_id::VARCHAR
         |      ELSE '/ok/' || doc_id::VARCHAR END AS path
         |  FROM documents)
         |SELECT 'https://' || source || path AS canonical_url, source AS host,
         |  CAST(2 AS BIGINT) AS n_captures,
         |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS INTEGER) AS changed,
         |  md5(CASE WHEN doc_id % 2 = 0 THEN text ELSE text || '!v2' END) AS content_md5,
         |  CASE WHEN v = 0 THEN 2.0 WHEN v = 1 THEN 1.5 ELSE NULL END AS crawl_delay,
         |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS in_sitemap
         |FROM d
         |WHERE NOT (v = 0 AND doc_id % 4 = 0) AND NOT (v = 1 AND doc_id % 4 = 2)""".stripMargin),

    // q114: the newer capture always wins and its content is closed-form
    // per doc parity; the tracking-param variant collapses canonically
    "q114_latest_capture" ->
      ("""SELECT 'https://' || source || '/d/' || doc_id::VARCHAR AS canonical_url,
         |  CAST(2 AS BIGINT) AS n_captures,
         |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS INTEGER) AS changed,
         |  md5(CASE WHEN doc_id % 2 = 0 THEN text ELSE text || '!v2' END) AS content_md5
         |FROM documents""".stripMargin),

    // q113: closed-form per-variant delays; v2's googlebot-only delay
    // never surfaces (exact binary fractions, portable doubles)
    "q113_crawl_delay" ->
      ("""SELECT source AS host,
         |  CASE WHEN CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) % 3 = 0
         |    THEN 2.0 ELSE 1.5 END AS crawl_delay
         |FROM (SELECT DISTINCT source FROM documents)
         |WHERE CAST(('0x' || substr(md5(source), 1, 13)) AS BIGINT) % 3 < 2""".stripMargin),

    // q112: the synthetic page's only block candidate is the <p> holding
    // the escaped text (ASCII ⇒ chars = bytes); anchors/headers are
    // chrome outside it
    "q112_main_content" ->
      (s"""SELECT $UrlSql AS url, 'p' AS main_tag,
         |  CAST(length(replace(replace(text, '&', '&amp;'), '<', '&lt;')) AS BIGINT) AS content_len,
         |  CAST(0 AS BIGINT) AS anchor_len
         |FROM documents WHERE length(text) > 0""".stripMargin),

    // q111: the envelope is synthesized closed-form, so DuckDB derives
    // each piece directly — status by doc_id, x_chars = n_chars, body =
    // the raw text
    "q111_http_envelope" ->
      ("""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END AS INTEGER) AS status,
         |  CAST(n_chars AS BIGINT) AS x_chars, md5(text) AS body_md5
         |FROM documents""".stripMargin),

    "q74_payload_dialects" ->
      graft.api.Engine.payloadDialects.map { case (d, k, a) =>
        s"SELECT '$d' AS dialect, '$k' AS kernel, $a AS available"
      }.mkString("\nUNION ALL\n"),

    "q44_spatial_join_salted" ->
      (s"""WITH $PointsSqlCte, $CentroidSqlCte
         |SELECT c_custkey, n_nationkey FROM pts, ctr
         |WHERE abs(lon - cx)/w + abs(lat - cy)/h < 1""".stripMargin),

    "q45_json_extract" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod, " +
        "count(*) AS n, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
        "FROM events GROUP BY 1"),

    "q46_distinct_aggs" ->
      ("SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, " +
        "count(DISTINCT l_partkey) AS n_part, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag"),

    "q47_sessionize" ->
      ("""WITH g AS (SELECT user_id, event_id, value, ts,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM g),
        |sess AS (SELECT user_id, event_id, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM m)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM sess GROUP BY user_id, session_idx""".stripMargin)
  )
}
