package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Knn, Pages, SpatialJoin, TileRollup}
import graft.h3.Geo
import graft.ops.{Ops, OpsFunctions, Temporal}
import graft.spark.H3Functions

/** Driver contract: one query per implemented operator (SURVEY.md §2), with
  * a DuckDB-expressible oracle wherever the semantics allow (bit-level H3
  * ops, rectangle PIP joins, haversine kNN, dedup, text stats). FP-heavy H3
  * ops (projection, boundary) are covered by the 70k+118k-vector fixture
  * suite under `sbt test` and get rows-only driver checks here. */
object SparkEntry {

  private def registerAll(spark: SparkSession): Unit = {
    H3Functions.register(spark)
    OpsFunctions.register(spark)
  }

  /** Doc-keyed tables honor SPARK_GRAFT_STRATUM="m:r": restrict to the
    * deterministic stratum key % m = r. This is the sampled-oracle
    * mechanism for large scale factors — the quadratic brute-force
    * oracles (simhash/ngram all-pairs, recursive clustering, per-row
    * minhash lambdas) become practical to re-derive in DuckDB at sf0.1
    * because compare_oracles.py applies the IDENTICAL filter when
    * registering its views, so the hash compare stays bit-exact on the
    * stratum. Unset (the sf0.01 correctness gate), reads are unchanged. */
  private def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    name match {
      case "documents" => Stratum(df, "doc_id")
      case "embeddings" => Stratum(df, "vec_id")
      case _ => df
    }
  }

  // -------------------------------------------------------------------
  // Deterministic valid-cell construction (identical arithmetic in Spark
  // SQL and DuckDB SQL): res 9, non-pentagon base cells 8..13, digits from
  // the id in base 7.

  private val Pow7: Array[Long] = Array.iterate(1L, 11)(_ * 7)

  /** Spark dialect. */
  private def cellSqlSpark(id: String): String = {
    val digits = (1 to 9).map { i =>
      val shift = 3 * (15 - i)
      s"shiftleft(cast(floor(($id % ${Pow7(i)}) / ${Pow7(i - 1)}) as bigint), $shift)"
    }.mkString(" | ")
    val header = (1L << 59) | (9L << 52)
    s"(${header}L | shiftleft(cast(8 + $id % 6 as bigint), 45) | $digits | 262143L)"
  }

  /** DuckDB dialect (same value). */
  private def cellSqlDuck(id: String): String = {
    val digits = (1 to 9).map { i =>
      val shift = 3 * (15 - i)
      s"(CAST(floor(($id % ${Pow7(i)}) / ${Pow7(i - 1)}) AS BIGINT) << $shift)"
    }.mkString(" | ")
    val header = (1L << 59) | (9L << 52)
    s"($header | (CAST(8 + $id % 6 AS BIGINT) << 45) | $digits | 262143)"
  }

  /** DuckDB bit-level parent at `res` + unused-fill (mirrors the kernel). */
  private def parentSqlDuck(cell: String, res: Int): String = {
    val clear = ~(0xFL << 52)
    val fill = (1L << (3 * (15 - res))) - 1
    s"((($cell & $clear) | (CAST($res AS BIGINT) << 52)) | $fill)"
  }

  /** DuckDB haversine distance (meters) in degrees; mirrors the kernel. */
  private def haversineDuck(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"""(2.0 * atan2(
        sqrt(pow(sin((radians($lat2) - radians($lat1)) * 0.5), 2)
             + cos(radians($lat1)) * cos(radians($lat2))
               * pow(sin((radians($lng2) - radians($lng1)) * 0.5), 2)),
        sqrt(1.0 - (pow(sin((radians($lat2) - radians($lat1)) * 0.5), 2)
             + cos(radians($lat1)) * cos(radians($lat2))
               * pow(sin((radians($lng2) - radians($lng1)) * 0.5), 2)))
      ) * 6371007.180918475)"""

  // -------------------------------------------------------------------
  // Rectangle polygons used by the PIP-join query. One hot (Paris), one
  // urban (NYC), one ocean, one transmeridian (crosses the antimeridian).
  // Bounds are non-round to dodge exact boundary hits.
  // (latMin, latMax, lngMin, lngMax) with lngMin > lngMax = transmeridian.
  private val Rects: Seq[(Long, Double, Double, Double, Double)] = Seq(
    (1L, 48.712345, 49.012345, 2.112345, 2.612345),      // Paris (hot cells)
    (2L, 40.512345, 40.912345, -74.212345, -73.712345),  // NYC
    (3L, -10.212345, -9.712345, -140.212345, -139.712345), // Pacific
    (4L, -17.212345, -16.712345, 179.712345, -179.812345)) // transmeridian

  private def rectPolys: Seq[SpatialJoin.Poly] = Rects.map {
    case (id, latMin, latMax, lngMin, lngMax) =>
      val lats = Array(latMin, latMin, latMax, latMax)
      val lngs = Array(lngMin, lngMax, lngMax, lngMin)
      SpatialJoin.Poly(id, new Geo.GeoPolygon(Geo.ringFromDegrees(lats, lngs), Array.empty))
  }

  private def rectCondDuck(r: (Long, Double, Double, Double, Double)): String = {
    val (_, latMin, latMax, lngMin, lngMax) = r
    val latCond = s"lat > $latMin AND lat < $latMax"
    val lngCond =
      if (lngMin <= lngMax) s"lng > $lngMin AND lng < $lngMax"
      else s"(lng > $lngMin OR lng < $lngMax)"
    s"($latCond AND $lngCond)"
  }

  /** Mixture-sampling target weights (shared by the `mixture_sample`
    * query and its oracle): upsample src0/src1, keep src2, downsample
    * src3/src4; everything else is dropped by omission. */
  private val MixtureWeights: Map[String, Double] = Map(
    "src0" -> 2.5, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 0.6, "src4" -> 0.35)

  /** Synthetic-id stride of `assembly_pipeline`: a doc's copy index is at
    * most floor(max weight), so stride = floor(max)+1 makes
    * doc_id*stride+copy injective for ANY future weight table (computed,
    * not a magic constant; shared with the oracle). */
  private val AssemblyStride: Long =
    MixtureWeights.values.max.floor.toLong + 1

  // -------------------------------------------------------------------
  // '\n'-lined re-segmentation of `documents` (2-word lines) feeding the
  // line-level operators — the sf corpora are single-line, so the driver
  // synthesizes a deterministic multi-line corpus, mirrored exactly by
  // [[linedDuckCte]]. Tiny-vocab 2-word lines repeat heavily across docs
  // (median doc-frequency ~14 at sf0.01), exercising the boilerplate path.

  private def linedDocs(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(s"SELECT doc_id, ${Ops.relineSql(2)} AS text FROM documents")
  }

  /** DuckDB derivation of the same lined corpus (range(0,0) is empty, so
    * the zero-word case yields '' without an explicit guard). */
  private def linedDuckCte: String = {
    import OracleDialect._
    s"""lined AS (
      SELECT doc_id,
        array_to_string(list_transform(range(0, CAST(ceil(len(w)/2.0) AS BIGINT)),
          g -> array_to_string(w[g*2+1:g*2+2], ' ')), chr(10)) AS text
      FROM (SELECT doc_id, ${words("text")} AS w FROM documents))"""
  }

  /** Deterministic PII salting of the documents corpus (shared by the
    * pii queries; mirrored by [[piiSaltedDuckSql]]). */
  private def piiSaltedDocs(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql("""
      SELECT doc_id, concat(text,
        ' contact user', cast(doc_id as string), '@mail-',
          cast(doc_id % 50 as string), '.example',
        CASE WHEN doc_id % 3 = 0
             THEN concat(' also user', cast(doc_id as string), 'b@mail-',
                         cast(doc_id % 50 as string), '.example')
             ELSE '' END,
        ' or call 555-', lpad(cast(doc_id % 1000 as string), 3, '0'),
          '-', lpad(cast(doc_id % 10000 as string), 4, '0'),
        ' from 10.', cast(doc_id % 256 as string), '.0.1 ok') AS text
      FROM documents""")
  }

  private def piiSaltedDuckSql: String = """
      SELECT doc_id, concat(text,
        ' contact user', CAST(doc_id AS VARCHAR), '@mail-',
          CAST(doc_id % 50 AS VARCHAR), '.example',
        CASE WHEN doc_id % 3 = 0
             THEN concat(' also user', CAST(doc_id AS VARCHAR), 'b@mail-',
                         CAST(doc_id % 50 AS VARCHAR), '.example')
             ELSE '' END,
        ' or call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
          '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.1 ok') AS text
      FROM documents"""

  /** Messy URL synthesis (upper-case scheme/host, default port, utm
    * params, fragments — position varies by id). */
  private def messyUrlSql(id: String, duck: Boolean): String = {
    val st = if (duck) "VARCHAR" else "STRING"
    s"""concat('HTTPS://Host-', CAST($id % 100 AS $st), '.Example',
        CASE WHEN $id % 4 = 0 THEN ':443' ELSE '' END,
        '/path/', CAST($id AS $st),
        CASE WHEN $id % 2 = 0
             THEN concat('?utm_source=feed&id=', CAST($id AS $st),
                         '&utm_campaign=c', CAST($id % 7 AS $st))
             ELSE concat('?id=', CAST($id AS $st), '&utm_medium=m') END,
        CASE WHEN $id % 5 = 0 THEN '#frag' ELSE '' END)"""
  }

  // -------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- H3 bit-level kernel (exact DuckDB oracles) ---
    "h3_bitops" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell,
               h3_get_resolution(cell) AS res,
               h3_get_base_cell(cell) AS bc,
               h3_is_valid_cell(cell) AS valid,
               h3_cell_to_parent(cell, 5) AS parent5,
               h3_cell_to_children_size(cell, 11) AS nchildren,
               h3_to_string(cell) AS hex
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
      """)
    }),

    "h3_hierarchy_roundtrip" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      // child_pos/child_at and center-child round-trips, all bit-level.
      s.sql(s"""
        SELECT cell,
               h3_child_pos_to_cell(h3_cell_to_child_pos(cell, 5),
                                    h3_cell_to_parent(cell, 5), 9) AS back,
               h3_cell_to_center_child(h3_cell_to_parent(cell, 5), 9) AS center9,
               h3_cell_to_parent(h3_cell_to_center_child(cell, 12), 9) AS back2
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
      """)
    }),

    "h3_grid_disk_size" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell, count(*) AS disk_size, count(DISTINCT d.dcell) AS distinct_size
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_grid_disk(cell, 2) d AS dcell
        GROUP BY cell
      """)
    }),

    "h3_grid_distance_sum" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell, sum(d.distance) AS dist_sum,
               sum(h3_grid_distance(cell, d.dcell)) AS dist_check
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_grid_disk_distances(cell, 2) d AS dcell, distance
        GROUP BY cell
      """)
    }),

    "h3_compact_roundtrip" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT parent5,
               size(h3_compact_cells(collect_set(child))) AS compact_size,
               size(h3_uncompact_cells(h3_compact_cells(collect_set(child)), 7)) AS uncompact_size
        FROM (
          SELECT h3_cell_to_parent(${cellSqlSpark("event_id")}, 5) AS parent5,
                 c.child AS child
          FROM events
          LATERAL VIEW h3_cell_to_children(h3_cell_to_parent(${cellSqlSpark("event_id")}, 5), 7) c AS child
        )
        GROUP BY parent5
      """)
    }),

    "h3_center_roundtrip" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell,
               h3_latlng_to_cell(h3_cell_to_lat(cell), h3_cell_to_lng(cell), 9) = cell AS ok
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
      """)
    }),

    // --- Geotagged pages: indexing (geotag arithmetic + H3 invariants are
    //     DuckDB-checkable; the FP-level H3 projection itself is
    //     fixture-tested under sbt test) ---
    "pages_index" -> ((s, dir) => {
      registerAll(s)
      Pages.indexedPages(s, dir).selectExpr(
        "page_id", "url",
        "cast(floor(lat * 1000) as bigint) AS lat_q",
        "cast(floor(lng * 1000) as bigint) AS lng_q",
        "h3_is_valid_cell(cell9) AS valid",
        "h3_get_resolution(cell9) AS res",
        "h3_cell_to_parent(cell9, 3) = cell_p AS parent_ok",
        "h3_latlng_to_cell(h3_cell_to_lat(cell9), h3_cell_to_lng(cell9), 9) = cell9 AS rt_ok")
    }),

    // Icelite ON the data path (north rule: "over Iceberg tables"): the
    // indexed pages table is written through the resumable manifest layer
    // partitioned by the res-3 cell prefix, then read back via
    // MANIFEST-PRUNED scan planning — only partitions in the Paris rect's
    // buffered res-3 cover are opened (protrusion-safe for bit-parent
    // prefixes) — and filtered exactly. The oracle re-derives the rect
    // rows from scratch, so write -> manifest -> pruned read -> result is
    // hash-checked end-to-end.
    "pages_index_icelite" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_verify_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      engine.Icelite.writeResumable(s, Pages.indexedPages(s, dir), root, "cell_p")
      val rect = Rects.head
      val (_, latMin, latMax, lngMin, lngMax) = rect
      val allowed = Geo.bufferedAnnotatedCover(
        Array(rectPolys.head.geo), 3)._1.map(_.toString).toSet
      engine.Icelite.readWhere(s, root, allowed.contains)
        .filter(col("lat") > latMin && col("lat") < latMax &&
          col("lng") > lngMin && col("lng") < lngMax)
        .selectExpr(
          "page_id", "url",
          "cast(floor(lat * 1000) as bigint) AS lat_q",
          "cast(floor(lng * 1000) as bigint) AS lng_q",
          "h3_is_valid_cell(cell9) AS valid",
          "h3_cell_to_parent(cell9, 3) = cell_p AS parent_ok")
    }),

    // Row-level equality deletes through the Icelite manifest: the pages
    // table is written, every page_id % 3 == 0 row is DELETED via
    // bucket-routed delete files (data files untouched), and the read —
    // which applies the deletes as a bucket-scoped anti-join — must
    // hash-match the oracle's from-scratch re-derivation of the
    // surviving rows (write -> delete commit -> anti-join read, checked
    // end-to-end; delete/compaction content equivalence is spec-pinned
    // in IceliteDeleteSpec).
    "icelite_delete" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_del_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      val pages = Pages.indexedPages(s, dir)
      engine.Icelite.writeResumable(s, pages, root, "cell_p")
      engine.Icelite.deleteRowsResumable(s,
        pages.filter(col("page_id") % 3 === 0).select("cell_p", "page_id"),
        root, "cell_p", Seq("page_id"), runId = "driver-delete")
      engine.Icelite.read(s, root).selectExpr(
        "page_id", "url",
        "cast(floor(lat * 1000) as bigint) AS lat_q",
        "cast(floor(lng * 1000) as bigint) AS lng_q",
        "h3_cell_to_parent(cell9, 3) = cell_p AS parent_ok")
    }),

    // STRING-column manifest stats (lang slicing — the second most common
    // curation predicate after the cell prefix): write -> manifest string
    // bounds -> stats-pruned scan -> exact filter, hash-checked against a
    // from-scratch re-derivation. (Bucket-level pruning effectiveness is
    // spec-pinned in IceliteStringStatsSpec; here every cell_p bucket
    // holds several langs, so the gate checks end-to-end correctness of
    // the pruned-scan path on realistic mixed buckets.)
    "icelite_lang_prune" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_lang_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      engine.Icelite.writeResumable(s, Pages.indexedPages(s, dir), root, "cell_p")
      engine.Icelite.readWhereEquals(s, root, "lang", "en")
        .filter(col("lang") === "en")
        .selectExpr(
          "page_id", "url", "lang",
          "cast(floor(lat * 1000) as bigint) AS lat_q",
          "cast(floor(lng * 1000) as bigint) AS lng_q")
    }),

    // Manifest COLUMN-STATS pruning on a non-partition column: synthetic
    // bit-cells written partitioned by their res-5 parent; the res-9
    // descendant range of ONE parent prunes the manifest to a single
    // bucket (disjoint prefix ranges), and the exact between-filter on
    // top must equal the oracle's parent-equality re-derivation.
    "icelite_stats_prune" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_stats_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      table(s, dir, "events").createOrReplaceTempView("events")
      val cells = s.sql(
        s"SELECT event_id, ${cellSqlSpark("event_id")} AS cell FROM events")
        .withColumn("p0", expr("h3_cell_to_parent(cell, 0)"))
      engine.Icelite.writeResumable(s, cells, root, "p0")
      // The res-9 descendant range of ONE base cell: raw-bit prefix
      // ranges are disjoint per base, so the manifest prune keeps 1 of
      // the 6 buckets (~1/6 of rows) without touching the others.
      val b = s.sql(s"""
        SELECT h3_cell_to_center_child(p, 9) AS lo,
               h3_child_pos_to_cell(h3_cell_to_children_size(p, 9) - 1, p, 9) AS hi
        FROM (SELECT h3_cell_to_parent(${cellSqlSpark("0")}, 0) AS p)""").head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      engine.Icelite.readWhereRange(s, root, "cell", lo, hi)
        .filter(col("cell").between(lo, hi))
        .select("event_id", "cell")
    }),

    // Bloom-pruned POINT lookups on an unsorted high-cardinality column:
    // range stats cannot prune these (every bucket's [min,max] of
    // event_id spans the domain); the per-bucket bloom opens only the
    // buckets that might hold each id, plus an absent probe that prunes
    // everything and contributes zero rows.
    "icelite_bloom_prune" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_bloom_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      table(s, dir, "events").createOrReplaceTempView("events")
      val cells = s.sql(
        s"SELECT event_id, ${cellSqlSpark("event_id")} AS cell FROM events")
        .withColumn("p1", expr("h3_cell_to_parent(cell, 1)"))
      engine.Icelite.writeResumable(s, cells, root, "p1",
        bloomCols = Seq("event_id"))
      // ids 1/97/4242/9999 exist at every verified scale (>=10k events);
      // 123456789 exists at none (the all-pruned empty-frame path).
      Seq(1L, 97L, 4242L, 9999L, 123456789L)
        .map(id => engine.Icelite.readWherePointLong(s, root, "event_id", id)
          .filter(col("event_id") === id).select("event_id", "cell"))
        .reduce(_ unionAll _)
    }),

    // Tile pyramid over bit-level synthetic cells: DuckDB re-aggregates the
    // base level directly to res 5 with parent bit-math, so the stepwise
    // 9 -> 7 -> 5 re-aggregation is fully oracle-checked.
    "tile_rollup" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      val base = s.sql(
        s"SELECT ${cellSqlSpark("event_id")} AS cell9, event_id % 997 AS v FROM events")
      val levels = TileRollup.pyramid(s, base, "cell9", 9, Seq(7, 5, 3), Seq("v"))
      levels(5).selectExpr("h3_to_string(cell) AS tile", "cnt", "v")
    }),

    // --- PIP spatial join vs rectangle oracle ---
    "pip_join_rects" -> ((s, dir) => {
      registerAll(s)
      val pts = Pages.indexedPages(s, dir)
      SpatialJoin.pipJoin(s, pts, rectPolys, res = 9)
        .select(col("poly_id"), col("page_id"))
    }),

    // --- PIP join against a polygon TABLE (distributed covers) ---
    "pip_join_table" -> ((s, dir) => {
      registerAll(s)
      import s.implicits._
      val pts = Pages.indexedPages(s, dir)
      val polyTable = Rects.map { case (id, latMin, latMax, lngMin, lngMax) =>
        val ring = Seq((lngMin, latMin), (lngMax, latMin), (lngMax, latMax),
            (lngMin, latMax), (lngMin, latMin))
          .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
        (id, s"""{"type":"Polygon","coordinates":[$ring]}""")
      }.toDF("poly_id", "geojson")
      SpatialJoin.pipJoinPolygonTable(s, pts, polyTable, res = 9)
        .select("poly_id", "page_id")
    }),

    // --- kNN join vs brute-force haversine oracle ---
    "knn_join" -> ((s, dir) => {
      registerAll(s)
      val pages = Pages.pages(s, dir)
      val points = pages.select(col("page_id").as("id"), col("lat"), col("lng"))
      val queries = pages.filter(col("page_id") % 53 === 0)
        .select(col("page_id").as("qid"), col("lat"), col("lng"))
      Knn.knnJoin(s, points, queries, k = 5, res = 7)
        .withColumnRenamed("rank", "rnk").select("qid", "id", "rnk")
    }),

    // --- kNN prepared-corpus path: bucketed Icelite store, a LOCALIZED
    // (Paris-rect) query batch so the manifest-pruned file scan — not the
    // full corpus scan — is the plan under test, hash-checked against the
    // same brute haversine oracle. ---
    "knn_join_prepared" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_knn_prep_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      val pages = Pages.pages(s, dir)
      val points = pages.select(col("page_id").as("id"), col("lat"), col("lng"))
      val queries = pages
        .filter(col("page_id") % 7 === 0 &&
          col("lat").between(48.7, 49.0) && col("lng").between(2.2, 2.5))
        .select(col("page_id").as("qid"), col("lat"), col("lng"))
      val corpus = Knn.prepareCorpus(s, points, res = 7, root = root)
      val out = Knn.knnJoinPrepared(s, corpus, queries, k = 5)
        .withColumnRenamed("rank", "rnk").select("qid", "id", "rnk")
      corpus.release() // root is caller-owned; only the lazy cache drops
      out
    }),

    // --- Text invariant: byte-identical text per url through the engine ---
    "text_invariant" -> ((s, dir) => {
      registerAll(s)
      val pts = Pages.indexedPages(s, dir)
      // Round-trip through the spatial pipeline; text must be untouched.
      pts.select(col("url"), sha2(col("text"), 256).as("text_sha"))
    }),

    // --- Dedup family ---
    "dedup_exact" -> ((s, dir) => {
      Ops.dedupExact(table(s, dir, "documents"))
        .select("keep_id", "dup_count")
    }),

    "dedup_minhash" -> ((s, dir) => {
      Ops.dedupMinHash(s, table(s, dir, "documents"), threshold = 0.5)
    }),

    "dedup_simhash" -> ((s, dir) => {
      Ops.dedupSimHash(s, table(s, dir, "documents"), maxHamming = 6)
    }),

    // EXACT n-gram Jaccard join (prefix filtering): the oracle is a brute
    // all-pairs sweep, so a green row directly proves the exact-recall
    // claim of the blocking.
    "dedup_ngram" -> ((s, dir) => {
      Ops.dedupNgramExact(s, table(s, dir, "documents"), threshold = 0.4)
    }),

    // Duplicate clustering: connected components over the minhash pairs
    // (smallest-label propagation; the oracle closes the same components
    // with a recursive CTE).
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Ops.dedupMinHash(s, table(s, dir, "documents"), threshold = 0.5)
        .select("a_id", "b_id")
      Ops.duplicateClusters(s, pairs)
    }),

    "dedup_embedding" -> ((s, dir) => {
      // Low threshold (wide angle) needs few bits + many tables; recall
      // 0.97 vs brute at sf0.01 (see BASELINE.md).
      Ops.dedupEmbedding(s, table(s, dir, "embeddings"),
          threshold = 0.4, bits = 4, tables = 20)
        .select("a_id", "b_id")
    }),

    // --- Similarity search (map-side top-K aggregator path) ---
    "ann_brute" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 25 === 0)
      Ops.annBruteForceAgg(s, emb, queries, k = 5)
        .withColumnRenamed("rank", "rnk").select("qid", "vec_id", "rnk")
    }),

    "ann_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 25 === 0)
      // bits sized for ~8 vectors/bucket at this corpus (bits ~ log2(n/8));
      // recall 0.93 vs brute at sf0.01 (see BASELINE.md).
      Ops.annLsh(s, emb, queries, k = 5, bits = 6, tables = 8)
        .withColumnRenamed("rank", "rnk").select("qid", "vec_id", "rnk")
    }),

    "ann_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 25 === 0)
      // Soft assignment (each vector indexed under its 2 nearest cells):
      // recall 0.85 vs brute at sf0.01 (0.96 at nAssign=3); see BASELINE.md.
      Ops.annIvf(s, emb, queries, k = 5, nCentroids = 32, nProbe = 8, nAssign = 2)
        .withColumnRenamed("rank", "rnk").select("qid", "vec_id", "rnk")
    }),

    // Corpus-level boilerplate line removal: lines in >= 15 distinct docs
    // are dropped everywhere, survivors reassembled in order; the oracle
    // re-derives df -> anti-join -> reassembly -> sha from scratch.
    "line_dedup" -> ((s, dir) => {
      registerAll(s)
      Ops.lineDedup(s, linedDocs(s, dir), minDocs = 15)
        .selectExpr("doc_id", "n_lines", "n_kept",
          "sha2(clean_text, 256) AS clean_sha")
    }),

    // Domain-scoped boilerplate removal: the df key is (domain, line) —
    // deterministic synthetic domains over the lined corpus, mirrored
    // arithmetic (fp(domain)*48271 + fp(line) mod P) in the oracle.
    "line_dedup_domain" -> ((s, dir) => {
      registerAll(s)
      Ops.lineDedupByDomain(s,
          linedDocs(s, dir).withColumn("domain",
            expr("concat('host-', doc_id % 7, '.example')")),
          minDocs = 3)
        .selectExpr("doc_id", "domain", "n_lines", "n_kept",
          "sha2(clean_text, 256) AS clean_sha")
    }),

    // Gopher-style repetition signals (per-row, shuffle-free).
    "repetition_signals" -> ((s, dir) => {
      registerAll(s)
      Ops.repetitionSignals(s, linedDocs(s, dir)).selectExpr(
        "doc_id", "n_lines", "n_words",
        "cast(floor(dup_line_frac * 1000000) as bigint) AS dup_line_q",
        "cast(floor(dup_char_frac * 1000000) as bigint) AS dup_char_q",
        "cast(floor(top_word_frac * 1000000) as bigint) AS top_word_q",
        "cast(floor(top_bigram_frac * 1000000) as bigint) AS top_bigram_q")
    }),

    // Per-domain quota over the pages URL column (map-side top-K path).
    "domain_cap" -> ((s, dir) => {
      registerAll(s)
      Ops.domainCap(s, Pages.pages(s, dir), maxPerDomain = 5)
    }),

    // Deterministic content-hash train/valid/test split.
    "hash_split" -> ((s, dir) => {
      registerAll(s)
      Ops.hashSplit(s, table(s, dir, "documents"))
    }),

    "ann_ivf_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 25 === 0)
      // IVF coarse cells + 16x16 product-quantized codes (16 bytes/vector,
      // 16x compression) + ADC top-50 re-ranked exactly; the oracle
      // re-derives codebooks, codes, query tables and scores from scratch.
      // Recall 0.91 vs brute at these params (nAssign=3 was the cheap
      // lever: it grows the INDEX 1.5x but leaves per-query probe cost
      // unchanged, vs nProbe which multiplies candidates per query; the
      // IVF probe recall remains the binding constraint, PQ loses
      // ~nothing after re-rank).
      Ops.annIvfPq(s, emb, queries, k = 5, nCentroids = 32, nProbe = 8,
          nAssign = 3, nSub = 16, nCodewords = 16, rerankDepth = 50)
        .withColumnRenamed("rank", "rnk").select("qid", "vec_id", "rnk")
    }),

    // The FULL curation DAG in one composition: boilerplate line removal
    // -> repetition filter -> quality filter -> exact dedup -> content-hash
    // split -> per-split corpus stats. Every stage's semantics are the
    // individually-oracled operators'; this row proves they compose.
    "curation_full" -> ((s, dir) => {
      registerAll(s)
      val cleaned = Ops.lineDedup(s, linedDocs(s, dir), minDocs = 15)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
      val rep = Ops.repetitionSignals(s, cleaned)
        .filter(col("dup_line_frac") <= 0.05).select("doc_id")
      val qual = Ops.qualityScore(cleaned)
        .filter(col("quality") >= 0.5).select("doc_id")
      val kept = cleaned.join(rep, "doc_id").join(qual, "doc_id")
      val dedup = kept.groupBy("text").agg(
        min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
      val split = Ops.hashSplit(s,
        dedup.select(col("keep_id").as("doc_id"), col("text")))
      dedup.select(col("keep_id").as("doc_id"), col("text"), col("dups"))
        .join(split, "doc_id")
        .groupBy("split").agg(
          count(lit(1)).as("n_docs"),
          sum(expr("cast(ceil(length(text) / 4.0) as bigint)")).as("tokens"),
          sum("dups").as("n_dups"))
    }),

    // Append + file-diff incremental read through the Icelite manifest:
    // even pages written, odd pages APPENDED (new files, composed
    // checksums), then readIncremental since the pre-append snapshot must
    // deliver exactly the odd rows — the oracle re-derives them from
    // scratch, so append -> manifest -> file-diff scan is hash-checked
    // end-to-end.
    "pages_incremental" -> ((s, dir) => {
      registerAll(s)
      val root = s"/tmp/graft_icelite_incr_${Integer.toHexString(dir.hashCode)}"
      engine.Icelite.drop(root)
      val pages = Pages.indexedPages(s, dir)
      engine.Icelite.writeResumable(s,
        pages.filter(col("page_id") % 2 === 0), root, "cell_p")
      val preId = engine.Icelite.currentSnapshot(root).get.id
      engine.Icelite.appendResumable(s,
        pages.filter(col("page_id") % 2 === 1), root, "cell_p",
        runId = "driver-append")
      engine.Icelite.readIncremental(s, root, preId).selectExpr(
        "page_id", "url",
        "cast(floor(lat * 1000) as bigint) AS lat_q",
        "cast(floor(lng * 1000) as bigint) AS lng_q",
        "h3_cell_to_parent(cell9, 3) = cell_p AS parent_ok")
    }),

    // HTML -> text extraction over the pages' BINARY html column; the
    // oracle computes the expected text from the pages synthesis without
    // ever seeing html bytes, so a hash-match proves the extractor
    // inverts the markup exactly.
    "html_extract" -> ((s, dir) => {
      registerAll(s)
      Ops.htmlToText(Pages.pages(s, dir)).selectExpr(
        "page_id",
        "sha2(extracted_text, 256) AS text_sha",
        "extracted_text = text AS exact_ok")
    }),

    // PII detection + redaction over deterministically PII-salted text
    // (the sf corpus contains none): emails (x2 on every third doc),
    // NANP phones, IPv4 addresses.
    "pii_signals" -> ((s, dir) => {
      registerAll(s)
      Ops.piiSignals(piiSaltedDocs(s, dir))
    }),

    "pii_redact" -> ((s, dir) => {
      registerAll(s)
      Ops.piiRedact(piiSaltedDocs(s, dir))
        .selectExpr("doc_id", "sha2(redacted, 256) AS redacted_sha")
    }),

    // URL normalization: messy synthesized URLs (upper-case scheme/host,
    // default port, utm_* tracking params in varying positions, fragment)
    // -> canonical form for dedup/domain keys.
    "url_normalize" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "documents").createOrReplaceTempView("documents")
      val urls = s.sql(s"""
        SELECT doc_id, ${messyUrlSql("doc_id", duck = false)} AS url
        FROM documents""")
      Ops.normalizeUrls(urls).select("doc_id", "norm_url")
    }),

    // --- Text analysis ---
    "text_stats" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      docs.selectExpr(
        "doc_id",
        "length(text) AS n_chars",
        "size(split(trim(text), '\\\\s+')) AS n_words",
        "length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS n_punct",
        "length(text) - length(regexp_replace(text, '[0-9]', '')) AS n_digit")
    }),

    "token_counts" -> ((s, dir) => {
      Ops.tokenCounts(table(s, dir, "documents"))
    }),

    // Tokenizer-vocab building: corpus vocabulary with exact occurrence
    // and document frequencies above a threshold.
    "vocab" -> ((s, dir) => {
      Ops.vocab(table(s, dir, "documents"), minCount = 50)
    }),

    "lang_id" -> ((s, dir) => {
      Ops.langId(s, table(s, dir, "documents"))
        .select("doc_id", "lang", "predicted")
    }),

    "fingerprints" -> ((s, dir) => {
      Ops.fingerprints(s, table(s, dir, "documents"))
    }),

    // Benchmark decontamination: the eval set is a deterministic slice of
    // the corpus itself (doc_id % 97 == 0), so the operator provably
    // flags the leaked docs (self-contamination) plus any 5-gram overlap.
    "decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Ops.decontaminate(s, docs, docs.filter(col("doc_id") % 97 === 0), shingle = 5)
    }),

    // Repeated-substring span dedup: maximal token spans of 5-token
    // windows occurring >= 2 times corpus-wide (ExactSubstr relationally).
    "dedup_spans" -> ((s, dir) => {
      Ops.dedupSpans(s, table(s, dir, "documents"), window = 5)
    }),

    // Deterministic mixture sampling: per-source up/down-sampling to the
    // MixtureWeights targets (sources outside the map are dropped).
    "mixture_sample" -> ((s, dir) => {
      Ops.mixtureSample(s, table(s, dir, "documents"), MixtureWeights)
    }),

    // Sequence packing: concat-and-chunk into 256-token training
    // sequences across 8 hash-derived shards.
    "pack_sequences" -> ((s, dir) => {
      Ops.packSequences(s, table(s, dir, "documents"), seqLen = 256, nShards = 8)
    }),

    // Composed training-data ASSEMBLY: decontaminate-gate (drop docs
    // overlapping the eval slice) -> deterministic mixture resampling ->
    // sequence packing of the emitted copies (synthetic id = doc_id*8 +
    // copy). One DAG, end-to-end deterministic; the oracle re-derives
    // every stage from scratch.
    "assembly_pipeline" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val contaminated = Ops.decontaminate(s, docs, evalSet, shingle = 5)
        .filter(col("contaminated")).select("doc_id")
      val clean = docs.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      val sampled = Ops.mixtureSample(s, clean, MixtureWeights)
      val packedInput = sampled
        .join(docs.select("doc_id", "text"), "doc_id")
        .select((col("doc_id") * AssemblyStride + col("copy")).as("doc_id"),
          col("text"))
      Ops.packSequences(s, packedInput, seqLen = 256, nShards = 8)
    }),

    // Stupid-Backoff trigram LM (Brants et al. 2007): counts trained on
    // the doc_id % 3 != 0 slice, EVERY document scored — the held-out
    // third exercises the whole backoff ladder (tri -> bi -> uni -> oov),
    // which scoring the training slice alone never would.
    "lm_score" -> ((s, dir) => {
      Ops.lmScore(s, table(s, dir, "documents"), col("doc_id") % 3 =!= 0)
    }),

    // BM25 top-10 retrieval: every 53rd document queries the corpus with
    // its first 6 distinct terms (so each query's own document must
    // surface near rank 1 — a built-in sanity invariant).
    "bm25_topk" -> ((s, dir) => {
      Ops.bm25TopK(s, table(s, dir, "documents"), col("doc_id") % 53 === 1)
    }),

    // SemDeDup: deterministic medoid clusters over the embedding space,
    // within-cluster cosine pruning at tau = 0.35 (the corpus'
    // near-duplicate angle — see dedup_embedding's threshold).
    "sem_dedup" -> ((s, dir) => {
      Ops.semDedup(s, table(s, dir, "embeddings"), nClusters = 16, tau = 0.35)
    }),

    // CCNet-shaped composed pipeline: LM-score every document against
    // the in-corpus model, bucket by per-token likelihood into corpus
    // TERCILES (head / middle / tail — CCNet's own relative cut, robust
    // to the score dilution a bigger training corpus causes), keep
    // head+middle, pack the survivors into training sequences. The
    // tercile cuts come from a histogram of the bounded-cardinality
    // integer per-token scores (collected cumulative counts — no global
    // sort, no interpolation), so they are deterministic and the 10^12-
    // doc plan never single-partitions.
    "ccnet_pipeline" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = Ops.lmScore(s, docs, col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          expr("score_fp DIV greatest(n_tokens, 1)").as("npt"))
      val hist = scored.groupBy("npt").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val n = hist.map(_._2).sum
      def cutAt(k: Long): Long = {
        var cum = 0L
        for ((v, c) <- hist) { cum += c; if (cum >= k) return v }
        -1L
      }
      val t1 = if (n == 0) -1L else cutAt(n / 3)
      val t2 = if (n == 0) -1L else cutAt(2 * n / 3)
      val bucketed = scored.select(col("doc_id"),
        expr(s"CASE WHEN npt <= $t1 THEN 'tail' " +
          s"WHEN npt <= $t2 THEN 'middle' ELSE 'head' END").as("bucket"))
      val kept = docs.select("doc_id", "text")
        .join(bucketed.where(col("bucket") =!= "tail"), "doc_id")
      Ops.packSequences(s, kept.select("doc_id", "text"), seqLen = 256, nShards = 8)
        .join(kept.select("doc_id", "bucket"), "doc_id")
        .select("doc_id", "bucket", "shard", "n_tokens", "start_off",
          "seq_first", "seq_last", "n_seqs")
    }),

    // Deterministic distributed k-means: 2 spherical Lloyd rounds from
    // the medoid init; the oracle re-walks the full centroid trajectory
    // (fixed-point coordinate sums make it order-independent).
    "kmeans" -> ((s, dir) => {
      Ops.kmeans(s, table(s, dir, "embeddings"), nClusters = 16, rounds = 2)
    }),

    // SemDeDup over TRAINED clusters (the paper's actual setup): the
    // same pruning geometry as sem_dedup, but assignment uses 2 Lloyd
    // rounds of refined centroids.
    "sem_dedup_kmeans" -> ((s, dir) => {
      Ops.semDedup(s, table(s, dir, "embeddings"), nClusters = 16,
        tau = 0.35, lloydRounds = 2)
    }),

    // REAL BPE tokenizer training (Sennrich 2016): merge table learned
    // from the corpus word-count dictionary — one corpus scan, then a
    // driver loop on the vocabulary-sized dict. The oracle re-derives
    // the ENTIRE merge sequence (pair counts, argmax tie-breaks, greedy
    // replace passes) from scratch in iterative materialized CTEs.
    "bpe_merges" -> ((s, dir) =>
      Ops.bpeMerges(s, table(s, dir, "documents"))),

    // BPE corpus encode with the trained merges: one shuffle-free
    // codegen pass; token counts and the rolling fingerprint of each
    // doc's token stream are both re-derived end-to-end by the oracle
    // (training chain + rank-order merge application + string_agg).
    "bpe_encode" -> ((s, dir) =>
      Ops.bpeEncode(s, table(s, dir, "documents"))),

    // Composed tokenize -> pack: real BPE token counts drive sequence
    // packing (256-token sequences) instead of the whitespace estimate.
    "bpe_pack" -> ((s, dir) => {
      val enc = Ops.bpeEncode(s, table(s, dir, "documents"))
      Ops.packSequencesByCount(s, enc.select("doc_id", "n_tokens"),
        seqLen = 256, nShards = 8)
    }),

    // Learned selection classifier, distillation shape (FineWeb-Edu
    // trains a cheap classifier on an expensive judge's labels; here the
    // judge is the hand-written quality heuristic): 20 full-batch
    // logistic-regression iterations on surface text statistics, label =
    // quality_q >= 0.75. The model genuinely learns (~85% accuracy vs a
    // 75% majority prior at sf0.01 AND sf0.1), and the oracle re-derives
    // the ENTIRE weight trajectory from w = 0 without ever seeing the
    // trained weights.
    "lr_filter" -> ((s, dir) => {
      Ops.lrFilter(s, table(s, dir, "documents"),
        expr(s"CAST(floor((${Ops.qualitySql}) * 1000000) AS BIGINT) >= 750000"))
    }),

    // REAL media codec round-trip: per doc, PCM16 samples and RGB pixels
    // are synthesized by pure integer formulas, encoded into REAL
    // RIFF/WAVE and P6/PPM payloads, decoded back by the byte-level
    // parsers, nearest-neighbor resized (image), and reduced to integer
    // stats — which the oracle re-derives from the same formulas WITHOUT
    // any bytes, so a hash-match proves the encoders/decoders/resampler
    // are exact inverses.
    "media_codec_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.map { id =>
        val n = 2048 + (id % 5).toInt * 512
        val samples = Array.tabulate(n)(i =>
          (((id * 31 + i.toLong * i * 7) % 65536) - 32768).toShort)
        val wav = ops.Multimodal.RealCodec.wavEncode(samples, 16000)
        val (sr, dec) = ops.Multimodal.RealCodec.wavDecode(wav)
        var absSum = 0L
        dec.foreach(v => absSum += Math.abs(v.toLong))
        val w = 16 + (id % 4).toInt * 8
        val h = 12 + (id % 3).toInt * 4
        val rgb = Array.tabulate(w * h * 3)(i =>
          ((id * 7 + i.toLong * 13) % 256).toByte)
        val ppm = ops.Multimodal.RealCodec.ppmEncode(w, h, rgb)
        val (dw, dh, drgb) = ops.Multimodal.RealCodec.ppmDecode(ppm)
        var pixSum = 0L
        drgb.foreach(b => pixSum += (b & 0xFF))
        val rs = ops.Multimodal.RealCodec.ppmResize(ppm, 8, 8)
        val (_, _, rrgb) = ops.Multimodal.RealCodec.ppmDecode(rs)
        var rsum = 0L
        rrgb.foreach(b => rsum += (b & 0xFF))
        (id, dec.length, sr, absSum, dw, dh, pixSum, rsum)
      }.toDF("doc_id", "n_samples", "sample_rate", "abs_sum",
        "img_w", "img_h", "pix_sum", "resized_sum")
    }),

    // PNG + GIF codec round-trip: pixels are synthesized BY FORMULA,
    // compressed (PNG: deflate + per-id scanline filter; GIF: LZW against
    // a formula palette), decoded back, and summed. The oracle re-derives
    // the sums from the formulas alone — it never sees the bytes — so a
    // hash match proves exact inversion of both compressed formats.
    "png_gif_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.map { id =>
        val w = 8 + (id % 5).toInt * 4
        val h = 6 + (id % 4).toInt * 3
        val rgb = Array.tabulate(w * h * 3)(i => ((id * 11 + i.toLong * 17) % 256).toByte)
        val png = ops.Multimodal.RealCodec.pngEncode(w, h, rgb, (id % 5).toInt)
        val (dw, dh, drgb) = ops.Multimodal.RealCodec.pngDecode(png)
        var pngSum = 0L
        drgb.foreach(b => pngSum += (b & 0xFF))

        val gw = 10 + (id % 4).toInt * 6
        val gh = 8 + (id % 3).toInt * 4
        val idx = Array.tabulate(gw * gh)(i => ((id * 5 + i.toLong * 3) % 256).toByte)
        val palette = Array.tabulate(768)(j => ((j * 37 + 11) % 256).toByte)
        val gif = ops.Multimodal.RealCodec.gifEncode(gw, gh, idx, palette)
        val (gdw, gdh, grgb) = ops.Multimodal.RealCodec.gifDecode(gif)
        var gifSum = 0L
        grgb.foreach(b => gifSum += (b & 0xFF))
        (id, dw, dh, pngSum, gdw, gdh, gifSum)
      }.toDF("doc_id", "png_w", "png_h", "png_sum", "gif_w", "gif_h", "gif_sum")
    }),

    // JPEG codec round-trip: grayscale images of UNIFORM 8x8 blocks are
    // reproduced bit-exactly by the baseline JPEG codec at flat quant 1
    // (every AC coefficient is exactly zero; the DC survives exactly), so
    // the oracle can re-derive both the plain and the block-position-
    // weighted pixel sums from the synthesis formula alone — the hash
    // match proves Huffman + zigzag + quant + DCT all invert exactly on
    // this subdomain of a genuinely lossy format.
    "jpeg_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.map { id =>
        val bw = 2 + (id % 4).toInt
        val bh = 2 + (id % 3).toInt
        val w = bw * 8
        val h = bh * 8
        val gray = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val k = (y / 8) * bw + (x / 8)
            gray(y * w + x) = ((id * 13 + k.toLong * 29) % 256).toByte
            x += 1
          }
          y += 1
        }
        val jpg = ops.Jpeg.encode(w, h, gray, quant = 1)
        val (dw, dh, back) = ops.Jpeg.decode(jpg)
        var pixSum = 0L
        var wSum = 0L
        var i = 0
        while (i < back.length) {
          val v = (back(i) & 0xFF).toLong
          val k = ((i / w) / 8) * bw + ((i % w) / 8)
          pixSum += v
          wSum += v * (k + 1)
          i += 1
        }
        (id, dw, dh, pixSum, wSum)
      }.toDF("doc_id", "jw", "jh", "pix_sum", "blk_wsum")
    }),

    // FLAC codec round-trip: mono/stereo PCM synthesized BY FORMULA is
    // encoded into a real FLAC stream (fixed + LPC prediction, Rice
    // coding, per-frame stereo-mode decision, wasted-bits detection,
    // CRC-8/16 + audio MD5) and decoded back; the oracle re-derives the
    // absolute-sample sums from the formulas alone — it never sees the
    // bytes — so a hash match proves the whole lossless codec inverts
    // exactly. Real compression is asserted in-flight (every payload
    // must beat raw PCM size).
    "flac_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.map { id =>
        val n = 4000 + (id % 7).toInt * 600
        val f = if (id % 5 == 0) 4 else 1
        val nch = 1 + (id % 2).toInt
        val base = Array.tabulate(n)(i => (((id * 3 + i.toLong * 7) % 4096) - 2048).toInt)
        val left = base.map(_ * f)
        val chans =
          if (nch == 1) Array(left)
          else Array(left, Array.tabulate(n)(i =>
            f * (base(i) + (((id * 31 + i.toLong * i * 13) % 64) - 32).toInt)))
        val sr = 16000 + (id % 3).toInt * 16000
        val flac = ops.Flac.encode(chans, sr, 16, blockSize = 1024)
        require(flac.length < 2 * n * nch, "FLAC failed to compress synthetic PCM")
        val a = ops.Flac.decode(flac)
        var lAbs = 0L
        a.channels(0).foreach(v => lAbs += Math.abs(v.toLong))
        var rAbs = 0L
        if (nch == 2) a.channels(1).foreach(v => rAbs += Math.abs(v.toLong))
        (id, a.numSamples, a.sampleRate, a.bps, lAbs, rAbs)
      }.toDF("doc_id", "n_samples", "sr", "bps", "l_abs", "r_abs")
    }),

    // Multimodal plumbing: the decode stage is a declared stub, but the
    // dataflow (kind routing, frame counting, stride sampling, fixed
    // feature shape) is integer-exact and oracle-checked end-to-end.
    "multimodal_pipeline" -> ((s, dir) => {
      val media = ops.Multimodal.mediaTable(s, dir)
      val feats = ops.Multimodal.extractFeatures(s, media, featureDim = 32).toDF()
        .select(col("doc_id"), col("kind"), col("frames"),
          size(col("feature")).as("feat_dim"))
      val sampled = ops.Multimodal.sampleFrames(s, media, stride = 2, featureDim = 16)
        .toDF().groupBy("doc_id").agg(count(lit(1)).as("n_sampled"))
      feats.join(sampled, "doc_id")
    }),

    // --- Directed edges / vertexes / local IJ / dissolve ---
    "h3_edges" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell, e.edge AS edge,
               h3_get_directed_edge_origin(e.edge) = cell AS origin_ok,
               h3_is_valid_directed_edge(e.edge) AS valid
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_origin_to_directed_edges(cell) e AS edge
      """)
    }),

    "h3_edge_semantics" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      // Destination is a neighbor; reverse round-trips; length positive.
      s.sql(s"""
        SELECT cell,
               bool_and(h3_are_neighbor_cells(cell, h3_get_directed_edge_destination(e.edge))) AS dest_ok,
               bool_and(h3_get_directed_edge_destination(h3_directed_edge_reverse(e.edge)) = cell) AS rev_ok,
               bool_and(h3_edge_length_m(e.edge) > 0) AS len_ok
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_origin_to_directed_edges(cell) e AS edge
        GROUP BY cell
      """)
    }),

    "h3_edge_cells" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      // Edge cells() pair accessor + max ring size (reference edge.rs:169-180).
      s.sql(s"""
        SELECT cell,
               bool_and(h3_directed_edge_to_cells(e.edge)[0] = cell) AS cells0_ok,
               bool_and(h3_directed_edge_to_cells(e.edge)[1] =
                        h3_get_directed_edge_destination(e.edge)) AS cells1_ok,
               max(h3_max_grid_ring_size(2)) AS ring2,
               max(h3_max_grid_ring_size(0)) AS ring0
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_origin_to_directed_edges(cell) e AS edge
        GROUP BY cell
      """)
    }),

    "h3_vertexes" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell,
               count(*) AS n_vertexes,
               bool_and(h3_is_valid_vertex(v.vertex)) AS all_valid
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_cell_to_vertexes(cell) v AS vertex
        GROUP BY cell
      """)
    }),

    "h3_local_ij_roundtrip" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        SELECT cell,
               bool_and(h3_local_ij_to_cell(cell,
                 h3_cell_to_local_ij(cell, d.dcell).i,
                 h3_cell_to_local_ij(cell, d.dcell).j) = d.dcell) AS ok,
               bool_and(h3_local_ij_to_cell(
                 h3_cell_to_local_ij_anchored(cell, d.dcell).anchor,
                 h3_cell_to_local_ij_anchored(cell, d.dcell).i,
                 h3_cell_to_local_ij_anchored(cell, d.dcell).j) = d.dcell) AS ok_anchored
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events)
        LATERAL VIEW h3_grid_disk(cell, 2) d AS dcell
        GROUP BY cell
      """)
    }),

    "h3_dissolve_roundtrip" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      // Dissolve a 1-disk then re-tile the outline: must recover the disk.
      s.sql(s"""
        WITH disks AS (
          SELECT cell, sort_array(collect_set(d.dcell)) AS disk
          FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events
                WHERE event_id % 100 = 0)
          LATERAL VIEW h3_grid_disk(cell, 1) d AS dcell
          GROUP BY cell
        )
        SELECT cell, disk = sort_array(collect_set(p.pcell)) AS ok
        FROM disks
        LATERAL VIEW h3_polygon_to_cells(
          h3_cells_to_multi_polygon(disk), 9, 0) p AS pcell
        GROUP BY cell, disk
      """).drop("disk")
    }),

    // Line plotter: cells along a LineString between two cell centers form
    // a grid path of exactly grid_distance+1 cells containing both ends.
    "h3_line_cells" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        WITH pts AS (
          SELECT cell, h3_cell_to_center_child(h3_cell_to_parent(cell, 5), 9) AS cell2
          FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events
                WHERE event_id % 100 = 0))
        SELECT cell,
               count(*) = h3_grid_distance(cell, cell2) + 1 AS count_ok,
               max(cast(l.lcell = cell AS int)) = 1 AS has_start,
               max(cast(l.lcell = cell2 AS int)) = 1 AS has_end
        FROM pts
        LATERAL VIEW h3_line_to_cells(
          concat('{"type":"LineString","coordinates":[[',
            h3_cell_to_lng(cell), ',', h3_cell_to_lat(cell), '],[',
            h3_cell_to_lng(cell2), ',', h3_cell_to_lat(cell2), ']]}'), 9) l AS lcell
        GROUP BY cell, cell2
      """)
    }),

    // Heterogeneous dissolve: a mixed-res set (ring-1 at res 9 + children
    // of the center at res 10) must re-tile to exactly the uncompacted
    // disk at res 10 — drives the boundary-refinement fast path.
    "h3_dissolve_compacted" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql(s"""
        WITH base AS (
          SELECT ${cellSqlSpark("event_id")} AS cell FROM events
          WHERE event_id % 200 = 0),
        mixed AS (
          SELECT cell, collect_set(m) AS mixed_cells FROM (
            SELECT cell, r.rcell AS m FROM base
            LATERAL VIEW h3_grid_ring(cell, 1) r AS rcell
            UNION ALL
            SELECT cell, c.ccell AS m FROM base
            LATERAL VIEW h3_cell_to_children(cell, 10) c AS ccell
          ) GROUP BY cell),
        expect AS (
          SELECT cell, sort_array(collect_set(u.ucell)) AS want FROM base
          LATERAL VIEW h3_grid_disk(cell, 1) d AS dcell
          LATERAL VIEW h3_cell_to_children(d.dcell, 10) u AS ucell
          GROUP BY cell)
        SELECT m.cell, sort_array(collect_set(p.pcell)) = e.want AS ok
        FROM mixed m JOIN expect e ON m.cell = e.cell
        LATERAL VIEW h3_polygon_to_cells(
          h3_cells_to_multi_polygon(m.mixed_cells), 10, 0) p AS pcell
        GROUP BY m.cell, e.want
      """).select("cell", "ok")
    }),

    // Distributed dissolve (groupBy canonical edge -> twin cancel -> link):
    // each group's MultiPolygon must re-tile to exactly its input disk.
    "dissolve_distributed" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      val disks = s.sql(s"""
        SELECT cell AS grp, d.dcell AS cell
        FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events
              WHERE event_id % 200 = 0)
        LATERAL VIEW h3_grid_disk(cell, 2) d AS dcell""")
      val dissolved = engine.DistributedDissolve.dissolve(s, disks, "grp", "cell")
      dissolved.createOrReplaceTempView("__dissolved")
      disks.createOrReplaceTempView("__disks")
      s.sql("""
        WITH want AS (SELECT grp, sort_array(collect_set(cell)) AS cells
                      FROM __disks GROUP BY grp),
        got AS (SELECT d.grp, sort_array(collect_set(p.pcell)) AS cells
                FROM __dissolved d
                LATERAL VIEW h3_polygon_to_cells(d.geojson, 9, 0) p AS pcell
                GROUP BY d.grp)
        SELECT w.grp AS cell, w.cells = g.cells AS ok
        FROM want w JOIN got g ON w.grp = g.grp
      """)
    }),

    // Distributed dissolve over MIXED-resolution (compacted) input — the
    // heterogeneous Solvent, distributed: ring-1 at res 9 + the center at
    // res 9 + the center's res-10 children (the latter ancestor-covered,
    // exercising the dedup) must dissolve to the disk outline, verified by
    // exact re-tiling at res 10.
    "dissolve_distributed_mixed" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      val mixed = s.sql(s"""
        WITH base AS (
          SELECT ${cellSqlSpark("event_id")} AS bcell FROM events
          WHERE event_id % 200 = 0)
        SELECT bcell AS grp, m AS cell FROM (
          SELECT bcell, r.rcell AS m FROM base
          LATERAL VIEW h3_grid_ring(bcell, 1) r AS rcell
          UNION ALL
          SELECT bcell, bcell AS m FROM base
          UNION ALL
          SELECT bcell, c.ccell AS m FROM base
          LATERAL VIEW h3_cell_to_children(bcell, 10) c AS ccell
        )""")
      val dissolved = engine.DistributedDissolve.dissolve(s, mixed, "grp", "cell")
      dissolved.createOrReplaceTempView("__dissolved_mixed")
      s.sql(s"""
        WITH want AS (
          SELECT cell AS grp, sort_array(collect_set(u.ucell)) AS cells
          FROM (SELECT ${cellSqlSpark("event_id")} AS cell FROM events
                WHERE event_id % 200 = 0)
          LATERAL VIEW h3_grid_disk(cell, 1) d AS dcell
          LATERAL VIEW h3_cell_to_children(d.dcell, 10) u AS ucell
          GROUP BY cell),
        got AS (SELECT d.grp, sort_array(collect_set(p.pcell)) AS cells
                FROM __dissolved_mixed d
                LATERAL VIEW h3_polygon_to_cells(d.geojson, 10, 0) p AS pcell
                GROUP BY d.grp)
        SELECT w.grp AS cell, w.cells = g.cells AS ok
        FROM want w JOIN got g ON w.grp = g.grp
      """)
    }),

    // Distributed compact: round-trips exactly (compact of the res-8
    // children of sampled cells collapses back to the cells; uncompact
    // re-expands to the same count).
    "compact_distributed" -> ((s, dir) => {
      registerAll(s)
      table(s, dir, "events").createOrReplaceTempView("events")
      val children = s.sql(s"""
        SELECT base, c.child AS cell
        FROM (SELECT ${cellSqlSpark("event_id")} AS base FROM events
              WHERE event_id % 200 = 0)
        LATERAL VIEW h3_cell_to_children(base, 11) c AS child""")
      val compacted = engine.DistributedCompact.compact(s,
        children.select("cell"))
      compacted.createOrReplaceTempView("__compacted")
      children.createOrReplaceTempView("__children")
      // Every sampled base cell reappears as one compacted cell, and the
      // compacted set re-expands to exactly the input children.
      s.sql("""
        SELECT b.base AS cell,
               count(c.cell) = 1 AS collapsed,
               min(h3_cell_to_children_size(c.cell, 11)) =
                 min(n.n_children) AS expand_ok
        FROM (SELECT DISTINCT base FROM __children) b
        JOIN __compacted c ON c.cell = b.base
        JOIN (SELECT base, count(*) AS n_children FROM __children GROUP BY base) n
          ON n.base = b.base
        GROUP BY b.base
      """)
    }),

    // Quality scoring: ratios and the blended score are exact integer /
    // double arithmetic mirrored in DuckDB (quantized to dodge float
    // rendering differences).
    "quality_score" -> ((s, dir) => {
      Ops.qualityScore(table(s, dir, "documents")).selectExpr(
        "doc_id", "n_chars", "n_words",
        "cast(floor(punct_ratio * 1000000) as bigint) AS punct_q",
        "cast(floor(digit_ratio * 1000000) as bigint) AS digit_q",
        "cast(floor(stopword_ratio * 1000000) as bigint) AS stop_q",
        "cast(floor(quality * 1000000) as bigint) AS quality_q")
    }),

    // End-to-end curation composition: quality filter -> exact dedup
    // (min_by survivor) -> per-language corpus stats. Exercises operator
    // composition across the pages synthesis, quality scoring, and dedup
    // families with one fully-mirrored DuckDB oracle.
    "curation_pipeline" -> ((s, dir) => {
      val docs = Pages.pages(s, dir)
        .select(col("page_id").as("doc_id"), col("text"), col("lang"))
      val quality = Ops.qualityScore(docs.select("doc_id", "text"))
      val curated = docs.join(
        quality.filter(col("quality") >= 0.5).select("doc_id"), "doc_id")
      val kept = curated.groupBy("text").agg(
        min("doc_id").as("keep_id"),
        expr("min_by(lang, doc_id)").as("lang"),
        count(lit(1)).as("dups"))
      kept.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(expr("cast(ceil(length(text) / 4.0) as bigint)")).as("tokens"),
        sum("dups").as("n_dups"))
    }),

    // --- Relational baseline (Catalyst plumbing sanity) ---
    "q1_agg" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
      """)
    }),

    "events_sessions" -> ((s, dir) => {
      table(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""
        SELECT user_id, count(*) AS n_sessions
        FROM (
          SELECT user_id,
                 CASE WHEN unix_micros(cast(ts as timestamp)) - lag(unix_micros(cast(ts as timestamp)), 1, -3600000000)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
        WHERE new_session = 1
        GROUP BY user_id
      """)
    }),

    // As-of join over the event log: each click matched to the same
    // user's latest at-or-before view (union-tag + ONE shuffle + a
    // running last() — no range-join explosion; see Temporal.asofJoin).
    "asof_join" -> ((s, dir) =>
      Temporal.asofJoin(s, table(s, dir, "events"))),

    // Forward as-of with a 30-minute tolerance: each click matched to
    // the same user's EARLIEST at-or-after view, nulled when farther
    // than the window (merge_asof semantics).
    "asof_join_fwd" -> ((s, dir) =>
      Temporal.asofJoin(s, table(s, dir, "events"),
        direction = "forward", toleranceUs = 1800000000L)),

    // Full sessionization summaries (30-min gap, session_window-aligned
    // semantics): one row per session with bounds/size/first event.
    "sessionize" -> ((s, dir) =>
      Temporal.sessionize(s, table(s, dir, "events"))),

    // Strict-order greedy funnel view -> click -> purchase with a 1-hour
    // conversion window from step 1; one row per user reaching step 1.
    "funnel" -> ((s, dir) =>
      Temporal.funnel(s, table(s, dir, "events"))),

    // KMV approximate distinct texts per lang: bounded map-side sketch,
    // shuffle carries <= k longs per group per partition; the oracle
    // re-derives the kth order statistic AND the one deterministic IEEE
    // division bit-for-bit.
    "approx_distinct" -> ((s, dir) =>
      Ops.approxDistinct(s, table(s, dir, "documents"), "lang", "text")),

    // Exact lower quantiles of the document-length distribution: one
    // histogram aggregation + a value-cardinality-sized driver walk (the
    // CCNet-tercile shape, generalized).
    "quantiles" -> ((s, dir) =>
      Ops.exactQuantiles(s, table(s, dir, "documents"), "n_chars")))

  // -------------------------------------------------------------------

  /** The minhash candidate->verified-pairs CTE chain (shared by the
    * dedup_minhash and dedup_clusters oracles). */
  private def minhashPairsCtes: String = {
    import OracleDialect._
    s"""wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        shing AS (SELECT doc_id, ${shingleFps("w", 3)} AS fps FROM wrds),
        sigs AS (SELECT doc_id, list_distinct(fps) AS dfps,
                        ${minHashSig("fps", 64)} AS sig FROM shing),
        bnds AS (SELECT doc_id, b.band AS band, ${bandHash("sig", "b.band", 4)} AS band_hash
                 FROM sigs, (SELECT unnest(range(0, 16)) AS band) b),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM bnds a JOIN bnds b USING (band, band_hash)
                 WHERE a.doc_id < b.doc_id),
        pairs AS (SELECT c.a_id, c.b_id,
                 CASE WHEN len(sa.dfps) = 0 AND len(sb.dfps) = 0 THEN 1
                      ELSE len(list_intersect(sa.dfps, sb.dfps)) END AS n_inter,
                 CASE WHEN len(sa.dfps) = 0 AND len(sb.dfps) = 0 THEN 1
                      ELSE len(sa.dfps) + len(sb.dfps)
                           - len(list_intersect(sa.dfps, sb.dfps)) END AS n_union
                 FROM cand c
                 JOIN sigs sa ON sa.doc_id = c.a_id
                 JOIN sigs sb ON sb.doc_id = c.b_id)"""
  }

  /** k-means oracle CTE chain up to the final assignment: cent0 (medoid
    * init, cluster ids 0..k-1), per round an argmax-cosine assignment +
    * quantized coordinate sums + FLOAT-narrowed mean centroids (empty
    * clusters keep the previous centroid), ending at asg{rounds+1}
    * (assignment against cent{rounds}). Shared by the kmeans and
    * sem_dedup_kmeans oracles. */
  private def kmeansOracleCtes(k: Int, rounds: Int): String = {
    import OracleDialect._
    def asgCte(i: Int, cent: String) = s"""asg$i AS MATERIALIZED (
          SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings e, $cent c) WHERE rn = 1)"""
    val sb = new StringBuilder
    sb ++= s"""cent0 AS MATERIALIZED (
          SELECT cid - 1 AS cid, c_vec FROM (
            SELECT row_number() OVER (ORDER BY (vec_id * 48271) % 2147483647, vec_id) AS cid,
                   embedding AS c_vec
            FROM embeddings) WHERE cid <= $k)"""
    for (i <- 1 to rounds) {
      sb ++= s",\n        ${asgCte(i, s"cent${i - 1}")}"
      sb ++= s""",
        sums$i AS MATERIALIZED (
          SELECT cid, d,
                 CAST(sum(CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM (SELECT cid, unnest(range(0, len(embedding))) AS d,
                       unnest(embedding) AS v FROM asg$i)
          GROUP BY 1, 2),
        cent$i AS MATERIALIZED (
          SELECT c0.cid, CASE WHEN m.cid IS NULL THEN c0.c_vec ELSE m.c_vec END AS c_vec
          FROM cent${i - 1} c0 LEFT JOIN (
            SELECT cid, list(CAST(((CAST(s AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)) AS FLOAT) ORDER BY d) AS c_vec
            FROM sums$i GROUP BY cid) m ON m.cid = c0.cid)"""
    }
    sb ++= s",\n        ${asgCte(rounds + 1, s"cent$rounds")}"
    sb.toString
  }

  /** Stupid-Backoff LM oracle (full WITH..SELECT over `documents`, train
    * slice doc_id % 3 <> 0, alpha 0.4) — the lm_score oracle, also
    * embedded as a sub-CTE by the ccnet_pipeline oracle. */
  private def lmOracleSql: String = {
    import OracleDialect._
    s"""
        WITH wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        tr AS (SELECT w FROM wrds WHERE doc_id % 3 <> 0),
        u AS (SELECT fp, count(*) AS cnt
              FROM (SELECT unnest(${shingleFps("w", 1)}) AS fp FROM tr) GROUP BY 1),
        bg AS (SELECT fp, count(*) AS cnt
              FROM (SELECT unnest(${shingleFps("w", 2)}) AS fp FROM tr WHERE len(w) >= 2) GROUP BY 1),
        tg AS (SELECT fp, count(*) AS cnt
              FROM (SELECT unnest(${shingleFps("w", 3)}) AS fp FROM tr WHERE len(w) >= 3) GROUP BY 1),
        ntt AS (SELECT CAST(sum(len(w)) AS BIGINT) AS nt FROM tr),
        arrs AS (SELECT doc_id, COALESCE(len(w), 0) AS n, ${shingleFps("w", 1)} AS u1,
            CASE WHEN len(w) >= 2 THEN ${shingleFps("w", 2)} ELSE CAST([] AS BIGINT[]) END AS b2,
            CASE WHEN len(w) >= 3 THEN ${shingleFps("w", 3)} ELSE CAST([] AS BIGINT[]) END AS t3l
          FROM wrds),
        pos AS (SELECT doc_id, unnest(range(0, n)) AS j, u1, b2, t3l FROM arrs),
        pr AS (SELECT doc_id, j,
            u1[j+1] AS t1,
            CASE WHEN j >= 1 THEN u1[j] ELSE -1 END AS t1x,
            CASE WHEN j >= 1 THEN b2[j] ELSE -1 END AS t2,
            CASE WHEN j >= 2 THEN b2[j-1] ELSE -1 END AS t2x,
            CASE WHEN j >= 2 THEN t3l[j-1] ELSE -1 END AS t3
          FROM pos),
        hit AS (SELECT p.doc_id, p.j,
            COALESCE(cu.cnt, 0) AS c1, COALESCE(cux.cnt, 0) AS c1x,
            COALESCE(cb.cnt, 0) AS c2, COALESCE(cbx.cnt, 0) AS c2x,
            COALESCE(ct.cnt, 0) AS c3
          FROM pr p
          LEFT JOIN u cu ON cu.fp = p.t1
          LEFT JOIN u cux ON cux.fp = p.t1x
          LEFT JOIN bg cb ON cb.fp = p.t2
          LEFT JOIN bg cbx ON cbx.fp = p.t2x
          LEFT JOIN tg ct ON ct.fp = p.t3),
        sc AS (SELECT doc_id, ${sbmScoreCase(0.4)} AS s_fp, $sbmLevelCase AS lvl
          FROM hit, ntt),
        agg AS (SELECT doc_id,
            CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
            CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
            CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
            CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
            CAST(sum(s_fp) AS BIGINT) AS score_fp
          FROM sc GROUP BY 1)
        SELECT d.doc_id, CAST(COALESCE(len(d.w), 0) AS BIGINT) AS n_tokens,
          COALESCE(a.n_tri, 0) AS n_tri, COALESCE(a.n_bi, 0) AS n_bi,
          COALESCE(a.n_uni, 0) AS n_uni, COALESCE(a.n_oov, 0) AS n_oov,
          COALESCE(a.score_fp, 0) AS score_fp
        FROM wrds d LEFT JOIN agg a USING (doc_id)
      """
  }

  def oracleSql: Map[String, String] = {
    val cell = cellSqlDuck("event_id")
    Map(
      "h3_bitops" -> s"""
        SELECT cell,
               9 AS res,
               CAST(8 + event_id % 6 AS INT) AS bc,
               TRUE AS valid,
               ${parentSqlDuck("cell", 5)} AS parent5,
               49 AS nchildren,
               printf('%x', cell) AS hex
        FROM (SELECT event_id, $cell AS cell FROM events)
      """,

      "h3_hierarchy_roundtrip" -> s"""
        SELECT cell, cell AS back,
               (cell & ~(CAST(4095 AS BIGINT) << 18)) AS center9,
               cell AS back2
        FROM (SELECT $cell AS cell FROM events)
      """,

      "h3_grid_disk_size" -> s"""
        SELECT $cell AS cell, 19 AS disk_size, 19 AS distinct_size FROM events
      """,

      "h3_grid_distance_sum" -> s"""
        SELECT $cell AS cell, 30 AS dist_sum, 30 AS dist_check FROM events
      """,

      "h3_compact_roundtrip" -> s"""
        SELECT DISTINCT ${parentSqlDuck(cell, 5)} AS parent5,
               1 AS compact_size, 49 AS uncompact_size
        FROM events
      """,

      "h3_center_roundtrip" -> s"""
        SELECT $cell AS cell, TRUE AS ok FROM events
      """,

      "pip_join_rects" -> {
        val branches = Rects.map { r =>
          s"SELECT ${r._1} AS poly_id, page_id FROM pages WHERE ${rectCondDuck(r)}"
        }.mkString(" UNION ALL ")
        s"WITH ${Pages.duckPagesCte} $branches"
      },

      "pip_join_table" -> {
        val branches = Rects.map { r =>
          s"SELECT ${r._1} AS poly_id, page_id FROM pages WHERE ${rectCondDuck(r)}"
        }.mkString(" UNION ALL ")
        s"WITH ${Pages.duckPagesCte} $branches"
      },

      "knn_join" -> s"""
        WITH ${Pages.duckPagesCte},
        q AS (SELECT page_id AS qid, lat AS qlat, lng AS qlng FROM pages WHERE page_id % 53 = 0),
        ranked AS (
          SELECT q.qid, p.page_id AS id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${haversineDuck("q.qlat", "q.qlng", "p.lat", "p.lng")}, p.page_id) AS rnk
          FROM q, pages p)
        SELECT qid, id, rnk FROM ranked WHERE rnk <= 5
      """,

      "knn_join_prepared" -> s"""
        WITH ${Pages.duckPagesCte},
        q AS (SELECT page_id AS qid, lat AS qlat, lng AS qlng FROM pages
              WHERE page_id % 7 = 0 AND lat BETWEEN 48.7 AND 49.0
                AND lng BETWEEN 2.2 AND 2.5),
        ranked AS (
          SELECT q.qid, p.page_id AS id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${haversineDuck("q.qlat", "q.qlng", "p.lat", "p.lng")}, p.page_id) AS rnk
          FROM q, pages p)
        SELECT qid, id, rnk FROM ranked WHERE rnk <= 5
      """,

      "text_invariant" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT url, sha256(text) AS text_sha FROM pages
      """,

      "dedup_exact" -> """
        SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        FROM documents GROUP BY text
      """,

      "line_dedup" -> {
        import OracleDialect._
        s"""
        WITH $linedDuckCte,
        lines AS (
          SELECT doc_id, i AS pos, l[i] AS line, ${docFingerprint("l[i]")} AS line_fp
          FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM lined),
               unnest(range(1, len(l)+1)) AS r(i)),
        boiler AS (SELECT line_fp FROM lines
                   GROUP BY line_fp HAVING count(DISTINCT doc_id) >= 15),
        kept AS (SELECT l.* FROM lines l ANTI JOIN boiler b ON l.line_fp = b.line_fp),
        agg AS (SELECT doc_id, count(*) AS n_kept,
                       sha256(string_agg(line, chr(10) ORDER BY pos)) AS clean_sha
                FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
        SELECT t.doc_id, t.n_lines, coalesce(a.n_kept, 0) AS n_kept,
               coalesce(a.clean_sha, sha256('')) AS clean_sha
        FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
      """
      },

      "line_dedup_domain" -> {
        import OracleDialect._
        s"""
        WITH $linedDuckCte,
        docs AS (SELECT doc_id,
                        concat('host-', CAST(doc_id % 7 AS VARCHAR), '.example') AS domain,
                        text FROM lined),
        lines AS (
          SELECT doc_id, domain, i AS pos, l[i] AS line,
                 (${docFingerprint("domain")} * 48271 + ${docFingerprint("l[i]")}) % 2147483647 AS line_key
          FROM (SELECT doc_id, domain, string_split(text, chr(10)) AS l FROM docs),
               unnest(range(1, len(l)+1)) AS r(i)),
        boiler AS (SELECT line_key FROM lines
                   GROUP BY line_key HAVING count(DISTINCT doc_id) >= 3),
        kept AS (SELECT l.* FROM lines l ANTI JOIN boiler b ON l.line_key = b.line_key),
        agg AS (SELECT doc_id, count(*) AS n_kept,
                       sha256(string_agg(line, chr(10) ORDER BY pos)) AS clean_sha
                FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, domain, count(*) AS n_lines FROM lines GROUP BY doc_id, domain)
        SELECT t.doc_id, t.domain, t.n_lines, coalesce(a.n_kept, 0) AS n_kept,
               coalesce(a.clean_sha, sha256('')) AS clean_sha
        FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
      """
      },

      "repetition_signals" -> {
        import OracleDialect._
        s"""
        WITH $linedDuckCte,
        base AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls,
                        ${words("text")} AS w FROM lined),
        big AS (SELECT *, CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                               ELSE list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1]) END AS bg
                FROM base)
        SELECT doc_id,
          len(ls) AS n_lines,
          len(w) AS n_words,
          CAST(floor((1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)) * 1000000) AS BIGINT) AS dup_line_q,
          CAST(floor((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_filter(ls, l -> len(list_filter(ls, x -> x = l)) > 1),
                               l -> CAST(length(l) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
              / greatest(length(replace(text, chr(10), '')), 1)) * 1000000) AS BIGINT) AS dup_char_q,
          CAST(floor((CAST(list_max(list_transform(list_distinct(w),
                x -> len(list_filter(w, y -> y = x)))) AS DOUBLE)
              / greatest(len(w), 1)) * 1000000) AS BIGINT) AS top_word_q,
          CAST(floor((CAST(coalesce(list_max(list_transform(list_distinct(bg),
                x -> len(list_filter(bg, y -> y = x)))), 0) AS DOUBLE)
              / greatest(len(bg), 1)) * 1000000) AS BIGINT) AS top_bigram_q
        FROM big
      """
      },

      "domain_cap" -> s"""
        WITH ${Pages.duckPagesCte},
        d AS (SELECT lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS domain,
                     page_id
              FROM pages)
        SELECT domain, page_id, rn AS rnk FROM (
          SELECT domain, page_id,
                 row_number() OVER (PARTITION BY domain ORDER BY page_id) AS rn
          FROM d)
        WHERE rn <= 5
      """,

      "hash_split" -> {
        import OracleDialect._
        val b = s"(${docFingerprint("text")}) % 100"
        s"""
        SELECT doc_id, $b AS bucket,
               CASE WHEN $b < 90 THEN 'train'
                    WHEN $b < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
      """
      },

      "curation_full" -> {
        import OracleDialect._
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val punct = s"(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)"
        val digit = s"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)"
        val stopArr = "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','this','that']"
        val stop = s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains($stopArr, w))) / greatest($nWords, 1)"
        val quality = s"""greatest(0.0, least(1.0,
               0.5 + ($stop) * 1.5 - ($digit) * 2.0
                   - greatest(($punct) - 0.1, 0.0) * 3.0
                   + CASE WHEN $nWords >= 20 AND $nWords <= 5000
                          THEN 0.2 ELSE -0.2 END))"""
        val bucket = s"(${docFingerprint("text")}) % 100"
        s"""
        WITH $linedDuckCte,
        lines AS (
          SELECT doc_id, i AS pos, l[i] AS line, ${docFingerprint("l[i]")} AS line_fp
          FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM lined),
               unnest(range(1, len(l)+1)) AS r(i)),
        boiler AS (SELECT line_fp FROM lines
                   GROUP BY line_fp HAVING count(DISTINCT doc_id) >= 15),
        keptl AS (SELECT l.* FROM lines l ANTI JOIN boiler b ON l.line_fp = b.line_fp),
        cleaned AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                    FROM keptl GROUP BY doc_id),
        rep AS (SELECT doc_id FROM cleaned
                WHERE 1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
                        / len(string_split(text, chr(10))) <= 0.05),
        qual AS (SELECT doc_id FROM cleaned WHERE $quality >= 0.5),
        kept AS (SELECT c.* FROM cleaned c
                 JOIN rep USING (doc_id) JOIN qual USING (doc_id)),
        dedup AS (SELECT text, min(doc_id) AS keep_id, count(*) AS dups
                  FROM kept GROUP BY text),
        split AS (SELECT keep_id, text, dups,
                    CASE WHEN $bucket < 90 THEN 'train'
                         WHEN $bucket < 95 THEN 'valid'
                         ELSE 'test' END AS split
                  FROM dedup)
        SELECT split, count(*) AS n_docs,
               CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS tokens,
               CAST(sum(dups) AS BIGINT) AS n_dups
        FROM split GROUP BY split
      """
      },

      "pages_incremental" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id, url,
               CAST(floor(lat * 1000) AS BIGINT) AS lat_q,
               CAST(floor(lng * 1000) AS BIGINT) AS lng_q,
               TRUE AS parent_ok
        FROM pages WHERE page_id % 2 = 1
      """,

      "html_extract" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id,
               sha256(trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g'))) AS text_sha,
               trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) = text AS exact_ok
        FROM pages
      """,

      "pii_signals" -> s"""
        WITH salted AS ($piiSaltedDuckSql)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '${Ops.PiiEmail}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(text, '${Ops.PiiPhone}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(text, '${Ops.PiiIpv4}')) AS INT) AS n_ips
        FROM salted
      """,

      "pii_redact" -> s"""
        WITH salted AS ($piiSaltedDuckSql)
        SELECT doc_id,
               sha256(regexp_replace(regexp_replace(regexp_replace(text,
                 '${Ops.PiiEmail}', '<EMAIL>', 'g'),
                 '${Ops.PiiPhone}', '<PHONE>', 'g'),
                 '${Ops.PiiIpv4}', '<IP>', 'g')) AS redacted_sha
        FROM salted
      """,

      "url_normalize" -> {
        val url = "url"
        val scheme = s"lower(regexp_extract($url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
        val host = s"lower(regexp_extract($url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
        val hostNoPort = s"regexp_replace($host, ':(80|443)$$', '', 'g')"
        val rest = s"regexp_extract($url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)"
        val noUtm = s"regexp_replace($rest, '[?&]utm_[^&#]*', '', 'g')"
        val fixed = s"regexp_replace($noUtm, '^([^?]*)&', '\\1?')"
        val trimmed = s"regexp_replace($fixed, '[?&]+$$', '', 'g')"
        s"""
        WITH urls AS (SELECT doc_id, ${messyUrlSql("doc_id", duck = true)} AS url
                      FROM documents)
        SELECT doc_id, concat($scheme, '://', $hostNoPort, $trimmed) AS norm_url
        FROM urls
      """
      },

      "text_stats" -> """
        SELECT doc_id,
               length(text) AS n_chars,
               length(string_split_regex(trim(text), '\s+')) AS n_words,
               length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
        FROM documents
      """,

      "vocab" -> {
        import OracleDialect._
        s"""
        SELECT word, count(*) AS cnt, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(${words("text")}) AS word FROM documents)
        GROUP BY word HAVING count(*) >= 50
      """
      },

      "token_counts" -> """
        SELECT doc_id,
               length(string_split_regex(trim(text), '\s+')) AS ws_tokens,
               length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_tokens
        FROM documents
      """,

      // Re-derives the eval 5-gram dictionary (doc_id % 97 slice) and the
      // per-doc distinct-overlap counts from scratch.
      "decontaminate" -> {
        import OracleDialect._
        s"""
        WITH ${shingleDictCtes(5, "doc_id % 97 = 0")},
        ex AS (SELECT doc_id, unnest(fps) AS fp FROM sh),
        hits AS (SELECT ex.doc_id, count(*) AS n_hits
                 FROM ex JOIN ev USING (fp) GROUP BY ex.doc_id)
        SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
      """
      },

      // Re-derives the positional 5-gram windows, global occurrence
      // counts, and the gaps-and-islands merge of overlapping duplicated
      // windows into maximal spans.
      "dedup_spans" -> {
        import OracleDialect._
        s"""
        WITH wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        sh AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                      ${shingleFps("w", 5)} AS fps FROM wrds),
        occ AS (SELECT doc_id, n_words, unnest(fps) AS fp,
                       CAST(unnest(range(0, len(fps))) AS BIGINT) AS pos
                FROM sh),
        cnt AS (SELECT fp, count(*) AS n_occ FROM occ GROUP BY fp),
        mk AS (SELECT o.doc_id, o.pos,
                      least(o.pos + 4, o.n_words - 1) AS w_end
               FROM occ o JOIN cnt USING (fp) WHERE n_occ >= 2),
        pm AS (SELECT doc_id, pos, w_end,
                 max(w_end) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
               FROM mk),
        fl AS (SELECT doc_id, pos, w_end,
                 CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END AS brk
               FROM pm),
        isl AS (SELECT doc_id, pos, w_end,
                  CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
                FROM fl)
        SELECT doc_id, span_id, min(pos) AS start_tok, max(w_end) AS end_tok,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM isl GROUP BY doc_id, span_id
      """
      },

      "mixture_sample" -> {
        import OracleDialect._
        s"""
        WITH ${mixtureRatedCopCtes("documents", MixtureWeights,
                                   ops.TextKernel.stringFp("mix"))}
        SELECT doc_id, source, n_copies,
               CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy
        FROM cop WHERE n_copies > 0
      """
      },

      "pack_sequences" -> {
        import OracleDialect._
        s"""
        WITH ${packCtesAndSelect("documents", 256, 8)}
      """
      },

      // Full re-derivation of the Stupid-Backoff LM: hashed n-gram count
      // tables from the training slice, per-position probe tuples indexed
      // out of the shingle-fp lists, five left joins, and the SHARED
      // portable score/level CASEs (OracleDialect.sbmScoreCase — the same
      // string the Spark operator executes).
      "lm_score" -> lmOracleSql,

      // Full re-derivation of BM25 retrieval: tf/df/dl/avgdl statistics,
      // the per-term quantized idf and per-posting contribution via the
      // SHARED portable emitters, and the same (score DESC, doc_id) top-10
      // cut the native TopK aggregator applies.
      "bm25_topk" -> {
        import OracleDialect._
        s"""
        WITH wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        tfs AS (SELECT doc_id, fp, count(*) AS tf
              FROM (SELECT doc_id, unnest(${shingleFps("w", 1)}) AS fp FROM wrds)
              GROUP BY 1, 2),
        dft AS (SELECT fp, count(*) AS df FROM tfs GROUP BY 1),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(COALESCE(len(w), 0)) AS BIGINT) AS tot FROM wrds),
        idf AS (SELECT fp, $bm25IdfFp AS idf_fp FROM dft, st),
        dls AS (SELECT doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS dl FROM wrds),
        qt AS (SELECT doc_id AS qid, unnest(list_distinct((${shingleFps("w", 1)})[1:6])) AS fp
          FROM wrds WHERE doc_id % 53 = 1),
        contrib AS (SELECT q.qid, t.doc_id, ${bm25ContribFp(1.2, 0.75)} AS c_fp
          FROM qt q
          JOIN tfs t USING (fp)
          JOIN idf i USING (fp)
          JOIN dls d ON d.doc_id = t.doc_id, st),
        sco AS (SELECT qid, doc_id, CAST(sum(c_fp) AS BIGINT) AS score_fp
          FROM contrib GROUP BY 1, 2),
        rked AS (SELECT qid, doc_id, score_fp,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank
          FROM sco)
        SELECT qid, rank, score_fp, doc_id FROM rked WHERE rank <= 10
      """
      },

      // Full re-derivation of SemDeDup: the deterministic medoid pick,
      // exact-cosine argmax assignment (left-fold doubles), within-cluster
      // lower-id near-duplicate counting at the same tau literal.
      "sem_dedup" -> {
        import OracleDialect._
        s"""
        WITH cent AS (SELECT vec_id AS cid, embedding AS c_vec FROM embeddings
            ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 16),
        asg AS (SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosine("e.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) WHERE rn <= 1),
        near AS (SELECT b.cid, b.vec_id, CAST(count(*) AS BIGINT) AS n_near
            FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ${cosine("a.embedding", "b.embedding")} >= 0.35
            GROUP BY 1, 2)
        SELECT s.vec_id, s.cid, COALESCE(nr.n_near, 0) AS n_near,
          nr.vec_id IS NULL AS kept
        FROM asg s LEFT JOIN near nr
          ON nr.cid = s.cid AND nr.vec_id = s.vec_id
      """
      },

      // Composed re-derivation: the full LM oracle as a sub-CTE, the
      // same fixed bucket thresholds, the shared pack CTE chain over the
      // kept slice, and the bucket joined back onto the spans.
      "ccnet_pipeline" -> {
        import OracleDialect._
        s"""
        WITH lmq AS MATERIALIZED ($lmOracleSql),
        nptq AS MATERIALIZED (
          SELECT doc_id, score_fp // greatest(n_tokens, 1) AS npt FROM lmq),
        hist AS (SELECT npt, count(*) AS c FROM nptq GROUP BY 1),
        cumh AS (SELECT npt, sum(c) OVER (ORDER BY npt) AS cc FROM hist),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nptq),
        cuts AS MATERIALIZED (SELECT
            COALESCE(min(CASE WHEN cc >= n // 3 THEN npt END), -1) AS t1,
            COALESCE(min(CASE WHEN cc >= (2 * n) // 3 THEN npt END), -1) AS t2
          FROM cumh, tot),
        kept AS MATERIALIZED (
          SELECT d.doc_id, d.text,
                 CASE WHEN q.npt <= cuts.t1 THEN 'tail'
                      WHEN q.npt <= cuts.t2 THEN 'middle'
                      ELSE 'head' END AS bucket
          FROM documents d JOIN nptq q USING (doc_id), cuts),
        flt AS (SELECT doc_id, text, bucket FROM kept WHERE bucket <> 'tail'),
        ${packCtes("flt", 256, 8)}
        SELECT s.doc_id, k.bucket, s.shard, s.n_tokens, s.start_off,
               s.seq_first, s.seq_last,
               CAST(CASE WHEN s.n_tokens = 0 THEN 0
                    ELSE s.seq_last - s.seq_first + 1 END AS BIGINT) AS n_seqs
        FROM spans s JOIN flt k USING (doc_id)
      """
      },

      // Full re-derivation of the k-means trajectory: medoid init, per
      // round an argmax-cosine assignment + quantized coordinate sums +
      // FLOAT-narrowed mean centroids (empty clusters keep the previous
      // centroid), then the final assignment and fixed-point cosine.
      "kmeans" -> {
        s"""
        WITH ${kmeansOracleCtes(16, 2)}
        SELECT a.vec_id, a.cid,
          CAST(floor(1000000.0 * CAST(${OracleDialect.cosine("a.embedding", "c.c_vec")} AS DOUBLE)) AS BIGINT) AS sim_fp
        FROM asg3 a JOIN cent2 c ON c.cid = a.cid
      """
      },

      // SemDeDup over TRAINED clusters (the paper's actual setup): the
      // shared k-means CTE chain supplies the final assignment, then the
      // same within-cluster lower-id pruning as sem_dedup.
      "sem_dedup_kmeans" -> {
        s"""
        WITH ${kmeansOracleCtes(16, 2)},
        near AS (SELECT b.cid, b.vec_id, CAST(count(*) AS BIGINT) AS n_near
            FROM asg3 a JOIN asg3 b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE ${OracleDialect.cosine("a.embedding", "b.embedding")} >= 0.35
            GROUP BY 1, 2)
        SELECT s.vec_id, s.cid, COALESCE(nr.n_near, 0) AS n_near,
          nr.vec_id IS NULL AS kept
        FROM asg3 s LEFT JOIN near nr
          ON nr.cid = s.cid AND nr.vec_id = s.vec_id
      """
      },

      // Full INDEPENDENT re-derivation of the trained classifier: the
      // oracle walks the same 20-iteration weight trajectory as the
      // Spark trainer from w = 0 (integer gradient sums -> shared
      // lrWUpdate arithmetic in chained CTEs), never seeing the trained
      // weights.
      "bpe_merges" -> {
        import OracleDialect._
        val n = 12
        val union = (1 to n)
          .map(k => s"SELECT merge_rank, lhs, rhs, c AS pair_cnt FROM m$k")
          .mkString("\n          UNION ALL ")
        s"""
        WITH ${bpeTrainCtes("documents", n, 2L, 65536)}
        SELECT * FROM (
          $union)
      """
      },

      "bpe_encode" -> {
        import OracleDialect._
        val n = 12
        s"""
        WITH ${bpeTrainCtes("documents", n, 2L, 65536)},
        ${bpeEncodeCtes("documents", n)}
        SELECT doc_id,
               CAST(length(rep) - length(replace(rep, ';', '')) AS BIGINT) AS n_tokens,
               ${fp("rep")} AS token_fp
        FROM dr
      """
      },

      // The composed tokenize -> pack DAG: the SAME training chain and
      // merge replay feed real BPE token counts into the packing CTEs —
      // documents pack by their actual token budget, not the whitespace
      // estimate.
      "bpe_pack" -> {
        import OracleDialect._
        val n = 12
        s"""
        WITH ${bpeTrainCtes("documents", n, 2L, 65536)},
        ${bpeEncodeCtes("documents", n)},
        cnt AS MATERIALIZED (
          SELECT doc_id,
                 CAST(length(rep) - length(replace(rep, ';', '')) AS BIGINT)
                   AS n_tokens
          FROM dr),
        ${packCtesFromCounts("cnt", 256, 8)}
        SELECT doc_id, shard, n_tokens, start_off, seq_first, seq_last,
          CAST(CASE WHEN n_tokens = 0 THEN 0
               ELSE seq_last - seq_first + 1 END AS BIGINT) AS n_seqs
        FROM spans
      """
      },

      "lr_filter" -> {
        import OracleDialect._
        val iters = 20
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val stopArr = "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','this','that']"
        val stopRatio = s"(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains($stopArr, w))) / greatest($nWords, 1))"
        val digitRatio = s"((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1))"
        val punctRatio = s"((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1))"
        val qualityQ = s"""CAST(floor(greatest(0.0, least(1.0,
               0.5 + $stopRatio * 1.5 - $digitRatio * 2.0
                   - greatest($punctRatio - 0.1, 0.0) * 3.0
                   + CASE WHEN $nWords >= 20 AND $nWords <= 5000
                          THEN 0.2 ELSE -0.2 END)) * 1000000) AS BIGINT)"""
        // MATERIALIZED: DuckDB inlines plain CTEs, so 20 gradient scans
        // would recompute (and re-open) the parquet 21x — blowing the fd
        // limit and the runtime.
        val feats = s"""feats AS MATERIALIZED (SELECT doc_id,
            CASE WHEN $qualityQ >= 750000 THEN 1.0 ELSE 0.0 END AS y,
            (CAST($stopRatio AS DOUBLE) * 10.0) AS x1,
            (CAST($digitRatio AS DOUBLE) * 10.0) AS x2,
            (CAST($punctRatio AS DOUBLE) * 10.0) AS x3,
            (least(CAST($nWords AS DOUBLE), 1000.0) / 1000.0) AS x4,
            ((CAST(length(text) AS DOUBLE) / greatest(CAST($nWords AS DOUBLE), 1.0)) / 20.0) AS x5
          FROM documents)"""
        var prevW: Seq[String] = Seq.fill(6)("0.0")
        val sb = new StringBuilder
        sb ++= s"\n        WITH $feats,\n        cnt AS (SELECT CAST(count(*) AS BIGINT) AS c FROM feats)"
        for (i <- 0 until iters) {
          val g = s"g${i + 1}"
          val fromW = if (i == 0) "" else s", w$i"
          // Every link in the chain is MATERIALIZED: inlined, w_i's
          // expression tree would expand ~6x per iteration (z references
          // all 6 prior weights) — exponential SQL compile blow-up.
          sb ++= s",\n        $g AS MATERIALIZED (SELECT " +
            (0 to 5).map(j => s"CAST(sum(${lrGradQ(j, prevW)}) AS BIGINT) AS g$j")
              .mkString(", ") + s" FROM feats$fromW)"
          sb ++= s",\n        w${i + 1} AS MATERIALIZED (SELECT " +
            (0 to 5).map(j =>
              s"${lrWUpdate(prevW(j), s"g$j", "c", 4.0)} AS w${i + 1}x$j")
              .mkString(", ") + s" FROM $g, cnt$fromW)"
          prevW = (0 to 5).map(j => s"w${i + 1}x$j")
        }
        sb ++= s"\n        SELECT doc_id, y = 1.0 AS label, " +
          s"${lrScoreQ(prevW)} AS z_fp, ${lrPred(prevW)} AS pred FROM feats, w$iters\n      "
        sb.toString
      },

      // Full re-derivation of the assembly DAG: eval dictionary ->
      // contaminated ids -> clean corpus -> Lehmer-uniform mixture copies
      // -> synthetic ids -> pack spans.
      "assembly_pipeline" -> {
        import OracleDialect._
        s"""
        WITH ${shingleDictCtes(5, "doc_id % 97 = 0")},
        contam AS (SELECT DISTINCT ex.doc_id
                   FROM (SELECT doc_id, unnest(fps) AS fp FROM sh) ex
                   JOIN ev USING (fp)),
        clean AS (SELECT d.doc_id, d.source
                  FROM documents d LEFT JOIN contam c USING (doc_id)
                  WHERE c.doc_id IS NULL),
        ${mixtureRatedCopCtes("clean", MixtureWeights,
                              ops.TextKernel.stringFp("mix"))},
        copies AS (
          SELECT doc_id, CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy
          FROM cop WHERE n_copies > 0),
        pin AS (
          SELECT c.doc_id * $AssemblyStride + c.copy AS doc_id, d.text
          FROM copies c JOIN documents d ON d.doc_id = c.doc_id),
        ${packCtesAndSelect("pin", 256, 8)}
      """
      },

      "ann_brute" -> """
        SELECT q.vec_id AS qid, p.vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(p.embedding, q.embedding) DESC, p.vec_id) AS rnk
        FROM embeddings q, embeddings p
        WHERE q.vec_id % 25 = 0
        QUALIFY rnk <= 5
      """,

      "h3_edges" -> s"""
        SELECT cell,
               ((cell & ~(CAST(15 AS BIGINT) << 59)) | (CAST(2 AS BIGINT) << 59) | (CAST(e AS BIGINT) << 56)) AS edge,
               TRUE AS origin_ok, TRUE AS valid
        FROM (SELECT $cell AS cell FROM events), UNNEST([1,2,3,4,5,6]) AS t(e)
      """,

      "h3_edge_semantics" -> s"""
        SELECT $cell AS cell, TRUE AS dest_ok, TRUE AS rev_ok, TRUE AS len_ok
        FROM events
      """,

      "h3_edge_cells" -> s"""
        SELECT $cell AS cell, TRUE AS cells0_ok, TRUE AS cells1_ok,
               CAST(12 AS BIGINT) AS ring2, CAST(1 AS BIGINT) AS ring0
        FROM events
      """,

      "h3_vertexes" -> s"""
        SELECT $cell AS cell, 6 AS n_vertexes, TRUE AS all_valid FROM events
      """,

      "pages_index" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id, url,
               CAST(floor(lat * 1000) AS BIGINT) AS lat_q,
               CAST(floor(lng * 1000) AS BIGINT) AS lng_q,
               TRUE AS valid, 9 AS res, TRUE AS parent_ok, TRUE AS rt_ok
        FROM pages
      """,

      "pages_index_icelite" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id, url,
               CAST(floor(lat * 1000) AS BIGINT) AS lat_q,
               CAST(floor(lng * 1000) AS BIGINT) AS lng_q,
               TRUE AS valid, TRUE AS parent_ok
        FROM pages WHERE ${rectCondDuck(Rects.head)}
      """,

      "icelite_delete" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id, url,
               CAST(floor(lat * 1000) AS BIGINT) AS lat_q,
               CAST(floor(lng * 1000) AS BIGINT) AS lng_q,
               TRUE AS parent_ok
        FROM pages WHERE page_id % 3 <> 0
      """,

      "icelite_lang_prune" -> s"""
        WITH ${Pages.duckPagesCte}
        SELECT page_id, url, lang,
               CAST(floor(lat * 1000) AS BIGINT) AS lat_q,
               CAST(floor(lng * 1000) AS BIGINT) AS lng_q
        FROM pages WHERE lang = 'en'
      """,

      "icelite_stats_prune" -> s"""
        SELECT event_id, cell
        FROM (SELECT event_id, $cell AS cell FROM events)
        WHERE ${parentSqlDuck("cell", 0)} = ${parentSqlDuck(cellSqlDuck("0"), 0)}
      """,

      "icelite_bloom_prune" -> s"""
        SELECT event_id, cell
        FROM (SELECT event_id, $cell AS cell FROM events)
        WHERE event_id IN (1, 97, 4242, 9999, 123456789)
      """,

      "tile_rollup" -> s"""
        SELECT printf('%x', ${parentSqlDuck("cell", 5)}) AS tile,
               count(*) AS cnt,
               CAST(sum(event_id % 997) AS BIGINT) AS v
        FROM (SELECT event_id, $cell AS cell FROM events)
        GROUP BY 1
      """,

      "dedup_minhash" -> {
        s"""
        WITH $minhashPairsCtes
        SELECT a_id, b_id, CAST(n_inter AS INT) AS n_inter, CAST(n_union AS INT) AS n_union
        FROM pairs WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5
      """
      },

      // Brute-force all-pairs distinct-shingle Jaccard — NOT the prefix
      // blocking: a hash-match here proves the engine's prefix filter
      // found every pair above the threshold.
      "dedup_ngram" -> {
        import OracleDialect._
        s"""
        WITH wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        shing AS (SELECT doc_id, list_distinct(${shingleFps("w", 3)}) AS dfps FROM wrds),
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 len(list_intersect(a.dfps, b.dfps)) AS n_inter,
                 len(a.dfps) + len(b.dfps)
                   - len(list_intersect(a.dfps, b.dfps)) AS n_union
                 FROM shing a, shing b
                 WHERE a.doc_id < b.doc_id
                   AND len(a.dfps) > 0 AND len(b.dfps) > 0)
        SELECT a_id, b_id, CAST(n_inter AS INT) AS n_inter, CAST(n_union AS INT) AS n_union
        FROM pairs WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.4
      """
      },

      // Connected components over the verified minhash pairs: min
      // reachable id per node via a recursive CTE (clusters are tiny, so
      // the closure stays small).
      "dedup_clusters" -> {
        s"""
        WITH RECURSIVE $minhashPairsCtes,
        dup AS (SELECT a_id, b_id FROM pairs
                WHERE CAST(n_inter AS DOUBLE) / n_union >= 0.5),
        edges AS (SELECT a_id AS src, b_id AS dst FROM dup
                  UNION SELECT b_id, a_id FROM dup),
        reach(id, lbl) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)
        SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
      """
      },

      "dedup_simhash" -> {
        import OracleDialect._
        s"""
        WITH wrds AS (SELECT doc_id, ${words("text")} AS w FROM documents),
        wfps AS (SELECT doc_id, list_transform(w, x -> ${fp("x")}) AS wf FROM wrds),
        sigs AS (SELECT doc_id, ${simHashSig("wf")} AS sig FROM wfps)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sigs a, sigs b
        WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 6
      """
      },

      "dedup_embedding" -> {
        import OracleDialect._
        s"""
        WITH tbls AS (SELECT unnest(range(0, 20)) AS tbl),
        sigs AS (SELECT e.vec_id, t.tbl,
                        ${hyperplaneSig("e.embedding", 4, "42 + 7919*t.tbl")} AS bucket
                 FROM embeddings e, tbls t),
        cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
                 FROM sigs a JOIN sigs b USING (tbl, bucket)
                 WHERE a.vec_id < b.vec_id),
        pairs AS (SELECT c.a_id, c.b_id, ea.embedding AS ea, eb.embedding AS eb
                  FROM cand c
                  JOIN embeddings ea ON ea.vec_id = c.a_id
                  JOIN embeddings eb ON eb.vec_id = c.b_id)
        SELECT a_id, b_id FROM pairs WHERE ${cosine("ea", "eb")} >= 0.4
      """
      },

      "ann_lsh" -> {
        import OracleDialect._
        val masks = (0L +: (0 until 6).map(1L << _).map(_.toLong)).mkString(", ")
        s"""
        WITH tbls AS (SELECT unnest(range(0, 8)) AS tbl),
        sigs AS (SELECT e.vec_id, e.embedding, t.tbl,
                        ${hyperplaneSig("e.embedding", 6, "42 + 7919*t.tbl")} AS bucket
                 FROM embeddings e, tbls t),
        probes AS (SELECT s.vec_id AS qid, s.tbl,
                          xor(s.bucket, CAST(m.m AS BIGINT)) AS bucket
                   FROM sigs s, (SELECT unnest([$masks]) AS m) m
                   WHERE s.vec_id % 25 = 0),
        cand AS (SELECT DISTINCT p.qid, s.vec_id
                 FROM probes p JOIN sigs s USING (tbl, bucket)),
        scored AS (SELECT c.qid, c.vec_id, ${cosine("e.embedding", "q.embedding")} AS sim
                   FROM cand c
                   JOIN embeddings e ON e.vec_id = c.vec_id
                   JOIN embeddings q ON q.vec_id = c.qid)
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        FROM scored QUALIFY rnk <= 5
      """
      },

      "ann_ivf" -> {
        import OracleDialect._
        s"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding AS c_vec FROM embeddings
          ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 32),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosine("e.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) WHERE rn <= 2),
        probes AS (
          SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ${cosine("q.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings q, cent c WHERE q.vec_id % 25 = 0) WHERE rn <= 8),
        cand AS (SELECT DISTINCT p.qid, a.vec_id
                 FROM probes p JOIN asg a USING (cid)),
        scored AS (
          SELECT c.qid, c.vec_id, ${cosine("e.embedding", "q.embedding")} AS sim
          FROM cand c
          JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN embeddings q ON q.vec_id = c.qid)
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        FROM scored QUALIFY rnk <= 5
      """
      },

      // Full from-scratch re-derivation of the IVF-PQ pipeline: coarse
      // cells (medoids), per-subspace codebooks (row_number under the
      // per-subspace shuffle), L2-argmin codes, per-query ADC tables,
      // m-ordered lookup folds, and the exact-cosine re-rank. Every float
      // accumulation is an index-order left fold in double precision.
      "ann_ivf_pq" -> {
        import OracleDialect._
        val M = 16; val SUB = 4; val K = 16; val RD = 50 // mirror the query
        def foldSub(term: String) =
          s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(0, $SUB), j -> $term)), (x,y) -> x + y)"""
        def foldM(term: String) =
          s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(0, $M), j -> $term)), (x,y) -> x + y)"""
        s"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding AS c_vec FROM embeddings
          ORDER BY (vec_id * 48271) % 2147483647, vec_id LIMIT 32),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosine("e.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings e, cent c) WHERE rn <= 3),
        probes AS (
          SELECT qid, cid FROM (
            SELECT q.vec_id AS qid, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY ${cosine("q.embedding", "c.c_vec")} DESC, c.cid) AS rn
            FROM embeddings q, cent c WHERE q.vec_id % 25 = 0) WHERE rn <= 8),
        ms AS (SELECT unnest(range(0, $M)) AS m),
        cb AS (SELECT m, k, cw FROM (
                 SELECT ms.m AS m,
                        row_number() OVER (PARTITION BY ms.m
                          ORDER BY (e.vec_id * (16807 + 1000003*ms.m)) % 2147483647,
                                   e.vec_id) - 1 AS k,
                        e.embedding[ms.m*$SUB+1 : ms.m*$SUB+$SUB] AS cw
                 FROM embeddings e, ms) WHERE k < $K),
        cb2 AS (SELECT m, k,
                  ${foldSub("CAST(cw[j+1] AS DOUBLE) * CAST(cw[j+1] AS DOUBLE)")} AS cwn2
                FROM cb),
        dists AS (SELECT e.vec_id, c.m, c.k,
                  ${foldSub(s"(CAST(e.embedding[c.m*$SUB + j + 1] AS DOUBLE) - CAST(c.cw[j+1] AS DOUBLE)) * (CAST(e.embedding[c.m*$SUB + j + 1] AS DOUBLE) - CAST(c.cw[j+1] AS DOUBLE))")} AS d2
                  FROM embeddings e, cb c),
        codes AS (SELECT vec_id, list(k ORDER BY m) AS codes FROM (
                    SELECT vec_id, m, k,
                           row_number() OVER (PARTITION BY vec_id, m
                             ORDER BY d2, k) AS rn
                    FROM dists) WHERE rn = 1 GROUP BY vec_id),
        qdots AS (SELECT q.vec_id AS qid, c.m, c.k,
                  ${foldSub(s"CAST(q.embedding[c.m*$SUB + j + 1] AS DOUBLE) * CAST(c.cw[j+1] AS DOUBLE)")} AS dot
                  FROM embeddings q, cb c WHERE q.vec_id % 25 = 0),
        qtab AS (SELECT qid, list(dot ORDER BY m*$K + k) AS tbl FROM qdots GROUP BY qid),
        qn AS (SELECT vec_id AS qid,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(range(0, 64), j ->
                     CAST(embedding[j+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE))),
                   (x,y) -> x + y) AS qn2
               FROM embeddings WHERE vec_id % 25 = 0),
        cw2l AS (SELECT list(cwn2 ORDER BY m*$K + k) AS cw2 FROM cb2),
        cand AS (SELECT DISTINCT p.qid, a.vec_id FROM probes p JOIN asg a USING (cid)),
        adc AS (SELECT c.qid, c.vec_id,
                  ${foldM(s"t.tbl[j*$K + cd.codes[j+1] + 1]")} AS dots,
                  ${foldM(s"l.cw2[j*$K + cd.codes[j+1] + 1]")} AS xn2,
                  n.qn2 AS qn2
                FROM cand c
                JOIN codes cd ON cd.vec_id = c.vec_id
                JOIN qtab t ON t.qid = c.qid
                JOIN qn n ON n.qid = c.qid, cw2l l),
        scoredq AS (SELECT qid, vec_id,
                  CASE WHEN qn2 = 0 OR xn2 <= 0 THEN 0.0
                       ELSE dots / (sqrt(qn2) * sqrt(xn2)) END AS adcs
                FROM adc),
        topr AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id,
                         row_number() OVER (PARTITION BY qid
                           ORDER BY adcs DESC, vec_id) AS rn
                  FROM scoredq) WHERE rn <= $RD),
        rr AS (SELECT t.qid, t.vec_id, ${cosine("e.embedding", "q.embedding")} AS sim
               FROM topr t
               JOIN embeddings e ON e.vec_id = t.vec_id
               JOIN embeddings q ON q.vec_id = t.qid)
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
        FROM rr QUALIFY rnk <= 5
      """
      },

      "fingerprints" -> {
        import OracleDialect._
        s"""
        SELECT doc_id, ${docFingerprint("text")} AS fingerprint FROM documents
      """
      },

      // Pure-arithmetic re-derivation: no bytes anywhere — the sums come
      // straight from the synthesis formulas, so agreement with the Spark
      // side (which detours through real WAV/PPM payloads) proves the
      // codecs round-trip exactly. Nearest-neighbor index math mirrors
      // RealCodec.ppmResize: src = (dst * srcDim) // 8.
      "media_codec_roundtrip" -> """
        SELECT doc_id,
               CAST(2048 + (doc_id % 5) * 512 AS INT) AS n_samples,
               16000 AS sample_rate,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, 2048 + (doc_id % 5) * 512),
                   i -> abs(((doc_id * 31 + i * i * 7) % 65536) - 32768))),
                 (x,y) -> x + y) AS abs_sum,
               CAST(16 + (doc_id % 4) * 8 AS INT) AS img_w,
               CAST(12 + (doc_id % 3) * 4 AS INT) AS img_h,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, (16 + (doc_id % 4) * 8) * (12 + (doc_id % 3) * 4) * 3),
                   i -> (doc_id * 7 + i * 13) % 256)),
                 (x,y) -> x + y) AS pix_sum,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, 192), j ->
                   (doc_id * 7 +
                    ((((j // 24) * (12 + (doc_id % 3) * 4) // 8) * (16 + (doc_id % 4) * 8)
                      + (((j // 3) % 8) * (16 + (doc_id % 4) * 8) // 8)) * 3
                     + (j % 3)) * 13) % 256)),
                 (x,y) -> x + y) AS resized_sum
        FROM documents
      """,

      "png_gif_roundtrip" -> """
        SELECT doc_id,
               CAST(8 + (doc_id % 5) * 4 AS INT) AS png_w,
               CAST(6 + (doc_id % 4) * 3 AS INT) AS png_h,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, (8 + (doc_id % 5) * 4) * (6 + (doc_id % 4) * 3) * 3),
                   i -> (doc_id * 11 + i * 17) % 256)),
                 (x,y) -> x + y) AS png_sum,
               CAST(10 + (doc_id % 4) * 6 AS INT) AS gif_w,
               CAST(8 + (doc_id % 3) * 4 AS INT) AS gif_h,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, (10 + (doc_id % 4) * 6) * (8 + (doc_id % 3) * 4) * 3),
                   j -> ((((doc_id * 5 + (j // 3) * 3) % 256) * 3 + (j % 3)) * 37 + 11) % 256)),
                 (x,y) -> x + y) AS gif_sum
        FROM documents
      """,

      "jpeg_roundtrip" -> """
        SELECT doc_id,
               CAST((2 + doc_id % 4) * 8 AS INT) AS jw,
               CAST((2 + doc_id % 3) * 8 AS INT) AS jh,
               64 * list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, (2 + doc_id % 4) * (2 + doc_id % 3)),
                   k -> (doc_id * 13 + k * 29) % 256)),
                 (x,y) -> x + y) AS pix_sum,
               64 * list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, (2 + doc_id % 4) * (2 + doc_id % 3)),
                   k -> ((doc_id * 13 + k * 29) % 256) * (k + 1))),
                 (x,y) -> x + y) AS blk_wsum
        FROM documents
      """,

      "flac_roundtrip" -> """
        SELECT doc_id,
               CAST(4000 + (doc_id % 7) * 600 AS INT) AS n_samples,
               CAST(16000 + (doc_id % 3) * 16000 AS INT) AS sr,
               16 AS bps,
               (CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 1 END) *
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, 4000 + (doc_id % 7) * 600),
                   i -> abs(((doc_id * 3 + i * 7) % 4096) - 2048))),
                 (x,y) -> x + y) AS l_abs,
               CASE WHEN doc_id % 2 = 0 THEN 0 ELSE
                 (CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 1 END) *
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, 4000 + (doc_id % 7) * 600),
                     i -> abs((((doc_id * 3 + i * 7) % 4096) - 2048)
                              + (((doc_id * 31 + i * i * 13) % 64) - 32)))),
                   (x,y) -> x + y) END AS r_abs
        FROM documents
      """,

      "multimodal_pipeline" -> """
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 2 THEN greatest(1, length(text) // 4096)
                    WHEN 1 THEN greatest(1, length(text) // 1024)
                    ELSE 1 END AS INT) AS frames,
               32 AS feat_dim,
               CAST((frames + 1) // 2 AS BIGINT) AS n_sampled
        FROM documents
      """,

      "lang_id" -> s"""
        WITH g AS (
          SELECT doc_id, lang,
                 unnest(list_transform(
                   range(1, greatest(least(length(lower(text)) - 2, 500), 0) + 1),
                   i -> lower(text)[i:i+2])) AS ngram
          FROM documents),
        prof AS (
          SELECT lang AS p_lang, ngram, 201 - rk AS weight FROM (
            SELECT lang, ngram,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY count(*) DESC, ngram) AS rk
            FROM g GROUP BY lang, ngram)
          WHERE rk <= 200),
        dg AS (SELECT doc_id, lang, ngram, count(*) AS tf
               FROM g GROUP BY doc_id, lang, ngram),
        sc AS (SELECT dg.doc_id, dg.lang, prof.p_lang,
                      sum(prof.weight * dg.tf) AS score
               FROM dg JOIN prof USING (ngram)
               GROUP BY dg.doc_id, dg.lang, prof.p_lang)
        SELECT doc_id, lang, p_lang AS predicted FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, p_lang) AS rk FROM sc)
        WHERE rk = 1
      """,

      "h3_local_ij_roundtrip" -> s"""
        SELECT $cell AS cell, TRUE AS ok, TRUE AS ok_anchored FROM events
      """,

      "h3_dissolve_roundtrip" -> s"""
        SELECT $cell AS cell, TRUE AS ok FROM events WHERE event_id % 100 = 0
      """,

      "h3_line_cells" -> s"""
        SELECT $cell AS cell, TRUE AS count_ok, TRUE AS has_start, TRUE AS has_end
        FROM events WHERE event_id % 100 = 0
      """,

      "h3_dissolve_compacted" -> s"""
        SELECT $cell AS cell, TRUE AS ok FROM events WHERE event_id % 200 = 0
      """,

      "compact_distributed" -> s"""
        SELECT $cell AS cell, TRUE AS collapsed, TRUE AS expand_ok
        FROM events WHERE event_id % 200 = 0
      """,

      "quality_score" -> {
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val punct = s"(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)"
        val digit = s"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)"
        val stopArr = "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','this','that']"
        val stop = s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains($stopArr, w))) / greatest($nWords, 1)"
        s"""
        SELECT doc_id,
               length(text) AS n_chars,
               CAST($nWords AS INT) AS n_words,
               CAST(floor(($punct) * 1000000) AS BIGINT) AS punct_q,
               CAST(floor(($digit) * 1000000) AS BIGINT) AS digit_q,
               CAST(floor(($stop) * 1000000) AS BIGINT) AS stop_q,
               CAST(floor(greatest(0.0, least(1.0,
                 0.5 + ($stop) * 1.5 - ($digit) * 2.0
                     - greatest(($punct) - 0.1, 0.0) * 3.0
                     + CASE WHEN $nWords >= 20 AND $nWords <= 5000
                            THEN 0.2 ELSE -0.2 END)) * 1000000) AS BIGINT) AS quality_q
        FROM documents
      """
      },

      "dissolve_distributed" -> s"""
        SELECT $cell AS cell, TRUE AS ok FROM events WHERE event_id % 200 = 0
      """,

      "dissolve_distributed_mixed" -> s"""
        SELECT $cell AS cell, TRUE AS ok FROM events WHERE event_id % 200 = 0
      """,

      "curation_pipeline" -> {
        val nWords = "len(string_split_regex(trim(text), '\\s+'))"
        val punct = s"(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / greatest(length(text), 1)"
        val digit = s"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1)"
        val stopArr = "['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','this','that']"
        val stop = s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains($stopArr, w))) / greatest($nWords, 1)"
        val quality = s"""greatest(0.0, least(1.0,
               0.5 + ($stop) * 1.5 - ($digit) * 2.0
                   - greatest(($punct) - 0.1, 0.0) * 3.0
                   + CASE WHEN $nWords >= 20 AND $nWords <= 5000
                          THEN 0.2 ELSE -0.2 END))"""
        s"""
        WITH ${Pages.duckPagesCte},
        docs AS (SELECT page_id AS doc_id, text, lang FROM pages),
        curated AS (SELECT * FROM docs WHERE $quality >= 0.5),
        kept AS (SELECT text, min(doc_id) AS keep_id,
                        arg_min(lang, doc_id) AS lang,
                        count(*) AS dups
                 FROM curated GROUP BY text)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS tokens,
               CAST(sum(dups) AS BIGINT) AS n_dups
        FROM kept GROUP BY lang
      """
      },

      "q1_agg" -> """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
      """,

      "events_sessions" -> """
        SELECT user_id, count(*) AS n_sessions
        FROM (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, -3600000000)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
        WHERE new_session = 1
        GROUP BY user_id
      """,

      // Mirrors Temporal.asofJoin operation-for-operation: union-tag
      // (right side 0 sorts before left side 1 at equal ts), a running
      // IGNORE-NULLS last over rows-unbounded-preceding, left rows out.
      "asof_join" -> """
        WITH b AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
          FROM events),
        tagged AS (
          SELECT user_id, ts_us, event_id, 0 AS side,
                 event_id AS r_id, ts_us AS r_ts
          FROM b WHERE event_type = 'view'
          UNION ALL
          SELECT user_id, ts_us, event_id, 1,
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          FROM b WHERE event_type = 'click'),
        runs AS (
          SELECT user_id, ts_us, event_id, side,
                 last_value(r_id IGNORE NULLS) OVER w AS matched_id,
                 last_value(r_ts IGNORE NULLS) OVER w AS matched_ts
          FROM tagged
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, ts_us, matched_id,
               ts_us - matched_ts AS lag_us
        FROM runs WHERE side = 1
      """,

      // Forward direction: the SAME union-tag scan run time-DESCENDING
      // (equal-ts rights keep side-first order, event_id DESC so the
      // smallest id wins), with the merge_asof tolerance null-out.
      "asof_join_fwd" -> """
        WITH b AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
          FROM events),
        tagged AS (
          SELECT user_id, ts_us, event_id, 0 AS side,
                 event_id AS r_id, ts_us AS r_ts
          FROM b WHERE event_type = 'view'
          UNION ALL
          SELECT user_id, ts_us, event_id, 1,
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          FROM b WHERE event_type = 'click'),
        runs AS (
          SELECT user_id, ts_us, event_id, side,
                 last_value(r_id IGNORE NULLS) OVER w AS matched_id,
                 last_value(r_ts IGNORE NULLS) OVER w AS matched_ts
          FROM tagged
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY ts_us DESC, side, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, ts_us,
               CASE WHEN matched_ts - ts_us <= 1800000000
                    THEN matched_id END AS matched_id,
               CASE WHEN matched_ts - ts_us <= 1800000000
                    THEN matched_ts - ts_us END AS lag_us
        FROM runs WHERE side = 1
      """,

      // Mirrors Temporal.sessionize: gap >= 30 min starts a session
      // (session_window-aligned), lag + running sum, per-session summary.
      "sessionize" -> """
        WITH b AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        m AS (
          SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(ts_us, 1) OVER w IS NULL
                        OR ts_us - lag(ts_us, 1) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM b
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        r AS (
          SELECT user_id, ts_us, event_id,
                 CAST(sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_idx
          FROM m)
        SELECT user_id, session_idx,
               (min(struct_pack(ts_us := ts_us, event_id := event_id))).event_id
                 AS first_event_id,
               count(*) AS n_events,
               min(ts_us) AS start_us, max(ts_us) AS end_us,
               max(ts_us) - min(ts_us) AS duration_us
        FROM r GROUP BY user_id, session_idx
      """,

      // Mirrors Temporal.funnel's greedy per-step frontier walk: step 1
      // is the earliest view, each next step the earliest event of its
      // type strictly (ts, event_id)-after the previous frontier.
      "funnel" -> """
        WITH b AS MATERIALIZED (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
          FROM events),
        f1 AS MATERIALIZED (
          SELECT user_id, (m).ts_us AS t1_us, (m).ts_us AS tk_us,
                 (m).event_id AS ek_id, 1 AS depth
          FROM (
            SELECT user_id,
                   min(struct_pack(ts_us := ts_us, event_id := event_id)) AS m
            FROM b WHERE event_type = 'view' GROUP BY user_id)),
        n2 AS MATERIALIZED (
          SELECT e.user_id,
                 min(struct_pack(ts_us := e.ts_us, event_id := e.event_id)) AS m
          FROM b e JOIN f1 f ON e.user_id = f.user_id
          WHERE e.event_type = 'click'
            AND (e.ts_us > f.tk_us
                 OR (e.ts_us = f.tk_us AND e.event_id > f.ek_id))
          GROUP BY e.user_id),
        f2 AS MATERIALIZED (
          SELECT f.user_id, f.t1_us,
                 coalesce((n.m).ts_us, f.tk_us) AS tk_us,
                 coalesce((n.m).event_id, f.ek_id) AS ek_id,
                 f.depth + CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS depth
          FROM f1 f LEFT JOIN n2 n ON n.user_id = f.user_id),
        n3 AS MATERIALIZED (
          SELECT e.user_id,
                 min(struct_pack(ts_us := e.ts_us, event_id := e.event_id)) AS m
          FROM b e JOIN f2 f ON e.user_id = f.user_id
          WHERE e.event_type = 'purchase' AND f.depth = 2
            AND (e.ts_us > f.tk_us
                 OR (e.ts_us = f.tk_us AND e.event_id > f.ek_id))
          GROUP BY e.user_id),
        f3 AS MATERIALIZED (
          SELECT f.user_id, f.t1_us,
                 coalesce((n.m).ts_us, f.tk_us) AS tk_us,
                 coalesce((n.m).event_id, f.ek_id) AS ek_id,
                 f.depth + CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS depth
          FROM f2 f LEFT JOIN n3 n ON n.user_id = f.user_id)
        SELECT user_id, depth, t1_us, tk_us AS t_last_us,
               (depth = 3 AND tk_us - t1_us <= 3600000000) AS converted
        FROM f3
      """,

      // Mirrors Ops.approxDistinct: distinct composite hashes, kth order
      // statistic per group, exact count below k, the SAME double
      // expression above it.
      "approx_distinct" -> {
        import OracleDialect._
        s"""
        WITH f AS (
          SELECT DISTINCT lang, ${fp("text")} AS a, ${fp2("text")} AS b
          FROM documents WHERE text IS NOT NULL),
        h AS (
          SELECT DISTINCT lang,
                 (((a*48271 + b) % 2147483647) * 48271 + a) % 2147483647
                   * 2147483647 +
                 (((b*16807 + a) % 2147483647) * 16807 + b) % 2147483647
                   + 1 AS h
          FROM f),
        r AS (
          SELECT lang, h,
                 row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
                 count(*) OVER (PARTITION BY lang) AS nd
          FROM h),
        sel AS (
          SELECT lang, max(nd) AS nd,
                 max(CASE WHEN rn = 256 THEN h END) AS hk
          FROM r GROUP BY lang)
        SELECT lang,
               CASE WHEN nd < 256 THEN nd
                    ELSE CAST(floor(CAST(255 AS DOUBLE) *
                           (CAST(2147483647 AS DOUBLE) * CAST(2147483647 AS DOUBLE)) /
                           CAST(hk AS DOUBLE)) AS BIGINT) END AS est_distinct
        FROM sel
      """
      },

      // Mirrors Ops.exactQuantiles: histogram + cumulative counts, the
      // smallest value reaching ceil(q * n / 1000) per per-mille point.
      "quantiles" -> """
        WITH h AS (
          SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        t AS (
          SELECT v, sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM h),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h)
        SELECT q AS q_permille,
               (SELECT min(v) FROM t
                WHERE cum >= (q * (SELECT n FROM n) + 999) // 1000) AS value
        FROM (SELECT unnest([250, 500, 750, 900, 990]) AS q)
      """)
  }
}
