package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.DataRoot
import graft.cell.CellIndex
import graft.functions.GraftFunctions._
import graft.index.PolygonLayer
import graft.operators._
import graft.tables.{Images, Synthetic}

/**
 * Fixtures and SQL fragments that more than one query family uses. It
 * never reads the registry, so no family object initialises in a cycle
 * through it. A helper that one family alone uses is private to that family.
 */
private[graft] object Fixtures {

  /** One DataFrame handle per (session, parquet path): repeated query
   * invocations reuse the resolved relation instead of re-listing the
   * directory and re-reading the footer schema per call (driver-side
   * serial work; the same reuse a catalog table gets). This caches the
   * LOGICAL handle only — every action still scans the parquet files. */
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def readParquetCached(s: SparkSession, path: String): DataFrame = {
    val hit = dfCache.get((s, path))
    if (hit != null) hit
    else if (dfCache.size >= 256) s.read.parquet(path) // unbounded-caller guard
    else dfCache.computeIfAbsent((s, path), k => k._1.read.parquet(k._2))
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    readParquetCached(s, s"$dir/$name.parquet")

  /** Derived deterministic point table (id, x, y) from customer keys —
   * mirrored verbatim in SQL by [[ptsSql]]. */
  def points(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").cast("long").as("id"),
      derivedX(col("c_custkey")).as("x"),
      derivedY(col("c_custkey")).as("y"))

  /** Per-shape (key, n_rings, n_verts, bbox ints) of a PolygonLayer — the
   * observable emitted by the format-reader oracles. */
  def layerShapeStats(layer: graft.index.PolygonLayer, scale: Double = 1e6)
      : Seq[(Long, Long, Long, Long, Long, Long, Long)] =
    (0 until layer.numShapes).map { sh =>
      val rings = (0 until layer.numRings).filter(r => layer.ringShape(r) == sh)
      var nv = 0L
      var mnx = Double.MaxValue; var mny = Double.MaxValue
      var mxx = Double.MinValue; var mxy = Double.MinValue
      rings.foreach { r =>
        var i = layer.ringStart(r)
        while (i < layer.ringStart(r + 1)) {
          mnx = math.min(mnx, layer.xx(i)); mxx = math.max(mxx, layer.xx(i))
          mny = math.min(mny, layer.yy(i)); mxy = math.max(mxy, layer.yy(i))
          nv += 1; i += 1
        }
      }
      (layer.shapeKeys(sh), rings.length.toLong, nv,
        math.floor(mnx * scale).toLong, math.floor(mny * scale).toLong,
        math.floor(mxx * scale).toLong, math.floor(mxy * scale).toLong)
    }

  /** Closed flat rectangle ring (CCW) — the mosaic-family oracle fixture. */
  def oRect(x0: Double, y0: Double, w: Double, h: Double): Array[Double] =
    Array(x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h, x0, y0)

  val ptsSql: String =
    s"""pts AS (SELECT c_custkey AS id,
       |  ${derivedXSql("c_custkey")} AS x,
       |  ${derivedYSql("c_custkey")} AS y FROM customer)""".stripMargin

  /** The fixed 8-shape oracle polygon layer, emitted as SQL VALUES edges.
   * Coordinates are CAST to DOUBLE (DuckDB parses the literals as DECIMAL,
   * which would change arithmetic and overflow in multiplications). */
  lazy val oracleEdgesSql: String =
    s"""edges AS (SELECT pk, ring,
       |  CAST(ex1 AS DOUBLE) AS ex1, CAST(ey1 AS DOUBLE) AS ey1,
       |  CAST(ex2 AS DOUBLE) AS ex2, CAST(ey2 AS DOUBLE) AS ey2
       |  FROM (VALUES ${Synthetic.edgesSqlValues(Synthetic.oracleLayer)})
       |  t(pk, ring, ex1, ey1, ex2, ey2))""".stripMargin

  /** Bigger synthetic layer for the image-side (non-oracle) spatial queries. */
  lazy val imageLayer: PolygonLayer = Synthetic.polygonLayer(64, seed = 42L)

  /** Exact-round-trip double literal for SQL (E-notation parses as DOUBLE in
   * DuckDB — plain decimals parse as DECIMAL and cast off by 1 ulp). */
  def dl(v: Double): String = "%.17e".format(v)

  /** The q_img_cell SQL: full Morton decode (phash → lon/lat) and re-encode
   * (cell id at res 6) as DuckDB bit-op cascades — the image table's spatial
   * keying is verified end to end, not just row-counted. The image parquet is
   * read by absolute path (the driver's correctness run materializes it at
   * sf0.01 via Verify before the oracle executes). */
  lazy val imgCellSql: String = {
    val LS = dl(Images.LocScale)
    s"""WITH img AS (SELECT phash FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')),
       |s0 AS (SELECT phash >> 1 AS x, phash AS y FROM img),
       |d1 AS (SELECT x & 6148914691236517205 AS x, y & 6148914691236517205 AS y FROM s0),
       |d2 AS (SELECT (x | (x >> 1)) & 3689348814741910323 AS x,
       |              (y | (y >> 1)) & 3689348814741910323 AS y FROM d1),
       |d3 AS (SELECT (x | (x >> 2)) & 1085102592571150095 AS x,
       |              (y | (y >> 2)) & 1085102592571150095 AS y FROM d2),
       |d4 AS (SELECT (x | (x >> 4)) & 71777214294589695 AS x,
       |              (y | (y >> 4)) & 71777214294589695 AS y FROM d3),
       |d5 AS (SELECT (x | (x >> 8)) & 281470681808895 AS x,
       |              (y | (y >> 8)) & 281470681808895 AS y FROM d4),
       |d6 AS (SELECT (x | (x >> 16)) & 4294967295 AS x,
       |              (y | (y >> 16)) & 4294967295 AS y FROM d5),
       |ll AS (SELECT CAST(x AS DOUBLE) * $LS AS lon, CAST(y AS DOUBLE) * $LS AS lat FROM d6),
       |ic AS (SELECT CAST(floor(lon / 5.625) AS BIGINT) + 268435456 AS x,
       |              CAST(floor(lat / 5.625) AS BIGINT) + 268435456 AS y FROM ll),
       |i0 AS (SELECT x & 536870911 AS x, y & 536870911 AS y FROM ic),
       |i1 AS (SELECT (x | (x << 16)) & 281470681808895 AS x,
       |              (y | (y << 16)) & 281470681808895 AS y FROM i0),
       |i2 AS (SELECT (x | (x << 8)) & 71777214294589695 AS x,
       |              (y | (y << 8)) & 71777214294589695 AS y FROM i1),
       |i3 AS (SELECT (x | (x << 4)) & 1085102592571150095 AS x,
       |              (y | (y << 4)) & 1085102592571150095 AS y FROM i2),
       |i4 AS (SELECT (x | (x << 2)) & 3689348814741910323 AS x,
       |              (y | (y << 2)) & 3689348814741910323 AS y FROM i3),
       |i5 AS (SELECT (x | (x << 1)) & 6148914691236517205 AS x,
       |              (y | (y << 1)) & 6148914691236517205 AS y FROM i4)
       |SELECT (1729382256910270464 | (x << 1) | y) AS cell_id, count(*) AS n
       |FROM i5 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Shared phash → (image_id, x, y) Morton-decode cascade (same bit ops as
   * [[imgCellSql]], carrying image_id for per-image grouping). */
  lazy val imgXYSql: String = {
    val LS = dl(Images.LocScale)
    s"""img AS (SELECT image_id, phash FROM read_parquet('$DataRoot/images_sf0.01.parquet/*.parquet')),
       |s0 AS (SELECT image_id, phash >> 1 AS x, phash AS y FROM img),
       |d1 AS (SELECT image_id, x & 6148914691236517205 AS x, y & 6148914691236517205 AS y FROM s0),
       |d2 AS (SELECT image_id, (x | (x >> 1)) & 3689348814741910323 AS x,
       |              (y | (y >> 1)) & 3689348814741910323 AS y FROM d1),
       |d3 AS (SELECT image_id, (x | (x >> 2)) & 1085102592571150095 AS x,
       |              (y | (y >> 2)) & 1085102592571150095 AS y FROM d2),
       |d4 AS (SELECT image_id, (x | (x >> 4)) & 71777214294589695 AS x,
       |              (y | (y >> 4)) & 71777214294589695 AS y FROM d3),
       |d5 AS (SELECT image_id, (x | (x >> 8)) & 281470681808895 AS x,
       |              (y | (y >> 8)) & 281470681808895 AS y FROM d4),
       |d6 AS (SELECT image_id, (x | (x >> 16)) & 4294967295 AS x,
       |              (y | (y >> 16)) & 4294967295 AS y FROM d5),
       |xy AS (SELECT image_id, CAST(x AS DOUBLE) * $LS AS x, CAST(y AS DOUBLE) * $LS AS y FROM d6)""".stripMargin
  }

  /** The 64-shape image layer emitted as SQL VALUES edges (same precedent as
   * [[oracleEdgesSql]]: both engines derive from this exact object). */
  lazy val imageEdgesSql: String =
    s"""iedges AS (SELECT pk, ring,
       |  CAST(ex1 AS DOUBLE) AS ex1, CAST(ey1 AS DOUBLE) AS ey1,
       |  CAST(ex2 AS DOUBLE) AS ex2, CAST(ey2 AS DOUBLE) AS ey2
       |  FROM (VALUES ${Synthetic.edgesSqlValues(imageLayer)})
       |  t(pk, ring, ex1, ey1, ex2, ey2))""".stripMargin

  /** Morton re-encode of (cx, cy) at a resolution — mirror of
   * CellIndex.cellId (floor to cell coords, bias, interleave, res header). */
  def cellEncodeSql(inCte: String, res: Int): String = {
    val cs = dl(CellIndex.cellSize(res))
    val header = res.toLong << 58
    s"""ic AS (SELECT *, CAST(floor(cx / $cs) AS BIGINT) + 268435456 AS ex,
       |              CAST(floor(cy / $cs) AS BIGINT) + 268435456 AS ey FROM $inCte),
       |i0 AS (SELECT * REPLACE (ex & 536870911 AS ex, ey & 536870911 AS ey) FROM ic),
       |i1 AS (SELECT * REPLACE ((ex | (ex << 16)) & 281470681808895 AS ex,
       |              (ey | (ey << 16)) & 281470681808895 AS ey) FROM i0),
       |i2 AS (SELECT * REPLACE ((ex | (ex << 8)) & 71777214294589695 AS ex,
       |              (ey | (ey << 8)) & 71777214294589695 AS ey) FROM i1),
       |i3 AS (SELECT * REPLACE ((ex | (ex << 4)) & 1085102592571150095 AS ex,
       |              (ey | (ey << 4)) & 1085102592571150095 AS ey) FROM i2),
       |i4 AS (SELECT * REPLACE ((ex | (ex << 2)) & 3689348814741910323 AS ex,
       |              (ey | (ey << 2)) & 3689348814741910323 AS ey) FROM i3),
       |i5 AS (SELECT * REPLACE ((ex | (ex << 1)) & 6148914691236517205 AS ex,
       |              (ey | (ey << 1)) & 6148914691236517205 AS ey) FROM i4),
       |enc AS (SELECT *, ($header | (ex << 1) | ey) AS cell_id FROM i5)""".stripMargin
  }

  /** 64-bit wrap arithmetic helpers for DuckDB: Scala's Long multiply/add
   * wrap mod 2^64; DuckDB BIGINT overflow throws, so the mirrors run in
   * HUGEINT with an explicit 32-bit-limb decomposition for 64×64 products. */
  object WrapSql {
    final val M64 = "18446744073709551616"
    final val M32 = 4294967296L
    final val Golden = java.lang.Long.parseUnsignedLong("9e3779b97f4a7c15", 16)
    final val C1 = java.lang.Long.parseUnsignedLong("bf58476d1ce4e5b9", 16)
    final val C2 = java.lang.Long.parseUnsignedLong("94d049bb133111eb", 16)
    def u(v: Long): String = java.lang.Long.toUnsignedString(v)

    /** (z * c) mod 2^64 via limbs: z*c_lo + ((z_lo? no — z*c_hi mod 2^32)<<32. */
    def wrapMul(z: String, c: Long, out: String): String = {
      val clo = java.lang.Long.remainderUnsigned(c, M32)
      s"CAST(((CAST($z AS HUGEINT) % $M32) * CAST('${u(c)}' AS HUGEINT) " +
        s"+ (((CAST($z AS HUGEINT) // $M32) * $clo) % $M32) * $M32) " +
        s"% $M64 AS UBIGINT) AS $out"
    }

    /** The SplitMix64 finalizer as a 6-CTE chain over `{p}in(_zin)` → `{p}out(.., out)`. */
    def splitmix(p: String, zin: String, out: String): String =
      s"""${p}a AS (SELECT *, CAST((CAST($zin AS HUGEINT) + CAST('${u(Golden)}' AS HUGEINT)) % $M64 AS UBIGINT) AS _z0 FROM ${p}in),
         |${p}b AS (SELECT *, xor(_z0, _z0 >> 30) AS _z1 FROM ${p}a),
         |${p}c AS (SELECT *, ${wrapMul("_z1", C1, "_z2")} FROM ${p}b),
         |${p}d AS (SELECT *, xor(_z2, _z2 >> 27) AS _z3 FROM ${p}c),
         |${p}e AS (SELECT *, ${wrapMul("_z3", C2, "_z4")} FROM ${p}d),
         |${p}out AS (SELECT * EXCLUDE (_z0, _z1, _z2, _z3, _z4), xor(_z4, _z4 >> 31) AS $out FROM ${p}e)""".stripMargin

    /** Shared CTE chain: documents → words → java word hashCodes → 3-word
     * shingle hashes through the SplitMix64 finalizer (mirror of
     * Dedup.shingleHashes, incl. the <3-word joined-string fallback). */
    lazy val shinglesCte: String = {
      val h64 = {
        var expr = "CAST(1125899906842597 AS HUGEINT)"
        for (off <- Seq("i", "i+1", "i+2")) {
          val w = s"((CAST(whs[$off] AS HUGEINT) % $M64 + $M64) % $M64)"
          expr = s"(($expr * 31 + $w) % $M64)"
        }
        s"CAST($expr AS UBIGINT)"
      }
      val jreduce = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(array_to_string(words, ' '), ''), " +
        s"ch -> CAST(unicode(ch) AS BIGINT))), (acc, c) -> (31 * acc + c) % $M32)"
      s"""docs AS (SELECT doc_id AS id, coalesce(text, '') AS text FROM documents),
         |w AS (SELECT id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS words FROM docs),
         |wh AS (SELECT id, len(words) AS nw,
         |    list_transform(
         |      list_transform(words, wd -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(string_split(wd, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |        (acc, c) -> (31 * acc + c) % $M32)),
         |      m -> CASE WHEN m >= ${M32 / 2} THEN m - $M32 ELSE m END) AS whs
         |  FROM w),
         |sh0 AS (
         |  SELECT id, $h64 AS h64
         |  FROM wh, unnest(range(1, nw - 1)) t(i) WHERE nw >= 3
         |  UNION ALL
         |  SELECT id,
         |    CAST((CASE WHEN jm >= ${M32 / 2} THEN CAST(jm AS HUGEINT) - $M32 ELSE CAST(jm AS HUGEINT) END
         |          % $M64 + $M64) % $M64 AS UBIGINT) AS h64
         |  FROM (SELECT id, nw, $jreduce AS jm
         |        FROM wh JOIN w USING (id) WHERE nw < 3 AND nw > 0) short),
         |smin AS (SELECT id, h64 AS _zin FROM sh0),
         |${splitmix("sm", "_zin", "sh")},
         |shingles AS (SELECT id, sh FROM smout)""".stripMargin
    }
  }

  /** Morton cell-id mirror (CellIndex.encode): chained bitwise CTEs
   * interleaving the biased 29-bit cell coords. The caller's `mzin` CTE
   * must provide BIGINT `ix`, `iy` plus the carried `keep` columns; the
   * produced `mz` CTE has `keep` + the encoded `cell`. */
  def mortonCtes(res: Int, keep: Seq[String]): String = {
    val ks = keep.mkString(", ")
    val steps = Seq(16 -> 281470681808895L, 8 -> 71777214294589695L,
      4 -> 1085102592571150095L, 2 -> 3689348814741910323L,
      1 -> 6148914691236517205L)
    val chain = steps.zipWithIndex.map { case ((sh, m), i) =>
      s"""mz${i + 1} AS (SELECT $ks, (zx | (zx << $sh)) & $m AS zx,
         |    (zy | (zy << $sh)) & $m AS zy FROM mz$i)""".stripMargin
    }.mkString(",\n")
    s"""mz0 AS (SELECT $ks, (ix + 268435456) & 536870911 AS zx,
       |    (iy + 268435456) & 536870911 AS zy FROM mzin),
       |$chain,
       |mz AS (SELECT $ks, (CAST($res AS BIGINT) << 58) | (zx << 1) | zy AS cell
       |  FROM mz5)""".stripMargin
  }

  /** Polygon-join fixtures: targets = the distinct cell squares of the derived
   * points (built DISTRIBUTED — no collect); sources = three overlapping
   * axis-aligned rectangles. */
  def polyJoinTargetsDf(s: SparkSession, dir: String): DataFrame = {
    val x = col("cx") * 10.0; val y = col("cy") * 10.0
    points(s, dir)
      .select(floor(col("x") / 10.0).cast("long").as("cx"),
        floor(col("y") / 10.0).cast("long").as("cy"))
      .distinct()
      .select((col("cx") * 100 + col("cy")).as("key"),
        array(x, y, x + 10, y, x + 10, y + 10, x, y + 10, x, y).as("ring"))
  }

  val polyJoinSources: Seq[PolyJoin.Keyed] = Seq(
    (100L, Seq(Array(5.0, 5.0, 55.0, 5.0, 55.0, 55.0, 5.0, 55.0, 5.0, 5.0))),
    (101L, Seq(Array(45.0, 25.0, 95.0, 25.0, 95.0, 75.0, 45.0, 75.0, 45.0, 25.0))),
    (102L, Seq(Array(25.0, 45.0, 75.0, 45.0, 75.0, 95.0, 25.0, 95.0, 25.0, 45.0))))

  def imagesDf(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll(".*/", "")
    val path = Images.ensureParquet(s, DataRoot, tag, Images.rowsForSf(dir))
    readParquetCached(s, path)
  }
}
