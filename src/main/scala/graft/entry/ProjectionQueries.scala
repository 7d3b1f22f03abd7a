package graft
package entry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.functions.GraftFunctions._
import graft.geom.Crs
import graft.operators._
import graft.tables.Synthetic

/**
 * Projections: the CRS, world and composite projections, seam cutting and the
 * geodesic operators.
 */
private[graft] object ProjectionQueries {

  private val crsAea = Crs.Albers(29.5, 45.5, 23.0, -96.0)
  private val crsLcc = Crs.Lcc(33.0, 45.0, 39.0, -96.0)
  private val crsAeqd = Crs.Aeqd(40.0, -100.0)

  /** The q_proj_world SQL: the round-3 world projections (Robinson table
   * spline, Mollweide fixed-10-Newton, sinusoidal, Equal Earth polynomial,
   * polar stereographic) mirrored with the same op order and interpolated
   * constants; Robinson's Hermite coefficients are emitted from the very
   * arrays the Scala evaluator reads. */
  private lazy val projWorldSql: String = {
    val D2R = dl(Crs.D2R); val AL = dl(Crs.A)
    val KRX = dl(0.8487 * Crs.A); val KRY = dl(1.3523 * Crs.A)
    val KMX = dl(2.0 * math.sqrt(2.0) / math.Pi * Crs.A); val KMY = dl(math.sqrt(2.0) * Crs.A)
    val eq = Crs.EqualEarth()
    val M = dl(math.sqrt(3.0) / 2.0)
    val A1 = dl(eq.A1); val A2 = dl(eq.A2); val A3 = dl(eq.A3); val A4 = dl(eq.A4)
    val SIN0 = dl(math.sin(90.0 * Crs.D2R)); val COS0 = dl(math.cos(90.0 * Crs.D2R))
    val K2A = dl(2.0 * Crs.A)
    val coefRows = (0 until 18).map { i =>
      val xc = Crs.Robinson.CoefX(i); val yc = Crs.Robinson.CoefY(i)
      s"($i, ${dl(xc(0))}, ${dl(xc(1))}, ${dl(xc(2))}, ${dl(xc(3))}, " +
        s"${dl(yc(0))}, ${dl(yc(1))}, ${dl(yc(2))}, ${dl(yc(3))})"
    }.mkString(", ")
    val newton = (1 to 10).map { k =>
      s"""m$k AS (SELECT id, lon, tgt,
         |  CASE WHEN abs(2.0 + 2.0 * cos(2.0 * th)) > 1e-14
         |    THEN th - (2.0 * th + sin(2.0 * th) - tgt) / (2.0 + 2.0 * cos(2.0 * th))
         |    ELSE th END AS th FROM m${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH $ptsSql,
       |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts),
       |base AS (SELECT id, lon, lat, lat * $D2R AS phi FROM ll),
       |rcoef AS (SELECT * FROM (VALUES $coefRows)
       |  t(cidx, xc0, xc1, xc2, xc3, yc0, yc1, yc2, yc3)),
       |rob0 AS (SELECT id, lon, lat, least(90.0, abs(lat)) AS al FROM base),
       |rob1 AS (SELECT id, lon, lat, al,
       |  least(17, CAST(trunc(al / 5.0) AS INTEGER)) AS idx FROM rob0),
       |rob2 AS (SELECT r.id, r.lon, r.lat,
       |    (r.al - CAST(r.idx AS DOUBLE) * 5.0) / 5.0 AS t,
       |    c.xc0, c.xc1, c.xc2, c.xc3, c.yc0, c.yc1, c.yc2, c.yc3
       |  FROM rob1 r JOIN rcoef c ON c.cidx = r.idx),
       |rob AS (SELECT id,
       |    $KRX * (xc0 + t * (xc1 + t * (xc2 + t * xc3))) * (lon - 0.0) * $D2R AS robin_x,
       |    $KRY * (yc0 + t * (yc1 + t * (yc2 + t * yc3))) *
       |      (CASE WHEN lat < 0 THEN -1.0 ELSE 1.0 END) AS robin_y
       |  FROM rob2),
       |m0 AS (SELECT id, lon, pi() * sin(phi) AS tgt, phi AS th FROM base),
       |$newton,
       |mo AS (SELECT id, $KMX * (lon - 0.0) * $D2R * cos(th) AS moll_x,
       |    $KMY * sin(th) AS moll_y FROM m10),
       |e0 AS (SELECT id, lon, asin($M * sin(phi)) AS th FROM base),
       |e1 AS (SELECT id, lon, th, th * th AS t2 FROM e0),
       |e2 AS (SELECT id, lon, th, t2, t2 * t2 * t2 AS t6 FROM e1),
       |ee AS (SELECT id,
       |    (lon - 0.0) * $D2R * cos(th) /
       |      ($M * ($A1 + 3.0 * $A2 * t2 + t6 * (7.0 * $A3 + 9.0 * $A4 * t2))) * $AL AS eqe_x,
       |    th * ($A1 + $A2 * t2 + t6 * ($A3 + $A4 * t2)) * $AL AS eqe_y
       |  FROM e2),
       |si AS (SELECT id, (lon - 0.0) * $D2R * cos(phi) * $AL AS sinu_x,
       |    phi * $AL AS sinu_y FROM base),
       |st0 AS (SELECT id, sin(phi) AS sin_p, cos(phi) AS cos_p,
       |    (lon - 0.0) * $D2R AS dlr FROM base),
       |st AS (SELECT id,
       |    $K2A / (1.0 + $SIN0 * sin_p + $COS0 * cos_p * cos(dlr)) * cos_p * sin(dlr) AS stere_x,
       |    $K2A / (1.0 + $SIN0 * sin_p + $COS0 * cos_p * cos(dlr)) *
       |      ($COS0 * sin_p - $SIN0 * cos_p * cos(dlr)) AS stere_y
       |  FROM st0)
       |SELECT rob.id,
       |  CAST(floor(robin_x * 100.0) AS BIGINT) AS robin_x,
       |  CAST(floor(robin_y * 100.0) AS BIGINT) AS robin_y,
       |  CAST(floor(moll_x * 100.0) AS BIGINT) AS moll_x,
       |  CAST(floor(moll_y * 100.0) AS BIGINT) AS moll_y,
       |  CAST(floor(sinu_x * 100.0) AS BIGINT) AS sinu_x,
       |  CAST(floor(sinu_y * 100.0) AS BIGINT) AS sinu_y,
       |  CAST(floor(eqe_x * 100.0) AS BIGINT) AS eqe_x,
       |  CAST(floor(eqe_y * 100.0) AS BIGINT) AS eqe_y,
       |  CAST(floor(stere_x * 100.0) AS BIGINT) AS stere_x,
       |  CAST(floor(stere_y * 100.0) AS BIGINT) AS stere_y
       |FROM rob JOIN mo USING (id) JOIN ee USING (id) JOIN si USING (id) JOIN st USING (id)
       |ORDER BY rob.id""".stripMargin
  }

  /** The q_proj_path SQL: the densified-reprojection RECURSION mirrored —
   * a recursive CTE bisects each projected segment at the unprojected
   * midpoint while the projected midpoint deviates from the chord by more
   * than interval/2 (sinusoidal forward is closed-form, so every comparison
   * is bit-identical and inserted-vertex counts are exact). */
  private lazy val projPathSql: String = {
    val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
    val D2R = dl(Crs.D2R); val RA = dl(Crs.A)
    val interval = 20000.0
    val maxDevSq = dl(interval * interval * 0.25)
    val minIntSq = dl(interval * interval * 25.0)
    def fwdX(lon: String, lat: String) = s"(($lon - 0.0) * $D2R * cos($lat * $D2R) * $RA)"
    def fwdY(lat: String) = s"(($lat * $D2R) * $RA)"
    // squared distance of projected midpoint (px,py) to chord (x0,y0)-(x2,y2),
    // same clamped-t arithmetic as Crs.pointSegDistSq
    def devSq(px: String, py: String): String =
      s"""(CASE WHEN (x2 - x0) * (x2 - x0) + (y2 - y0) * (y2 - y0) = 0
         |  THEN ($px - x0) * ($px - x0) + ($py - y0) * ($py - y0)
         |  ELSE ($px - (x0 + greatest(0.0, least(1.0,
         |      (($px - x0) * (x2 - x0) + ($py - y0) * (y2 - y0)) /
         |      ((x2 - x0) * (x2 - x0) + (y2 - y0) * (y2 - y0)))) * (x2 - x0)))
         |     * ($px - (x0 + greatest(0.0, least(1.0,
         |      (($px - x0) * (x2 - x0) + ($py - y0) * (y2 - y0)) /
         |      ((x2 - x0) * (x2 - x0) + (y2 - y0) * (y2 - y0)))) * (x2 - x0)))
         |   + ($py - (y0 + greatest(0.0, least(1.0,
         |      (($px - x0) * (x2 - x0) + ($py - y0) * (y2 - y0)) /
         |      ((x2 - x0) * (x2 - x0) + (y2 - y0) * (y2 - y0)))) * (y2 - y0)))
         |     * ($py - (y0 + greatest(0.0, least(1.0,
         |      (($px - x0) * (x2 - x0) + ($py - y0) * (y2 - y0)) /
         |      ((x2 - x0) * (x2 - x0) + (y2 - y0) * (y2 - y0)))) * (y2 - y0))) END)""".stripMargin
    // split predicate over a node (lng0, lat0, x0, y0, lng2, lat2, x2, y2)
    val mid =
      s"""SELECT *,
         |  ${fwdX("((lng0 + lng2) / 2.0)", "((lat0 + lat2) / 2.0)")} AS px,
         |  ${fwdY("((lat0 + lat2) / 2.0)")} AS py FROM NODE_SRC"""
        .stripMargin
    val splitCond =
      s"""${devSq("px", "py")} > $maxDevSq
         |  AND sqrt((lng0 - lng2) * (lng0 - lng2) + (lat0 - lat2) * (lat0 - lat2)) > 0.01""".stripMargin
    s"""WITH RECURSIVE v0(pk, ring, i, x, y) AS (
       |  VALUES ${Synthetic.ringVertsSqlValues(layer)}),
       |verts AS (
       |  SELECT ring, i, CAST(x AS DOUBLE) * 3.6 - 180.0 AS lng, CAST(y AS DOUBLE) * 1.7 - 85.0 AS lat FROM v0
       |  UNION ALL
       |  SELECT ring, (SELECT max(i) + 1 FROM v0 w WHERE w.ring = v0.ring) AS i,
       |    CAST(x AS DOUBLE) * 3.6 - 180.0, CAST(y AS DOUBLE) * 1.7 - 85.0 FROM v0 WHERE i = 0),
       |pverts AS (SELECT ring, i, lng, lat,
       |    ${fwdX("lng", "lat")} AS x, ${fwdY("lat")} AS y FROM verts),
       |seed AS (SELECT a.ring, a.i AS seg,
       |    a.lng AS lng0, a.lat AS lat0, a.x AS x0, a.y AS y0,
       |    b.lng AS lng2, b.lat AS lat2, b.x AS x2, b.y AS y2
       |  FROM pverts a JOIN pverts b ON b.ring = a.ring AND b.i = a.i + 1
       |  WHERE (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) > $minIntSq),
       |nodes(ring, seg, lng0, lat0, x0, y0, lng2, lat2, x2, y2) AS (
       |  SELECT ring, seg, lng0, lat0, x0, y0, lng2, lat2, x2, y2 FROM seed
       |  UNION ALL
       |  SELECT m.ring, m.seg,
       |    CASE WHEN u.side = 0 THEN m.lng0 ELSE (m.lng0 + m.lng2) / 2.0 END,
       |    CASE WHEN u.side = 0 THEN m.lat0 ELSE (m.lat0 + m.lat2) / 2.0 END,
       |    CASE WHEN u.side = 0 THEN m.x0 ELSE m.px END,
       |    CASE WHEN u.side = 0 THEN m.y0 ELSE m.py END,
       |    CASE WHEN u.side = 0 THEN (m.lng0 + m.lng2) / 2.0 ELSE m.lng2 END,
       |    CASE WHEN u.side = 0 THEN (m.lat0 + m.lat2) / 2.0 ELSE m.lat2 END,
       |    CASE WHEN u.side = 0 THEN m.px ELSE m.x2 END,
       |    CASE WHEN u.side = 0 THEN m.py ELSE m.y2 END
       |  FROM (${mid.replace("NODE_SRC", "nodes")}) m, (VALUES (0), (1)) u(side)
       |  WHERE $splitCond),
       |splits AS (SELECT ring, count(*) AS n FROM (${mid.replace("NODE_SRC", "nodes")}) m
       |  WHERE $splitCond GROUP BY ring),
       |meta AS (SELECT ring, count(*) AS nv FROM verts GROUP BY ring)
       |SELECT CAST(m.ring AS BIGINT) AS ring_id,
       |  CAST(m.nv AS BIGINT) AS n_before,
       |  CAST(m.nv + coalesce(s.n, 0) AS BIGINT) AS n_after
       |FROM meta m LEFT JOIN splits s ON s.ring = m.ring
       |ORDER BY ring_id""".stripMargin
  }

  /** Vincenty DIRECT 6-round unroll (the ellipsoidal AEQD / geodesic-buffer
   * engine), as a CTE chain `base -> d0..d6 -> fin` over a caller-supplied
   * `pp(keys..., lat1, lon1, azi, s)`; `fin` exposes lon1, phi2, l, azi2.
   * Key columns are carried through every round. */
  private def vincentyChainSql(keys: Seq[String]): String = {
    val fC = dl(graft.geom.Crs.F)
    val aC = dl(graft.geom.Crs.A)
    val bC = dl(graft.geom.Crs.B)
    val kc = keys.mkString(", ")
    val rounds = (1 to 6).map { k =>
      s"""d$k AS MATERIALIZED (SELECT $kc, lon1, s, sinA1, cosA1, sigma1,
         |  sinU1, cosU1, sinAlpha, cos2Alpha, bigA, bigB,
         |  cos(2.0 * sigma1 + sigma) AS c2m,
         |  sin(sigma) AS ss, cos(sigma) AS cs,
         |  s / ($bC * bigA) + bigB * ss * (c2m + bigB / 4.0 *
         |    (cs * (-1.0 + 2.0 * c2m * c2m) -
         |      bigB / 6.0 * c2m * (-3.0 + 4.0 * ss * ss) *
         |        (-3.0 + 4.0 * c2m * c2m))) AS sigma
         |  FROM d${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""base AS (SELECT $kc, lon1, s,
       |  sin(azi * (pi() / 180.0)) AS sinA1, cos(azi * (pi() / 180.0)) AS cosA1,
       |  (1.0 - $fC) * tan(lat1 * (pi() / 180.0)) AS tanU1,
       |  1.0 / sqrt(1.0 + tanU1 * tanU1) AS cosU1,
       |  tanU1 * cosU1 AS sinU1,
       |  atan2(tanU1, cosA1) AS sigma1,
       |  cosU1 * sinA1 AS sinAlpha,
       |  1.0 - sinAlpha * sinAlpha AS cos2Alpha,
       |  cos2Alpha * ($aC * $aC - $bC * $bC) / ($bC * $bC) AS u2,
       |  1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2))) AS bigA,
       |  u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2))) AS bigB
       |  FROM pp),
       |d0 AS MATERIALIZED (SELECT $kc, lon1, s, sinA1, cosA1, sigma1,
       |  sinU1, cosU1, sinAlpha, cos2Alpha, bigA, bigB,
       |  s / ($bC * bigA) AS sigma FROM base),
       |$rounds,
       |fin AS (SELECT $kc, lon1,
       |  cos(2.0 * sigma1 + sigma) AS c2m, sin(sigma) AS ss, cos(sigma) AS cs,
       |  sinU1 * ss - cosU1 * cs * cosA1 AS tmp,
       |  atan2(sinU1 * cs + cosU1 * ss * cosA1,
       |    (1.0 - $fC) * sqrt(sinAlpha * sinAlpha + tmp * tmp)) AS phi2,
       |  atan2(ss * sinA1, cosU1 * cs - sinU1 * ss * cosA1) AS lambda,
       |  $fC / 16.0 * cos2Alpha * (4.0 + $fC * (4.0 - 3.0 * cos2Alpha)) AS cc,
       |  lambda - (1.0 - cc) * $fC * sinAlpha * (sigma + cc * ss *
       |    (c2m + cc * cs * (-1.0 + 2.0 * c2m * c2m))) AS l,
       |  atan2(sinAlpha, -tmp) AS azi2
       |  FROM d6)""".stripMargin
  }

  /** The q_seam_cut SQL: CutAtFaceSeams replayed end to end. Region =
   * CahillKeyes.regionKey (octant*3 + side+1: octant from trunc((lon+180)/
   * 90+1) with the 5→1 wrap and south remap, side from sign((lon+720)%90-
   * 45)), evaluated through the engine's exact rad→deg round trip. Each
   * region-changing segment runs the 40-halving bisection as a recursive
   * CTE with the same (lo+hi)/2 chord interpolation; parts are assembled
   * from cut ordinals (part p opens at cut p's hi point, closes at cut
   * p+1's lo point). */
  private lazy val seamCutSql: String = {
    def regSql(px: String, py: String): String = {
      val lon2 = s"((($px) * (pi() / 180.0)) * (180.0 / pi()))"
      val lat2 = s"((($py) * (pi() / 180.0)) * (180.0 / pi()))"
      val oct0 = s"CAST(trunc((($lon2 + 180.0) / 90.0) + 1.0) AS INT)"
      val mer = s"(($lon2 + 720.0) % 90.0 - 45.0)"
      val side = s"(CASE WHEN $mer < 0.0 THEN -1 WHEN $mer > 0.0 THEN 1 ELSE 0 END)"
      val oct1 = s"(CASE WHEN $oct0 = 5 THEN 1 ELSE $oct0 END)"
      val oct = s"(CASE WHEN $lat2 < 0.0 THEN ([0,6,7,8,5])[$oct1 + 1] ELSE $oct1 END)"
      s"($oct * 3 + ($side + 1))"
    }
    s"""WITH RECURSIVE $ptsSql,
       |gs AS (SELECT DISTINCT id % 50 AS g FROM pts),
       |vx AS (SELECT g, CAST(j AS INT) AS j,
       |    (-170.0 + CAST(g % 7 AS DOUBLE) * 3.7) + CAST(j AS DOUBLE) * 38.3 AS px,
       |    (5.0 + CAST(g % 5 AS DOUBLE) * 6.1) + CAST(j AS DOUBLE) * 0.9 AS py
       |  FROM gs, (SELECT unnest(range(0, 8)) AS j) t),
       |vreg AS (SELECT g, j, px, py, ${regSql("px", "py")} AS r FROM vx),
       |seg AS (SELECT a.g, a.j, a.px AS sx, a.py AS sy, b.px AS ex, b.py AS ey,
       |    a.r AS fs, b.r AS fe
       |  FROM vreg a JOIN vreg b ON a.g = b.g AND b.j = a.j + 1),
       |bis AS (
       |  SELECT g, j, sx, sy, ex, ey, fs, 0 AS it,
       |    CAST(0.0 AS DOUBLE) AS lo, CAST(1.0 AS DOUBLE) AS hi
       |  FROM seg WHERE fs <> fe
       |  UNION ALL
       |  SELECT g, j, sx, sy, ex, ey, fs, it + 1,
       |    CASE WHEN rm = fs THEN m ELSE lo END,
       |    CASE WHEN rm = fs THEN hi ELSE m END
       |  FROM (SELECT *, ${regSql("sx + (ex - sx) * m", "sy + (ey - sy) * m")} AS rm
       |        FROM (SELECT *, (lo + hi) / 2.0 AS m FROM bis WHERE it < 40) b1) b2
       |),
       |cuts AS (SELECT g, j, sx + (ex - sx) * lo AS clx, sy + (ey - sy) * lo AS cly,
       |    sx + (ex - sx) * hi AS chx, sy + (ey - sy) * hi AS chy
       |  FROM bis WHERE it = 40),
       |vp AS (SELECT v.g, v.j, v.px, v.py,
       |    (SELECT count(*) FROM cuts c WHERE c.g = v.g AND c.j < v.j) AS part
       |  FROM vx v),
       |pa AS (SELECT g, part, count(*) AS nv,
       |    arg_min(px, j) AS fvx, arg_min(py, j) AS fvy,
       |    arg_max(px, j) AS lvx, arg_max(py, j) AS lvy
       |  FROM vp GROUP BY g, part),
       |co AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY j) AS p, chx, chy FROM cuts),
       |cc AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY j) - 1 AS p, clx, cly FROM cuts)
       |SELECT pa.g AS g, CAST(pa.part AS BIGINT) AS part,
       |  CAST(pa.nv + (CASE WHEN co.p IS NULL THEN 0 ELSE 1 END)
       |     + (CASE WHEN cc.p IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_pts,
       |  CAST(floor(coalesce(co.chx, pa.fvx) * 1000000000.0) AS BIGINT) AS x0_int,
       |  CAST(floor(coalesce(co.chy, pa.fvy) * 1000000000.0) AS BIGINT) AS y0_int,
       |  CAST(floor(coalesce(cc.clx, pa.lvx) * 1000000000.0) AS BIGINT) AS x1_int,
       |  CAST(floor(coalesce(cc.cly, pa.lvy) * 1000000000.0) AS BIGINT) AS y1_int
       |FROM pa LEFT JOIN co ON co.g = pa.g AND co.p = pa.part
       |  LEFT JOIN cc ON cc.g = pa.g AND cc.p = pa.part
       |ORDER BY pa.g, pa.part""".stripMargin
  }

  /** The q_albersusa SQL: the composite's full forward path — first-match
   * bbox routing, each frame's ellipsoidal Albers (Snyder ch.14, same op
   * order as the q_proj_crs aea mirror), then the placement affine — with
   * every constant interpolated from the very [[Crs.AlbersUsa]] frames the
   * Spark side uses (the q_proj_crs precedent: derived constants as
   * byte-identical double literals). */
  private lazy val albersUsaSql: String = {
    import graft.geom.Crs
    val frames = Seq(Crs.AlbersUsa.Main, Crs.AlbersUsa.AK, Crs.AlbersUsa.HI)
    val D2R = dl(Crs.D2R); val E2 = dl(Crs.E2); val E = dl(Crs.E)
    val OME2 = dl(1.0 - Crs.E2); val H2E = dl(1.0 / (2.0 * Crs.E))
    val AL = dl(Crs.A)
    def alb(f: Crs.AlbersUsa.Frame): Crs.Albers = f.proj.asInstanceOf[Crs.Albers]
    val routing = frames.zipWithIndex.map { case (f, i) =>
      val (x0, y0, x1, y1) = f.bbox
      s"WHEN lon >= ${dl(x0)} AND lon <= ${dl(x1)} AND lat >= ${dl(y0)} AND lat <= ${dl(y1)} THEN $i"
    }.mkString("\n       |    ")
    def perFrame(name: String, v: Crs.AlbersUsa.Frame => Double): String =
      "CASE frame " + frames.zipWithIndex.map { case (f, i) =>
        s"WHEN $i THEN ${dl(v(f))}"
      }.mkString(" ") + s" END AS $name"
    s"""WITH $ptsSql,
       |ll AS (SELECT id, x * 1.2 - 180.0 AS lon, y * 0.6 + 15.0 AS lat FROM pts),
       |fr AS (SELECT id, lon, lat, CASE
       |    $routing
       |    ELSE -1 END AS frame FROM ll),
       |prm AS (SELECT id, lon, lat, frame,
       |  ${perFrame("nn", f => alb(f).n)},
       |  ${perFrame("cc2", f => alb(f).c)},
       |  ${perFrame("rho0v", f => alb(f).rho0)},
       |  ${perFrame("lon0", f => alb(f).lon0Deg)},
       |  ${perFrame("aff_a", f => f.affine._1)},
       |  ${perFrame("aff_d", f => f.affine._4)},
       |  ${perFrame("aff_tx", f => f.affine._5)},
       |  ${perFrame("aff_ty", f => f.affine._6)}
       |  FROM fr WHERE frame >= 0),
       |tri AS (SELECT *, sin(lat * $D2R) AS sp FROM prm),
       |qa AS (SELECT *, $OME2 * (sp / (1.0e0 - $E2 * sp * sp) -
       |    $H2E * ln((1.0e0 - $E * sp) / (1.0e0 + $E * sp))) AS q FROM tri),
       |pr AS (SELECT *, $AL * sqrt(cc2 - nn * q) / nn AS rho,
       |  nn * (lon - lon0) * $D2R AS th FROM qa),
       |xy AS (SELECT id, frame,
       |  rho * sin(th) * aff_a + aff_tx AS px,
       |  (rho0v - rho * cos(th)) * aff_d + aff_ty AS py FROM pr)
       |SELECT id, CAST(frame AS BIGINT) AS frame,
       |  CAST(floor(px * 100.0) AS BIGINT) AS x_int,
       |  CAST(floor(py * 100.0) AS BIGINT) AS y_int
       |FROM xy ORDER BY id""".stripMargin
  }

  /** The q_proj_crs SQL: same formulas (Snyder), same operation order, with
   * all projection constants interpolated from the very [[Crs]] objects the
   * Spark side uses — byte-identical double literals on both engines. */
  private lazy val projCrsSql: String = {
    val D2R = dl(Crs.D2R); val E2 = dl(Crs.E2); val E = dl(Crs.E)
    val OME2 = dl(1.0 - Crs.E2); val H2E = dl(1.0 / (2.0 * Crs.E))
    val AL = dl(Crs.A)
    val NN = dl(crsAea.n); val CC = dl(crsAea.c); val RHO0 = dl(crsAea.rho0)
    val NL = dl(crsLcc.n); val AF = dl(Crs.A * crsLcc.f); val RHO0L = dl(crsLcc.rho0)
    val PI4 = dl(math.Pi / 4.0); val EH = dl(Crs.E / 2.0)
    val K0 = dl(0.9996); val EP2 = dl(Crs.Ep2)
    val M0C = dl(Crs.Mc0); val M2C = dl(Crs.Mc2); val M4C = dl(Crs.Mc4); val M6C = dl(Crs.Mc6)
    val SIN0 = dl(math.sin(40.0 * Crs.D2R)); val COS0 = dl(math.cos(40.0 * Crs.D2R))
    s"""WITH $ptsSql,
       |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts),
       |tri AS (SELECT id, lon, lat,
       |  sin(lat * $D2R) AS sp, cos(lat * $D2R) AS cp FROM ll),
       |-- Albers (Snyder ch.14): q aux, rho, theta
       |a1 AS (SELECT id, lon, lat,
       |  $OME2 * (sp / (1.0e0 - $E2 * sp * sp) -
       |    $H2E * ln((1.0e0 - $E * sp) / (1.0e0 + $E * sp))) AS q FROM tri),
       |a2 AS (SELECT id, $AL * sqrt($CC - $NN * q) / $NN AS rho,
       |  $NN * (lon - (-9.6e1)) * $D2R AS th FROM a1),
       |aea AS (SELECT id, rho * sin(th) AS ax, $RHO0 - rho * cos(th) AS ay FROM a2),
       |-- LCC (Snyder ch.15): t aux, rho, theta
       |l1 AS (SELECT id, lon, lat,
       |  tan($PI4 - (lat * $D2R) / 2.0e0) /
       |    pow((1.0e0 - $E * sp) / (1.0e0 + $E * sp), $EH) AS t FROM tri),
       |l2 AS (SELECT id, $AF * pow(t, $NL) AS rho,
       |  $NL * (lon - (-9.6e1)) * $D2R AS th FROM l1),
       |lcc AS (SELECT id, rho * sin(th) AS lx, $RHO0L - rho * cos(th) AS ly FROM l2),
       |-- UTM (Snyder ch.8 series), zone per row, hemisphere by latitude
       |u0 AS (SELECT id, lon, lat, sp, cp,
       |  CAST(least(60, greatest(1, CAST(floor((lon + 1.8e2) / 6.0e0) AS BIGINT) + 1)) AS DOUBLE)
       |    * 6.0e0 - 1.83e2 AS lon0 FROM tri),
       |u1 AS (SELECT id, lat, sp, cp, sp / cp AS tp,
       |  $AL / sqrt(1.0e0 - $E2 * sp * sp) AS nr,
       |  (lon - lon0) * $D2R * cp AS aa FROM u0),
       |u2 AS (SELECT id, lat, nr, aa, tp * tp AS t, $EP2 * cp * cp AS cc,
       |  $AL * ($M0C * (lat * $D2R) - $M2C * sin(2.0e0 * (lat * $D2R)) +
       |    $M4C * sin(4.0e0 * (lat * $D2R)) - $M6C * sin(6.0e0 * (lat * $D2R))) AS m,
       |  sp / cp AS tp2 FROM u1),
       |utm AS (SELECT id,
       |  $K0 * nr * (aa + (1.0e0 - t + cc) * aa * aa * aa / 6.0e0 +
       |    (5.0e0 - 1.8e1 * t + t * t + 7.2e1 * cc - 5.8e1 * $EP2) * pow(aa, 5) / 1.2e2)
       |    + 5.0e5 AS ux,
       |  $K0 * (m + nr * tp2 * (aa * aa / 2.0e0 +
       |    (5.0e0 - t + 9.0e0 * cc + 4.0e0 * cc * cc) * pow(aa, 4) / 2.4e1 +
       |    (6.1e1 - 5.8e1 * t + t * t + 6.0e2 * cc - 3.3e2 * $EP2) * pow(aa, 6) / 7.2e2))
       |    + CASE WHEN lat < 0.0e0 THEN 1.0e7 ELSE 0.0e0 END AS uy
       |  FROM u2),
       |-- AEQD spherical (Snyder ch.25), center (40, -100)
       |q1 AS (SELECT id, sp, cp, (lon - (-1.0e2)) * $D2R AS dl FROM tri),
       |q2 AS (SELECT id, sp, cp, dl,
       |  acos(greatest(-1.0e0, least(1.0e0, $SIN0 * sp + $COS0 * cp * cos(dl)))) AS c FROM q1),
       |q3 AS (SELECT id, sp, cp, dl,
       |  CASE WHEN c = 0.0e0 THEN 1.0e0 ELSE c / sin(c) END AS k FROM q2),
       |adq AS (SELECT id, $AL * k * cp * sin(dl) AS qx,
       |  $AL * k * ($COS0 * sp - $SIN0 * cp * cos(dl)) AS qy FROM q3)
       |SELECT aea.id,
       |  CAST(floor(ax * 1.0e2) AS BIGINT) AS aea_x,
       |  CAST(floor(ay * 1.0e2) AS BIGINT) AS aea_y,
       |  CAST(floor(lx * 1.0e2) AS BIGINT) AS lcc_x,
       |  CAST(floor(ly * 1.0e2) AS BIGINT) AS lcc_y,
       |  CAST(floor(ux * 1.0e2) AS BIGINT) AS utm_x,
       |  CAST(floor(uy * 1.0e2) AS BIGINT) AS utm_y,
       |  CAST(floor(qx * 1.0e2) AS BIGINT) AS adq_x,
       |  CAST(floor(qy * 1.0e2) AS BIGINT) AS adq_y
       |FROM aea JOIN lcc ON aea.id = lcc.id JOIN utm ON aea.id = utm.id
       |  JOIN adq ON aea.id = adq.id
       |ORDER BY aea.id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // -proj: lon/lat -> WebMercator + tile pyramid key (floor-scaled: libm
    // vs JVM transcendentals differ in the last ulp)
    query("q_proj")((s, dir) => {
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)  // [0,100) -> [-180,180)
        .withColumn("lat", col("y") * 1.7 - 85.0)   // [0,100) -> [-85,85)
      pts.select(col("id"),
          floor(Proj.lonToMercX(col("lon")) * 1000.0).cast("long").as("mx_int"),
          floor(Proj.latToMercY(col("lat")) * 1000.0).cast("long").as("my_int"),
          Proj.tileX(col("lon"), 6).as("tx"),
          Proj.tileY(col("lat"), 6).as("ty"))
        .orderBy("id")
    })(
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts)
         |SELECT id,
         |  CAST(floor(lon * (pi() / 180.0) * 6378137.0 * 1000.0) AS BIGINT) AS mx_int,
         |  CAST(floor(ln(tan(pi() / 4.0 + lat * (pi() / 180.0) / 2.0)) * 6378137.0 * 1000.0) AS BIGINT) AS my_int,
         |  CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT) AS tx,
         |  CAST(floor((1.0 - ln(tan(lat * (pi() / 180.0)) + 1.0 / cos(lat * (pi() / 180.0))) / pi()) / 2.0 * 64) AS BIGINT) AS ty
         |FROM ll ORDER BY id""".stripMargin),

    // world catalog, second batch: equirectangular (lat_ts), cylindrical
    // equal-area, Natural Earth polynomial, Winkel tripel — cm-exact mirrors
    query("q_proj_world2")((s, dir) => {
      import graft.geom.Crs
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
      val fq = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=eqc +lat_ts=30"))
      val fc = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=cea +lat_ts=30"))
      val fn = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=natearth"))
      val fw = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=wintri"))
      pts.select(col("id"),
          floor(fq(0) * 100.0).cast("long").as("eqc_x"),
          floor(fq(1) * 100.0).cast("long").as("eqc_y"),
          floor(fc(0) * 100.0).cast("long").as("cea_x"),
          floor(fc(1) * 100.0).cast("long").as("cea_y"),
          floor(fn(0) * 100.0).cast("long").as("ne_x"),
          floor(fn(1) * 100.0).cast("long").as("ne_y"),
          floor(fw(0) * 100.0).cast("long").as("wt_x"),
          floor(fw(1) * 100.0).cast("long").as("wt_y"))
        .orderBy("id")
    }) {
      // world batch 2 — same constant-folded op order as the Scala kernels
      val D2R = dl(Crs.D2R)
      val R = dl(Crs.A)
      val cosTs = dl(math.cos(30.0 * Crs.D2R))
      val cosPhi1 = dl(2.0 / math.Pi)
      val lam = s"(lon * $D2R)" // lon0 = 0: (lonDeg - 0.0) stays lonDeg... see note
      val phi = s"(lat * $D2R)"
      // NOTE: Scala computes (lonDeg - lon0Deg) with lon0Deg = 0.0 — the
      // subtraction by zero is exact, so the mirror may fold it away
      val nePoly =
        s"(${dl(0.8707)} - ${dl(0.131979)} * phi2 + phi4 * (${dl(-0.013791)} " +
          s"+ phi4 * (${dl(0.003971)} * phi2 - ${dl(0.001529)} * phi4)))"
      val neY =
        s"(${dl(1.007226)} + phi2 * (${dl(0.015085)} + phi4 * (${dl(-0.044475)} " +
          s"+ ${dl(0.028874)} * phi2 - ${dl(0.005916)} * phi4)))"
      val sinca = "(CASE WHEN alpha = 0.0 THEN 1.0 ELSE sin(alpha) / alpha END)"
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts),
         |t1 AS (SELECT id, lon, lat, (lon - 0.0) * $D2R AS lam, $phi AS phiv,
         |  $phi * $phi AS phi2 FROM ll),
         |t2 AS (SELECT *, phi2 * phi2 AS phi4,
         |  acos(cos(phiv) * cos(lam / 2.0)) AS alpha FROM t1)
         |SELECT id,
         |  CAST(floor((lam * $cosTs * $R) * 100.0) AS BIGINT) AS eqc_x,
         |  CAST(floor((phiv * $R) * 100.0) AS BIGINT) AS eqc_y,
         |  CAST(floor((lam * $cosTs * $R) * 100.0) AS BIGINT) AS cea_x,
         |  CAST(floor((sin(phiv) / $cosTs * $R) * 100.0) AS BIGINT) AS cea_y,
         |  CAST(floor(($R * lam * $nePoly) * 100.0) AS BIGINT) AS ne_x,
         |  CAST(floor(($R * phiv * $neY) * 100.0) AS BIGINT) AS ne_y,
         |  CAST(floor(($R * 0.5 * (lam * $cosPhi1
         |    + 2.0 * cos(phiv) * sin(lam / 2.0) / $sinca)) * 100.0) AS BIGINT) AS wt_x,
         |  CAST(floor(($R * 0.5 * (phiv + sin(phiv) / $sinca)) * 100.0) AS BIGINT) AS wt_y
         |FROM t2 ORDER BY id""".stripMargin
    },

    query("q_proj_azimuthal")((s, dir) => {
      import graft.geom.Crs
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
      def leg(name: String, proj: Crs.Proj): DataFrame = {
        val fwd = Proj.forward(col("lon"), col("lat"), proj)
        pts.where(SphericalClip.pointKeep(col("lon"), col("lat"), Crs.clipSpec(proj)))
          .select(col("id"), lit(name).as("proj"),
            floor(fwd(0) * 1000.0).cast("long").as("px_int"),
            floor(fwd(1) * 1000.0).cast("long").as("py_int"))
      }
      leg("gnom", Crs.Gnomonic(40.0, -100.0))
        .unionByName(leg("laea", Crs.Laea(-20.0, 60.0)))
        .unionByName(leg("ortho", Crs.Orthographic(15.0, 30.0)))
        .orderBy("proj", "id")
    }) {
      // azimuthal triple: per projection, the clip-angle filter and the
      // spherical forward are mirrored with the same constant folding and
      // left-associated op order as the Scala kernels
      val D2R = dl(Crs.D2R)
      def leg(name: String, lat0: Double, lon0: Double, angle: Double,
              xExpr: String => String, yExpr: String => String): String = {
        val sinP0 = dl(math.sin(lat0 * Crs.D2R))
        val cosP0 = dl(math.cos(lat0 * Crs.D2R))
        val thr = dl(math.cos(angle * Crs.D2R))
        val lam = s"((lon - ${dl(lon0)}) * $D2R)"
        val phi = s"(lat * $D2R)"
        // shared trig sub-terms, spelled exactly like the Scala kernels
        val core = s"($cosP0 * sin($phi) - $sinP0 * cos($phi) * cos($lam))"
        val keep = s"$sinP0 * sin($phi) + $cosP0 * cos($phi) * cos($lam) >= $thr"
        s"""SELECT id, '$name' AS proj,
           |  CAST(floor((${xExpr(lam)}) * 1000.0) AS BIGINT) AS px_int,
           |  CAST(floor((${yExpr(core)}) * 1000.0) AS BIGINT) AS py_int
           |FROM ll WHERE $keep""".stripMargin
      }
      val R = dl(Crs.A)
      def trig(lat0: Double, lon0: Double): (String, String, String, String) = {
        val sinP0 = dl(math.sin(lat0 * Crs.D2R))
        val cosP0 = dl(math.cos(lat0 * Crs.D2R))
        (sinP0, cosP0, s"((lon - ${dl(lon0)}) * $D2R)", s"(lat * $D2R)")
      }
      def orthoLeg =
        leg("ortho", 15.0, 30.0, 89.85,
          lam => s"$R * cos(lat * $D2R) * sin($lam)",
          core => s"$R * $core")
      def gnomLeg = {
        val (sinP0, cosP0, lam, phi) = trig(40.0, -100.0)
        val cosC = s"($sinP0 * sin($phi) + $cosP0 * cos($phi) * cos($lam))"
        leg("gnom", 40.0, -100.0, 60.0,
          l => s"$R * cos(lat * $D2R) * sin($l) / $cosC",
          core => s"$R * $core / $cosC")
      }
      def laeaLeg = {
        val (sinP0, cosP0, lam, phi) = trig(-20.0, 60.0)
        val k = s"sqrt(2.0 / (1.0 + $sinP0 * sin($phi) + $cosP0 * cos($phi) * cos($lam)))"
        leg("laea", -20.0, 60.0, 179.0,
          l => s"$R * $k * cos(lat * $D2R) * sin($l)",
          core => s"$R * $k * $core")
      }
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts)
         |SELECT * FROM (
         |$gnomLeg
         |UNION ALL
         |$laeaLeg
         |UNION ALL
         |$orthoLeg
         |) ORDER BY proj, id""".stripMargin
    },

    // rotated-antimeridian path cut (Mercator lon0=150 cuts at lon=-30):
    // per part, the vertex count and the exact interpolated first latitude
    query("q_proj_cut")((s, dir) => {
      val verts = points(s, dir).where(col("id") >= 1 && col("id") <= 300)
        .select((col("id") % 30).as("pid"), col("id"),
          (col("x") * 3.6 - 180.0).as("lon"), (col("y") * 1.7 - 85.0).as("lat"))
      val paths = verts
        .groupBy("pid")
        .agg(sort_array(collect_list(struct(col("id"), col("lon"), col("lat")))).as("vs"))
        .select(col("pid"),
          flatten(transform(col("vs"), v => array(v.getField("lon"), v.getField("lat")))).as("path"))
      SphericalClip.prepare(paths, "pid", "path",
          graft.geom.Crs.clipSpec(graft.geom.Crs.Mercator(150.0)))
        .select(col("id").as("pid"), col("part").cast("long").as("part"),
          (size(col("path")) / 2).cast("long").as("n_vertices"),
          floor(element_at(col("path"), 2) * 1000000.0).cast("long").as("lat0_int"))
        .orderBy("pid", "part")
    })(
      // antimeridian path cut: crossings, part ids, vertex counts, and the
      // exact linear-interpolated cut latitudes — pure arithmetic mirror
      s"""WITH $ptsSql,
         |v AS (SELECT id % 30 AS pid, id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat
         |  FROM pts WHERE id >= 1 AND id <= 300),
         |o AS (SELECT pid, id, lon, lat,
         |  row_number() OVER (PARTITION BY pid ORDER BY id) AS seq FROM v),
         |seg AS (SELECT a.pid, a.seq, a.lon AS lon1, a.lat AS lat1,
         |    b.lon AS lon2, b.lat AS lat2,
         |    CASE WHEN (a.lon - (-30.0) > 0 AND b.lon - (-30.0) < 0)
         |      OR (a.lon - (-30.0) < 0 AND b.lon - (-30.0) > 0) THEN 1 ELSE 0 END AS crossing
         |  FROM o a JOIN o b ON a.pid = b.pid AND b.seq = a.seq + 1),
         |cr AS (SELECT pid, seq,
         |    lat1 + ((-30.0) - lon1) / (lon2 - lon1) * (lat2 - lat1) AS clat,
         |    row_number() OVER (PARTITION BY pid ORDER BY seq) AS cnum
         |  FROM seg WHERE crossing = 1),
         |pv AS (SELECT o.pid, o.seq, o.lat,
         |    CAST(coalesce(SUM(s.crossing) OVER (PARTITION BY o.pid ORDER BY o.seq), 0)
         |      AS BIGINT) AS part
         |  FROM o LEFT JOIN seg s ON s.pid = o.pid AND s.seq = o.seq - 1),
         |mx AS (SELECT pid, max(part) AS maxp FROM pv GROUP BY pid),
         |parts AS (SELECT pid, part, count(*) AS norig,
         |    min(CASE WHEN seq = (SELECT min(seq) FROM pv p2
         |      WHERE p2.pid = pv.pid AND p2.part = pv.part) THEN lat END) AS lat_first
         |  FROM pv GROUP BY pid, part)
         |SELECT p.pid, p.part,
         |  CAST(p.norig + (CASE WHEN p.part > 0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN p.part < m.maxp THEN 1 ELSE 0 END) AS BIGINT) AS n_vertices,
         |  CAST(floor((CASE WHEN p.part = 0 THEN p.lat_first ELSE c.clat END)
         |    * 1000000.0) AS BIGINT) AS lat0_int
         |FROM parts p JOIN mx m USING (pid)
         |LEFT JOIN cr c ON c.pid = p.pid AND c.cnum = p.part
         |ORDER BY p.pid, p.part""".stripMargin),

    query("q_proj_crs")((s, dir) => {
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
      val fa = Proj.forward(col("lon"), col("lat"), crsAea)
      val fl = Proj.forward(col("lon"), col("lat"), crsLcc)
      val fu = graft.functions.SpatialExprs.utmForward(col("lon"), col("lat"))
      val fq = Proj.forward(col("lon"), col("lat"), crsAeqd)
      pts.select(col("id"),
          floor(fa(0) * 100.0).cast("long").as("aea_x"),
          floor(fa(1) * 100.0).cast("long").as("aea_y"),
          floor(fl(0) * 100.0).cast("long").as("lcc_x"),
          floor(fl(1) * 100.0).cast("long").as("lcc_y"),
          floor(fu(0) * 100.0).cast("long").as("utm_x"),
          floor(fu(1) * 100.0).cast("long").as("utm_y"),
          floor(fq(0) * 100.0).cast("long").as("adq_x"),
          floor(fq(1) * 100.0).cast("long").as("adq_y"))
        .orderBy("id")
    })(
      projCrsSql),

    // densified path reprojection (sinusoidal): inserted-vertex counts are
    // exact — the bisection recursion is mirrored by a recursive CTE
    query("q_proj_path")((s, dir) => {
      import s.implicits._
      val layer = Synthetic.polygonLayer(32, seed = 11L, holeEvery = 0)
      val rings = (0 until layer.numRings).map(r => (r.toLong, layer.ring(r))).toDF("ring_id", "ring")
      val proj = Crs.Sinusoidal()
      val cntUdf = udf { (flat: Seq[Double]) =>
        val ll = new Array[Double](flat.length)
        var i = 0
        while (i + 1 < flat.length) {
          ll(i) = flat(i) * 3.6 - 180.0
          ll(i + 1) = flat(i + 1) * 1.7 - 85.0
          i += 2
        }
        (Crs.projectPathDensified(ll, proj, 20000.0).length / 2).toLong
      }
      rings.select(col("ring_id"),
          (size(col("ring")) / 2).cast("long").as("n_before"),
          cntUdf(col("ring")).as("n_after"))
        .orderBy("ring_id")
    })(
      projPathSql),

    // world projections behind the `+proj=` string front-end (Robinson,
    // Mollweide, sinusoidal, Equal Earth, polar stereographic) — parser and
    // forwards both verified by the cm-exact DuckDB mirror
    query("q_proj_world")((s, dir) => {
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
      val fr = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("robinson"))
      val fm = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=moll"))
      val fs = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=sinu"))
      val fe = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=eqearth"))
      val ft = Proj.forward(col("lon"), col("lat"), Crs.fromProj4("+proj=stere +lat_0=90 +lon_0=0"))
      pts.select(col("id"),
          floor(fr(0) * 100.0).cast("long").as("robin_x"),
          floor(fr(1) * 100.0).cast("long").as("robin_y"),
          floor(fm(0) * 100.0).cast("long").as("moll_x"),
          floor(fm(1) * 100.0).cast("long").as("moll_y"),
          floor(fs(0) * 100.0).cast("long").as("sinu_x"),
          floor(fs(1) * 100.0).cast("long").as("sinu_y"),
          floor(fe(0) * 100.0).cast("long").as("eqe_x"),
          floor(fe(1) * 100.0).cast("long").as("eqe_y"),
          floor(ft(0) * 100.0).cast("long").as("stere_x"),
          floor(ft(1) * 100.0).cast("long").as("stere_y"))
        .orderBy("id")
    })(
      projWorldSql),

    // ellipsoidal geodesic inverse (Vincenty): distance to the meter and
    // azimuth to 1e-4 degree on 30 derived pairs — the SQL mirror unrolls
    // the lambda iteration to a fixed 8 rounds (the operator iterates to
    // 1e-13; the guard absorbs the sub-micrometer tail difference)
    query("q_geodesic")((s, dir) => {
      val invUdf = udf { (lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
        val (dist, azi) = graft.geom.Crs.geodesicInverse(lat1, lon1, lat2, lon2)
        (math.floor(dist).toLong, math.floor(azi * 10000.0).toLong)
      }
      points(s, dir).where(col("id") <= 30)
        .select(col("id"),
          ((col("y") - 50.0) * 1.2).as("lat1"),
          ((col("x") - 50.0) * 3.2).as("lon1"),
          (derivedY(col("id") * 57 + 3) / 10.0 - 5.0).as("dlat"),
          (derivedX(col("id") * 31 + 17) / 10.0 - 5.0).as("dlon"))
        .select(col("id"),
          invUdf(col("lat1"), col("lon1"),
            col("lat1") + col("dlat"), col("lon1") + col("dlon")).as("r"))
        .select(col("id"), col("r._1").as("dist_m"), col("r._2").as("azi_int"))
        .orderBy("id")
    }) {
      // Vincenty inverse geodesic, lambda iteration unrolled to 8 fixed rounds
      // (operator converges to 1e-13 in <=5 on these +-5 degree pairs; the
      // meter/1e-4-degree floors absorb the tail). All constants are exact
      // double literals; every expression mirrors the Scala op order.
      val fC = dl(graft.geom.Crs.F)
      val aC = dl(graft.geom.Crs.A)
      val bC = dl(graft.geom.Crs.B)
      val rounds = (1 to 8).map { k =>
        s"""g$k AS MATERIALIZED (SELECT id, L, sinU1, cosU1, sinU2, cosU2,
           |  sin(lambda) AS sinL, cos(lambda) AS cosL,
           |  cosU2 * sinL AS t1,
           |  cosU1 * sinU2 - sinU1 * cosU2 * cosL AS t2,
           |  sqrt(t1 * t1 + t2 * t2) AS sinSigma,
           |  sinU1 * sinU2 + cosU1 * cosU2 * cosL AS cosSigma,
           |  atan2(sinSigma, cosSigma) AS sigma,
           |  cosU1 * cosU2 * sinL / sinSigma AS sinAlpha,
           |  1.0 - sinAlpha * sinAlpha AS cos2Alpha,
           |  CASE WHEN cos2Alpha = 0.0 THEN 0.0
           |    ELSE cosSigma - 2.0 * sinU1 * sinU2 / cos2Alpha END AS cos2SigmaM,
           |  $fC / 16.0 * cos2Alpha * (4.0 + $fC * (4.0 - 3.0 * cos2Alpha)) AS cf,
           |  L + (1.0 - cf) * $fC * sinAlpha * (sigma + cf * sinSigma *
           |    (cos2SigmaM + cf * cosSigma *
           |      (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM))) AS lambda
           |  FROM g${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $ptsSql,
         |pp AS (SELECT id,
         |  (y - 50.0) * 1.2 AS lat1, (x - 50.0) * 3.2 AS lon1,
         |  (y - 50.0) * 1.2 + (${derivedYSql("(id * 57 + 3)")} / 10.0 - 5.0) AS lat2,
         |  (x - 50.0) * 3.2 + (${derivedXSql("(id * 31 + 17)")} / 10.0 - 5.0) AS lon2
         |  FROM pts WHERE id <= 30),
         |base AS (SELECT id,
         |  (lon2 - lon1) * (pi() / 180.0) AS L,
         |  (1.0 - $fC) * tan(lat1 * (pi() / 180.0)) AS tanU1,
         |  1.0 / sqrt(1.0 + tanU1 * tanU1) AS cosU1,
         |  tanU1 * cosU1 AS sinU1,
         |  (1.0 - $fC) * tan(lat2 * (pi() / 180.0)) AS tanU2,
         |  1.0 / sqrt(1.0 + tanU2 * tanU2) AS cosU2,
         |  tanU2 * cosU2 AS sinU2
         |  FROM pp),
         |g0 AS MATERIALIZED (SELECT id, L, sinU1, cosU1, sinU2, cosU2, L AS lambda FROM base),
         |$rounds,
         |fin AS (SELECT id,
         |  cos2Alpha * ($aC * $aC - $bC * $bC) / ($bC * $bC) AS u2,
         |  1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2))) AS bigA,
         |  u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2))) AS bigB,
         |  bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
         |    (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
         |      bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
         |        (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM))) AS dSigma,
         |  $bC * bigA * (sigma - dSigma) AS s,
         |  atan2(cosU2 * sin(lambda),
         |    cosU1 * sinU2 - sinU1 * cosU2 * cos(lambda)) * (180.0 / pi()) AS azi
         |  FROM g8)
         |SELECT id, CAST(floor(s) AS BIGINT) AS dist_m,
         |  CAST(floor(azi * 10000.0) AS BIGINT) AS azi_int
         |FROM fin ORDER BY id""".stripMargin
    },

    // Vincenty DIRECT problem (the ellipsoidal AEQD inverse / buffer-ring
    // engine): destination at 1e-7 degree (~1 cm), azimuth at 1e-4 degree,
    // vs a 6-round fixed unroll in SQL
    query("q_geodesic_direct")((s, dir) => {
      val dirUdf = udf { (lat1: Double, lon1: Double, azi: Double, dist: Double) =>
        val (lon2, lat2, azi2) = graft.geom.Crs.geodesicDirect(lat1, lon1, azi, dist)
        (math.floor(lon2 * 10000000.0).toLong,
          math.floor(lat2 * 10000000.0).toLong,
          math.floor(azi2 * 10000.0).toLong)
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 30)
        .select(col("id"),
          ((col("y") - 50.0) * 1.2).as("lat1"),
          ((col("x") - 50.0) * 3.2).as("lon1"),
          ((col("id") * 97) % 360).cast("double").as("azi"),
          (((col("id") * 131) % 5000) * 1000 + 500).cast("double").as("dist"))
        .select(col("id"),
          dirUdf(col("lat1"), col("lon1"), col("azi"), col("dist")).as("r"))
        .select(col("id"), col("r._1").as("lon2_int"), col("r._2").as("lat2_int"),
          col("r._3").as("azi2_int"))
        .orderBy("id")
    })(
      // Vincenty direct, sigma iteration unrolled to 6 fixed rounds (the
      // operator converges to 1e-14 in <=4 on these <=5000 km shots; the
      // 1e-7-degree floor absorbs the tail)
      s"""WITH $ptsSql,
         |pp AS (SELECT id,
         |  (y - 50.0) * 1.2 AS lat1, (x - 50.0) * 3.2 AS lon1,
         |  CAST((id * 97) % 360 AS DOUBLE) AS azi,
         |  CAST(((id * 131) % 5000) * 1000 + 500 AS DOUBLE) AS s
         |  FROM pts WHERE id >= 1 AND id <= 30),
         |${vincentyChainSql(Seq("id"))}
         |SELECT id,
         |  CAST(floor((lon1 + l * (180.0 / pi())) * 10000000.0) AS BIGINT) AS lon2_int,
         |  CAST(floor(phi2 * (180.0 / pi()) * 10000000.0) AS BIGINT) AS lat2_int,
         |  CAST(floor(azi2 * (180.0 / pi()) * 10000.0) AS BIGINT) AS azi2_int
         |FROM fin ORDER BY id""".stripMargin),

    // -buffer on ellipsoidal CRS: the geodesic point-buffer ring — one
    // Vincenty direct shot per bearing (ref mapshaper-geodesic.mjs:92-99);
    // all 8 ring vertices mirrored through the same 6-round chain
    query("q_buffer_geodesic")((s, dir) => {
      val ringUdf = udf { (lat: Double, lon: Double, r: Double) =>
        Buffer.geodesicPointBufferRingEllipsoidal(lon, lat, r, nSeg = 8)
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 30)
        .select(col("id"),
          ((col("y") - 50.0) * 1.2).as("lat"),
          ((col("x") - 50.0) * 3.2).as("lon"),
          ((col("id") % 7).cast("double") * 25000.0 + 5000.0).as("r"))
        .withColumn("ring", ringUdf(col("lat"), col("lon"), col("r")))
        .withColumn("k", explode(sequence(lit(0), lit(7))))
        .select(col("id"), col("k").cast("long").as("k"),
          floor(element_at(col("ring"), col("k") * 2 + 1) * 10000000.0)
            .cast("long").as("lon_int"),
          floor(element_at(col("ring"), col("k") * 2 + 2) * 10000000.0)
            .cast("long").as("lat_int"))
        .orderBy("id", "k")
    })(
      // geodesic point-buffer ring = one Vincenty direct shot per bearing
      // (ref mapshaper-geodesic.mjs:92-99): same 6-round chain, keyed (id, k)
      s"""WITH $ptsSql,
         |pp0 AS (SELECT id,
         |  (y - 50.0) * 1.2 AS lat1, (x - 50.0) * 3.2 AS lon1,
         |  CAST(id % 7 AS DOUBLE) * 25000.0 + 5000.0 AS s
         |  FROM pts WHERE id >= 1 AND id <= 30),
         |ks AS (SELECT k FROM generate_series(0, 7) t(k)),
         |pp AS (SELECT id, k, lat1, lon1,
         |  360.0 * CAST(k AS DOUBLE) / 8.0 AS azi, s FROM pp0, ks),
         |${vincentyChainSql(Seq("id", "k"))}
         |SELECT id, CAST(k AS BIGINT) AS k,
         |  CAST(floor((lon1 + l * (180.0 / pi())) * 10000000.0) AS BIGINT) AS lon_int,
         |  CAST(floor(phi2 * (180.0 / pi()) * 10000000.0) AS BIGINT) AS lat_int
         |FROM fin ORDER BY id, k""".stripMargin),

    // -proj albersusa: the composite forward — first-match bbox routing
    // across CONUS/AK/HI frames, per-frame ellipsoidal Albers, inset
    // scale-about-origin + placement affine — mirrored end to end with
    // constants interpolated from the same Frame objects
    query("q_albersusa")((s, dir) => {
      val p = graft.geom.Crs.AlbersUsa()
      val frames = Seq(graft.geom.Crs.AlbersUsa.Main,
        graft.geom.Crs.AlbersUsa.AK, graft.geom.Crs.AlbersUsa.HI)
      val fwd = udf { (lon: Double, lat: Double) =>
        val fi = frames.indexWhere(_.contains(lon, lat))
        if (fi < 0) (-1L, 0L, 0L)
        else {
          val (x, y) = p.forward(lon, lat)
          (fi.toLong, math.floor(x * 100.0).toLong, math.floor(y * 100.0).toLong)
        }
      }
      points(s, dir)
        .select(col("id"), (col("x") * 1.2 - 180.0).as("lon"),
          (col("y") * 0.6 + 15.0).as("lat"))
        .withColumn("r", fwd(col("lon"), col("lat")))
        .filter(col("r._1") >= 0)
        .select(col("id"), col("r._1").as("frame"),
          col("r._2").as("x_int"), col("r._3").as("y_int"))
        .orderBy("id")
    })(
      albersUsaSql),

    // spherical geodesic point-buffer ring: 32 direct-problem vertices per
    // point, 1e-7-degree floors
    query("q_geodesic_ring")((s, dir) => {
      val ringUdf = udf { (lon: Double, lat: Double, radius: Double) =>
        graft.operators.Buffer.geodesicPointBufferRing(lon, lat, radius).toSeq
      }
      points(s, dir).where(col("id") >= 1 && col("id") <= 10)
        .select(col("id"),
          ((col("x") - 50.0) * 3.2).as("lon"), ((col("y") - 50.0) * 1.2).as("lat"),
          (((col("id") * 37) % 900) * 1000 + 10000).cast("double").as("radius"))
        .select(col("id"), posexplode(ringUdf(col("lon"), col("lat"), col("radius"))))
        .groupBy(col("id"), (col("pos") / 2).cast("long").as("vi"))
        .agg(min(when(col("pos") % 2 === 0, floor(col("col") * 10000000.0))).cast("long").as("lon_int"),
          min(when(col("pos") % 2 === 1, floor(col("col") * 10000000.0))).cast("long").as("lat_int"))
        .orderBy("id", "vi")
    })(
      // spherical geodesic buffer ring: the direct problem at 32 bearings,
      // identical op order, 1e-7-degree floors
      s"""WITH $ptsSql,
         |pp AS (SELECT id, (x - 50.0) * 3.2 AS lon, (y - 50.0) * 1.2 AS lat,
         |  CAST(((id * 37) % 900) * 1000 + 10000 AS DOUBLE) AS radius
         |  FROM pts WHERE id >= 1 AND id <= 10),
         |vs AS (SELECT vi FROM generate_series(0, 32) t(vi)),
         |b AS (SELECT id, vi,
         |  lat * (pi() / 180.0) AS phi, lon * (pi() / 180.0) AS lam,
         |  radius / ${dl(6371008.8)} AS delta,
         |  2.0 * pi() * CAST(vi % 32 AS DOUBLE) / 32.0 AS theta
         |  FROM pp, vs),
         |c AS (SELECT id, vi, phi, lam, theta,
         |  sin(delta) AS sinD, cos(delta) AS cosD,
         |  sin(phi) AS sinP, cos(phi) AS cosP
         |  FROM b),
         |d AS (SELECT id, vi, lam, theta, sinD, cosD, sinP, cosP,
         |  sinP * cosD + cosP * sinD * cos(theta) AS sinLat2
         |  FROM c),
         |e AS (SELECT id, vi,
         |  asin(greatest(-1.0, least(1.0, sinLat2))) AS lat2,
         |  lam + atan2(sin(theta) * sinD * cosP, cosD - sinP * sinLat2) AS lon2
         |  FROM d)
         |SELECT id, CAST(vi AS BIGINT) AS vi,
         |  CAST(floor(lon2 / (pi() / 180.0) * 10000000.0) AS BIGINT) AS lon_int,
         |  CAST(floor(lat2 / (pi() / 180.0) * 10000000.0) AS BIGINT) AS lat_int
         |FROM e ORDER BY id, vi""".stripMargin),

    // SPHERICAL -simplify kernel: lon/lat -> XYZ on the R=6378137 sphere,
    // 3D Visvalingam thresholds in meters (the reference's default for
    // unprojected data), mm floor guard
    query("q_simplify_sph")((s, dir) => {
      val path = points(s, dir).where(col("id") >= 1 && col("id") <= 20)
        .groupBy(lit(1).as("g"))
        .agg(array_sort(collect_list(struct(col("id"),
          ((col("x") - 50.0) * 3.2).as("lon"),
          ((col("y") - 50.0) * 1.2).as("lat")))).as("pts"))
        .select(flatten(transform(col("pts"),
          p => array(p.getField("lon"), p.getField("lat")))).as("ring"))
      // lon within ±160, lat within ±60: world-edge protection locks nothing
      SimplifyOp.withSphericalThresholds(path, "ring", graft.geom.Simplify.Visvalingam)
        .select(posexplode(col("thresholds")))
        .where(col("pos") >= 1 && col("pos") <= 18)
        .select((col("pos") + 1).cast("long").as("vi"),
          floor(col("col") * 1000.0).cast("long").as("thr_mm"))
        .orderBy("vi")
    }) {
      // spherical -simplify kernel: XYZ projection + 3D Visvalingam unrolled
      // to the exact 18 removals; det arithmetic mirrors Geom.triangleArea3D
      // term order, removal thresholds = prefix max, mm floors
      val c65 = dl(0.65)
      def det(a1: String, a2: String, b1: String, b2: String, c1: String, c2: String) =
        s"($a1 * $b2 - $a1 * $c2 + $b1 * $c2 - $b1 * $a2 + $c1 * $a2 - $c1 * $b2)"
      val dxy = det("px", "py", "x", "y", "nx", "ny")
      val dxz = det("px", "pz", "x", "z", "nx", "nz")
      val dyz = det("py", "pz", "y", "z", "ny", "nz")
      val areaExpr =
        s"0.5 * sqrt($dxy * $dxy + $dxz * $dxz + $dyz * $dyz)"
      val rounds = (1 to 18).map { k =>
        s"""a$k AS (SELECT idx, x, y, z,
           |  lag(x) OVER (ORDER BY idx) AS px, lag(y) OVER (ORDER BY idx) AS py,
           |  lag(z) OVER (ORDER BY idx) AS pz,
           |  lead(x) OVER (ORDER BY idx) AS nx, lead(y) OVER (ORDER BY idx) AS ny,
           |  lead(z) OVER (ORDER BY idx) AS nz
           |  FROM s${k - 1} WHERE alive),
           |m$k AS MATERIALIZED (SELECT idx AS rem, $areaExpr AS v
           |  FROM a$k WHERE px IS NOT NULL AND nx IS NOT NULL
           |  ORDER BY v, idx LIMIT 1),
           |s$k AS MATERIALIZED (SELECT s.idx, s.x, s.y, s.z,
           |  s.alive AND s.idx <> m.rem AS alive
           |  FROM s${k - 1} s, m$k m)""".stripMargin
      }.mkString(",\n")
      val rec = (1 to 18).map(k => s"SELECT $k AS k, rem, v FROM m$k")
        .mkString("\nUNION ALL ")
      s"""WITH $ptsSql,
         |ll AS (SELECT id AS idx, (x - 50.0) * 3.2 AS lon, (y - 50.0) * 1.2 AS lat
         |  FROM pts WHERE id >= 1 AND id <= 20),
         |s0 AS MATERIALIZED (SELECT idx,
         |  cos(lon * pi() / 180.0) * cos(lat * pi() / 180.0) * 6378137.0 AS x,
         |  sin(lon * pi() / 180.0) * cos(lat * pi() / 180.0) * 6378137.0 AS y,
         |  sin(lat * pi() / 180.0) * 6378137.0 AS z,
         |  TRUE AS alive FROM ll),
         |$rounds,
         |rec AS ($rec),
         |thr AS (SELECT rem AS vi, max(v) OVER (ORDER BY k) AS t FROM rec)
         |SELECT CAST(vi AS BIGINT) AS vi,
         |  CAST(floor(sqrt(t) * $c65 * 1000.0) AS BIGINT) AS thr_mm
         |FROM thr ORDER BY vi""".stripMargin
    },

    // -projections listing: every +proj= id the catalog advertises must be
    // exactly the reference's own registry (mapshaper-projections.mjs:14-60
    // + the dymaxion/butterfly/narukawa/lee registrations) — the oracle is
    // an independent hand-transcribed VALUES list of those 27 ids
    query("q_projections")((s, dir) => {
      import s.implicits._
      Graft.projections.map(_._1).toDF("proj_id").orderBy("proj_id")
    })(
      // hand-transcribed from the reference registry: the 27 ids its own src
      // registers (mapshaper-projections.mjs:14-60 aliases + projection-index
      // + the dymaxion/butterfly/narukawa/lee register* calls)
      """SELECT proj_id FROM (VALUES
        |  ('aea'),('aeqd'),('butterfly'),('butterfly2'),('cahill_keyes'),
        |  ('calm'),('cea'),('dymaxion'),('dymaxion2'),('eqc'),('eqearth'),
        |  ('gnom'),('laea'),('lcc'),('longlat'),('markley'),('merc'),
        |  ('moll'),('natearth'),('narukawa2022'),('ortho'),('robin'),
        |  ('sinu'),('stere'),('tmerc'),('utm'),('wintri')) t(proj_id)
        |ORDER BY proj_id""".stripMargin),

    // GENERIC mixed/compound projection (the reference's MixedProjection
    // machinery exposed for user-defined insets, mapshaper-mixed-projection
    // .mjs): first-match bbox routing into 3 frames — sinusoidal main,
    // a rotated+scaled+shifted Mercator inset (exercising the full Matrix2D
    // rotate-about -> scale-about -> translate chain), and a scale-only
    // Mercator inset. The oracle re-DERIVES the whole affine from the raw
    // frame literals in SQL (origin forward, rotation trig, accumulator op
    // order), unlike q_albersusa which interpolates the engine's constants.
    query("q_mixed")((s, dir) => {
      import graft.geom.{Crs, Mixed}
      val mixed = Crs.MixedProj(Vector(
        Mixed.Frame(Crs.Sinusoidal(0.0), (-30.0, -40.0, 30.0, 40.0)),
        Mixed.Frame(Crs.Mercator(0.0), (30.0, -40.0, 90.0, 40.0),
          origin = Some((60.0, 10.0)), placement = Some((2000000.0, -1000000.0)),
          dx = 1000.0, dy = -500.0, scale = 0.5, rotationDeg = 30.0),
        Mixed.Frame(Crs.Mercator(0.0), (-180.0, -80.0, -30.0, 80.0),
          origin = Some((-90.0, 0.0)), placement = Some((-4000000.0, 0.0)),
          scale = 2.0)))
      val fwd = udf { (lon: Double, lat: Double) =>
        val fi = mixed.frames.indexWhere(_.contains(lon, lat))
        if (fi < 0) (-1L, 0L, 0L)
        else {
          val (xx, yy) = mixed.forward(lon, lat)
          (fi.toLong, math.floor(xx * 100.0).toLong, math.floor(yy * 100.0).toLong)
        }
      }
      points(s, dir)
        .select(col("id"), (col("x") * 2.7 - 180.0).as("lon"),
          (col("y") * 0.8 - 40.0).as("lat"))
        .withColumn("r", fwd(col("lon"), col("lat")))
        .filter(col("r._1") >= 0)
        .select(col("id"), col("r._1").as("frame"),
          col("r._2").as("x_int"), col("r._3").as("y_int"))
        .orderBy("id")
    })(
      // the Matrix2D chain from raw literals: rotate-about(ox,oy) then
      // scale-about then translate, each accumulator term in the engine's
      // exact op order; mercator/sinusoidal forwards inline (same op order
      // as Crs); floor x100 = cm-exact
      s"""WITH $ptsSql,
         |ll AS (SELECT id, x * 2.7 - 180.0 AS lon, y * 0.8 - 40.0 AS lat FROM pts),
         |fr AS (SELECT id, lon, lat, CASE
         |    WHEN lon >= -30.0 AND lon <= 30.0 AND lat >= -40.0 AND lat <= 40.0 THEN 0
         |    WHEN lon >= 30.0 AND lon <= 90.0 AND lat >= -40.0 AND lat <= 40.0 THEN 1
         |    WHEN lon >= -180.0 AND lon <= -30.0 AND lat >= -80.0 AND lat <= 80.0 THEN 2
         |    ELSE -1 END AS frame FROM ll),
         |k0 AS (SELECT
         |    (30.0 * pi()) / 180.0 AS q,
         |    ((60.0 - 0.0) * (pi() / 180.0)) * 6378137.0 AS ox1,
         |    ln(tan(pi() / 4.0 + ((10.0 * (pi() / 180.0)) / 2.0))) * 6378137.0 AS oy1,
         |    ((-90.0 - 0.0) * (pi() / 180.0)) * 6378137.0 AS ox2,
         |    ln(tan(pi() / 4.0 + ((0.0 * (pi() / 180.0)) / 2.0))) * 6378137.0 AS oy2),
         |k1 AS (SELECT *, cos(q) AS cq, sin(q) AS sq FROM k0),
         |k2 AS (SELECT *,
         |    cq * 0.5 AS a1, sq * 0.5 AS b1, (-sq) * 0.5 AS c1, cq * 0.5 AS d1,
         |    (((ox1 - ox1 * cq) + oy1 * sq) - ox1 * (0.5 - 1.0))
         |      + ((2000000.0 - ox1) + 1000.0) AS tx1,
         |    (((oy1 - ox1 * sq) - oy1 * cq) - oy1 * (0.5 - 1.0))
         |      + ((-1000000.0 - oy1) + (-500.0)) AS ty1,
         |    (0.0 - ox2 * (2.0 - 1.0)) + ((-4000000.0 - ox2) + 0.0) AS tx2,
         |    (0.0 - oy2 * (2.0 - 1.0)) + ((0.0 - oy2) + 0.0) AS ty2
         |  FROM k1),
         |pm AS (SELECT id, frame,
         |    ((lon - 0.0) * (pi() / 180.0)) * cos(lat * (pi() / 180.0)) * 6378137.0 AS s_x,
         |    (lat * (pi() / 180.0)) * 6378137.0 AS s_y,
         |    ((lon - 0.0) * (pi() / 180.0)) * 6378137.0 AS m_x,
         |    ln(tan(pi() / 4.0 + ((lat * (pi() / 180.0)) / 2.0))) * 6378137.0 AS m_y
         |  FROM fr WHERE frame >= 0)
         |SELECT id, CAST(frame AS BIGINT) AS frame,
         |  CAST(floor((CASE frame
         |    WHEN 0 THEN s_x * 1.0 + s_y * 0.0 + 0.0
         |    WHEN 1 THEN m_x * a1 + m_y * c1 + tx1
         |    ELSE m_x * 2.0 + m_y * 0.0 + tx2 END) * 100.0) AS BIGINT) AS x_int,
         |  CAST(floor((CASE frame
         |    WHEN 0 THEN s_x * 0.0 + s_y * 1.0 + 0.0
         |    WHEN 1 THEN m_x * b1 + m_y * d1 + ty1
         |    ELSE m_x * 0.0 + m_y * 2.0 + ty2 END) * 100.0) AS BIGINT) AS y_int
         |FROM pm, k2 ORDER BY id""".stripMargin),

    // POLYHEDRAL SEAM CUTTING (the reference's __projection_topology role,
    // mapshaper-spherical-cutting.mjs): lon/lat paths bisection-cut where
    // the projection's region id changes, so no part straddles an unfolded
    // sheet. Fixture: 50 paths marching 38.3°/step across the Cahill-Keyes
    // octant boundaries (every 45° of longitude). The oracle replays the
    // ENTIRE pipeline — the CK octant/side region arithmetic, the 40-
    // halving bisection per crossing segment (recursive CTE, identical FP
    // interpolation), and the part assembly with per-part lo/hi boundary
    // vertices — and compares part counts + first/last coordinates at 1e-9°.
    query("q_seam_cut")((s, dir) => {
      import graft.geom.Crs
      val p = Crs.ButterflyProj("cahill_keyes", 0.0)
      val mkPath = udf { (g: Long) =>
        val lon0 = -170.0 + (g % 7).toDouble * 3.7
        val lat0 = 5.0 + (g % 5).toDouble * 6.1
        (0 until 8).flatMap(j => Seq(lon0 + j * 38.3, lat0 + j * 0.9))
      }
      val paths = points(s, dir).select((col("id") % 50).as("g")).distinct()
        .withColumn("path", mkPath(col("g")))
      SphericalClip.prepare(paths, "g", "path", Crs.CutAtFaceSeams(p.regionAt))
        .select(col("id").as("g"), col("part").cast("long").as("part"),
          (size(col("path")) / 2).cast("long").as("n_pts"),
          floor(element_at(col("path"), 1) * 1000000000.0).cast("long").as("x0_int"),
          floor(element_at(col("path"), 2) * 1000000000.0).cast("long").as("y0_int"),
          floor(element_at(col("path"), size(col("path")) - 1) * 1000000000.0)
            .cast("long").as("x1_int"),
          floor(element_at(col("path"), size(col("path"))) * 1000000000.0)
            .cast("long").as("y1_int"))
        .orderBy("g", "part")
    })(
      seamCutSql)
  )
}
