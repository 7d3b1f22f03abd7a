package graft
package entry

import org.apache.spark.sql.functions._

import graft.entry.Fixtures._
import graft.entry.Query.query

/**
 * Polyhedral and interrupted world projections: Dymaxion, Butterfly,
 * Cahill-Keyes, Narukawa and Lee, each mirrored step by step in SQL.
 */
private[graft] object PolyhedralQueries {

  /** The q_cahill mirror (verified cell-exact against the engine during
   * authoring): the ENTIRE Cahill-Keyes construction re-derived in SQL —
   * master-layout constants (M/G/N/A/B/D/E/F/T via tan-slope line
   * intersections, the parallel-73/75 lengths, the torrid circular arc's
   * center/radius from the m=29 probe), then per point: ll2mp octant
   * routing, the 12-zone dispatch with its joint/segment interpolations and
   * circle-line l15 split, and the rot60/rot120 octant placement. All
   * distances are sqrt-of-squares on both sides (the kernel avoids hypot for
   * exactly this mirror). Output floor-scaled at 1e2 to absorb the <=1ulp
   * JVM-vs-libm transcendental drift. */
  private lazy val cahillSql: String = {
    val DR = "(pi() / 180.0)"
    def dist(ax: String, ay: String, bx: String, by: String): String =
      s"sqrt((($ax) - ($bx)) * (($ax) - ($bx)) + (($ay) - ($by)) * (($ay) - ($by)))"
    def interpX(l: String, total: String, sx: String, sy: String, ex: String, ey: String): String =
      s"(($sx) + (($ex) - ($sx)) * ($l) / ($total))"
    def interpY(l: String, total: String, sx: String, sy: String, ex: String, ey: String): String =
      s"(($sy) + (($ey) - ($sy)) * ($l) / ($total))"
    def jeX(m: String): String =
      s"CASE WHEN dmeq * ($m) <= lgf THEN mg " +
        s"ELSE ${interpX(s"dmeq * ($m) - lgf", "lab", "mg", "fy", "ex", "ey")} END"
    def jeY(m: String): String =
      s"CASE WHEN dmeq * ($m) <= lgf THEN dmeq * ($m) " +
        s"ELSE ${interpY(s"dmeq * ($m) - lgf", "lab", "mg", "fy", "ex", "ey")} END"
    def jtX(jex: String, jey: String, m: String): String = {
      val m1 = s"tan((2 * ($m) / 3) * $DR)"
      val m2 = s"tan((($m) / 3) * $DR)"
      s"(($m1) * 0.0 - ($m2) * ($jex) - 0.0 + ($jey)) / (($m1) - ($m2))"
    }
    def jtY(jtx: String, m: String): String =
      s"tan((2 * ($m) / 3) * $DR) * (($jtx) - 0.0) + 0.0"
    def jfX(m: String): String = {
      val m1 = s"tan(($m) * $DR)"
      val m2 = s"tan((2 * ($m) / 3) * $DR)"
      s"CASE WHEN ($m) = 0 THEN ma + lab " +
        s"ELSE (($m1) * ma - ($m2) * 0.0 - 0.0 + 0.0) / (($m1) - ($m2)) END"
    }
    def jfY(jfx: String, m: String): String =
      s"CASE WHEN ($m) = 0 THEN 0.0 ELSE tan(($m) * $DR) * (($jfx) - ma) + 0.0 END"
    val p75x45 = s"ma + ap75 * cos(45 * $DR)"
    val p75y45 = s"0.0 + ap75 * sin(45 * $DR)"
    val lF75H = dist("bx", "by", p75x45, p75y45)
    val lFH = dist("tx", "ty", "bx", "by")
    val lH = s"(75 - p) * ($lF75H + $lFH) / 2"
    val lF75J = dist("jfx", "jfy", "p75x", "p75y")
    val lJ = s"(75 - p) * ($lF75J - lfp) / 2"
    val lI = "p * (lt + lm + lfp) / 73"
    val lK = "p * l15 / 15"
    val lL = "l15 + (p - 15) * (lt + lm + lfp - l15) / 58"
    s"""WITH $ptsSql,
       |ck0 AS (SELECT
       |  CAST(10000.0 AS DOUBLE) AS mg,
       |  ${dl(0.094)} * 10000.0 AS ma,
       |  10000.0 / 100 AS p0to73,
       |  sqrt(3.0) AS k3,
       |  sqrt(3.0) / 2 AS sin60,
       |  CAST(0.5 AS DOUBLE) AS cos60,
       |  10000.0 * tan(30 * $DR) AS ny
       |),
       |ck1 AS (SELECT *,
       |  (mg - ma - p0to73 * 73) / 17 AS p73to90,
       |  (tan(30 * $DR) * 0.0 - tan(45 * $DR) * ma - 0.0 + 0.0) / (tan(30 * $DR) - tan(45 * $DR)) AS bx
       |  FROM ck0),
       |ck2 AS (SELECT *,
       |  tan(30 * $DR) * (bx - 0.0) + 0.0 AS by,
       |  15 * p73to90 AS ap75,
       |  mg - ma - p0to73 * 73 AS ap73
       |  FROM ck1),
       |ck3 AS (SELECT *,
       |  ${dist("ma", "0.0", "bx", "by")} AS lab,
       |  ${dist("0.0", "0.0", "bx", "by")} AS lmb,
       |  ${dist("0.0", "0.0", "mg", "ny")} AS lmn,
       |  ${dist("mg", "ny", "mg", "0.0")} AS lng
       |  FROM ck2),
       |ck4 AS (SELECT *,
       |  mg + (0.0 - mg) * lmb / lmn AS dx,
       |  ny + (0.0 - ny) * lmb / lmn AS dy,
       |  lng - lmb AS fy,
       |  mg - ma * sin(30 * $DR) AS ex,
       |  ny - ma * cos(30 * $DR) AS ey,
       |  ma + ap73 * cos(30 * $DR) AS ux,
       |  0.0 + ap73 * sin(30 * $DR) AS uy
       |  FROM ck3),
       |ck5 AS (SELECT *,
       |  ${dist("mg", "0.0", "mg", "fy")} AS lgf,
       |  (tan(-60 * $DR) * ux - tan(30 * $DR) * 0.0 - uy + 0.0) / (tan(-60 * $DR) - tan(30 * $DR)) AS tx
       |  FROM ck4),
       |ck6 AS (SELECT *,
       |  tan(-60 * $DR) * (tx - ux) + uy AS ty,
       |  (lgf + lab) / 45 AS dmeq
       |  FROM ck5),
       |c29a AS (SELECT *,
       |  ${jeX("29")} AS je29x, ${jeY("29")} AS je29y
       |  FROM ck6),
       |c29b AS (SELECT *, ${jtX("je29x", "je29y", "29")} AS jt29x FROM c29a),
       |c29c AS (SELECT *, ${jtY("jt29x", "29")} AS jt29y, ${jfX("29")} AS jf29x FROM c29b),
       |c29d AS (SELECT *, ${jfY("jf29x", "29")} AS jf29y,
       |  ma + ap73 * cos(29 * $DR) AS p73_29x,
       |  0.0 + ap73 * sin(29 * $DR) AS p73_29y
       |  FROM c29c),
       |c29e AS (SELECT *,
       |  ${dist("je29x", "je29y", "jt29x", "jt29y")} AS lt29,
       |  ${dist("jt29x", "jt29y", "jf29x", "jf29y")} AS lm29,
       |  ${dist("jf29x", "jf29y", "p73_29x", "p73_29y")} AS lf29
       |  FROM c29d),
       |c29f AS (SELECT *,
       |  15 * (lt29 + lm29 + lf29) / 73 - lt29 AS l29
       |  FROM c29e),
       |c29g AS (SELECT *,
       |  ${interpX("l29", "lm29", "jt29x", "jt29y", "jf29x", "jf29y")} AS vx,
       |  ${interpY("l29", "lm29", "jt29x", "jt29y", "jf29x", "jf29y")} AS vy
       |  FROM c29f),
       |c29h AS (SELECT *,
       |  (vx * vx + vy * vy - dx * dx - dy * dy)
       |    / (2 * (k3 * vx + vy - k3 * dx - dy)) AS ccy
       |  FROM c29g),
       |ckc AS (SELECT *, k3 * ccy AS ccx,
       |  ${dist("k3 * ccy", "ccy", "dx", "dy")} AS crad
       |  FROM c29h),
       |p0 AS (SELECT id, x * 3.6 - 180.0 AS lon, y * 1.7 - 85.0 AS lat FROM pts),
       |p1 AS (SELECT id, lon, lat,
       |  CAST(floor((lon + 180) / 90 + 1) AS INT) AS oct0,
       |  (lon + 720) % 90 - 45 AS mer0
       |  FROM p0),
       |p2 AS (SELECT id, lat,
       |  CASE WHEN mer0 < 0 THEN -1.0 WHEN mer0 > 0 THEN 1.0 ELSE 0.0 END AS side,
       |  abs(mer0) AS m,
       |  abs(lat) AS p,
       |  CASE WHEN lat < 0 THEN
       |    CASE (CASE WHEN oct0 = 5 THEN 1 ELSE oct0 END)
       |      WHEN 1 THEN 6 WHEN 2 THEN 7 WHEN 3 THEN 8 WHEN 4 THEN 5 ELSE 0 END
       |  ELSE (CASE WHEN oct0 = 5 THEN 1 ELSE oct0 END) END AS oct
       |  FROM p1),
       |p3 AS (SELECT ckc.*, p2.* FROM p2, ckc),
       |p4 AS (SELECT *, ${jeX("m")} AS jex, ${jeY("m")} AS jey FROM p3),
       |p5 AS (SELECT *, ${jtX("jex", "jey", "m")} AS jtx FROM p4),
       |p6 AS (SELECT *, ${jtY("jtx", "m")} AS jty, ${jfX("m")} AS jfx FROM p5),
       |p7 AS (SELECT *, ${jfY("jfx", "m")} AS jfy FROM p6),
       |p8 AS (SELECT *,
       |  ${dist("jex", "jey", "jtx", "jty")} AS lt,
       |  ${dist("jtx", "jty", "jfx", "jfy")} AS lm
       |  FROM p7),
       |p9 AS (SELECT *,
       |  CASE WHEN m <= 30 THEN ma + ap73 * cos(m * $DR)
       |    ELSE (tan(-60 * $DR) * tx - tan(m * $DR) * jfx - ty + jfy)
       |         / (tan(-60 * $DR) - tan(m * $DR)) END AS p73x0
       |  FROM p8),
       |p10 AS (SELECT *,
       |  CASE WHEN m <= 30 THEN 0.0 + ap73 * sin(m * $DR)
       |    ELSE tan(-60 * $DR) * (p73x0 - tx) + ty END AS p73y0,
       |  (tan(-60 * $DR) * tx - tan((2 * m / 3) * $DR) * jfx - ty + jfy)
       |    / (tan(-60 * $DR) - tan((2 * m / 3) * $DR)) AS altx
       |  FROM p9),
       |p11 AS (SELECT *,
       |  tan(-60 * $DR) * (altx - tx) + ty AS alty
       |  FROM p10),
       |p12 AS (SELECT *,
       |  CASE WHEN m > 44 AND m > 30 AND altx > p73x0 THEN altx ELSE p73x0 END AS p73x,
       |  CASE WHEN m > 44 AND m > 30 AND altx > p73x0 THEN alty ELSE p73y0 END AS p73y,
       |  CASE WHEN m > 44 AND m > 30 AND altx > p73x0
       |    THEN -${dist("jfx", "jfy", "altx", "alty")}
       |    WHEN m <= 30 THEN ${dist("jfx", "jfy", s"ma + ap73 * cos(m * $DR)", s"0.0 + ap73 * sin(m * $DR)")}
       |    ELSE ${dist("jfx", "jfy", "p73x0", "p73y0")} END AS lfp,
       |  ma + ap75 * cos(m * $DR) AS p75x,
       |  0.0 + ap75 * sin(m * $DR) AS p75y
       |  FROM p11),
       |p13 AS (SELECT *,
       |  (jfx - jtx) * (jfx - jtx) + (jfy - jty) * (jfy - jty) AS cl_a,
       |  2 * ((jfx - jtx) * (jtx - ccx) + (jfy - jty) * (jty - ccy)) AS cl_b,
       |  (jtx - ccx) * (jtx - ccx) + (jty - ccy) * (jty - ccy) - crad * crad AS cl_c,
       |  (jtx - jex) * (jtx - jex) + (jty - jey) * (jty - jey) AS ce_a,
       |  2 * ((jtx - jex) * (jex - ccx) + (jty - jey) * (jey - ccy)) AS ce_b,
       |  (jex - ccx) * (jex - ccx) + (jey - ccy) * (jey - ccy) - crad * crad AS ce_c
       |  FROM p12),
       |p14 AS (SELECT *,
       |  cl_b * cl_b - 4 * cl_a * cl_c AS cl_d,
       |  ce_b * ce_b - 4 * ce_a * ce_c AS ce_d
       |  FROM p13),
       |p15 AS (SELECT *,
       |  CASE WHEN cl_a <> 0 AND cl_d >= 0 THEN
       |    CASE WHEN (-cl_b + sqrt(cl_d)) / (2 * cl_a) BETWEEN 0 AND 1 THEN (-cl_b + sqrt(cl_d)) / (2 * cl_a)
       |         WHEN (-cl_b - sqrt(cl_d)) / (2 * cl_a) BETWEEN 0 AND 1 THEN (-cl_b - sqrt(cl_d)) / (2 * cl_a)
       |         ELSE CAST('nan' AS DOUBLE) END
       |  ELSE CAST('nan' AS DOUBLE) END AS cl_u,
       |  CASE WHEN ce_a <> 0 AND ce_d >= 0 THEN
       |    CASE WHEN (-ce_b + sqrt(ce_d)) / (2 * ce_a) BETWEEN 0 AND 1 THEN (-ce_b + sqrt(ce_d)) / (2 * ce_a)
       |         WHEN (-ce_b - sqrt(ce_d)) / (2 * ce_a) BETWEEN 0 AND 1 THEN (-ce_b - sqrt(ce_d)) / (2 * ce_a)
       |         ELSE CAST('nan' AS DOUBLE) END
       |  ELSE CAST('nan' AS DOUBLE) END AS ce_u
       |  FROM p14),
       |p16 AS (SELECT *,
       |  CASE WHEN NOT isnan(cl_u)
       |    THEN lt + ${dist("jtx", "jty", "jtx + cl_u * (jfx - jtx)", "jty + cl_u * (jfy - jty)")}
       |    ELSE lt - ${dist("jtx", "jty", "jex + ce_u * (jtx - jex)", "jey + ce_u * (jty - jey)")} END AS l15
       |  FROM p15),
       |pz AS (SELECT *,
       |  CASE
       |    WHEN m = 0 AND p >= 75 THEN ma + (90 - p) * 104
       |    WHEN m = 0 THEN mg - p * 100
       |    WHEN p >= 75 THEN ma + (104 * (90 - p)) * cos(m * $DR)
       |    WHEN p = 0 THEN jex
       |    WHEN p >= 73 AND m <= 30 THEN ma + (1560 + (75 - p) * 100) * cos(m * $DR)
       |    WHEN m = 45 AND p <= 15 THEN ${interpX("p", "15", "ex", "ey", "dx", "dy")}
       |    WHEN m = 45 AND p <= 73 THEN ${interpX("p - 15", "58", "dx", "dy", "tx", "ty")}
       |    WHEN m = 45 THEN
       |      CASE WHEN $lH <= $lF75H
       |        THEN ${interpX(lH, lF75H, p75x45, p75y45, "bx", "by")}
       |        ELSE ${interpX(s"$lH - $lF75H", lFH, "bx", "by", "p73x", "p73y")} END
       |    WHEN m <= 29 THEN
       |      CASE WHEN $lI <= lt
       |        THEN ${interpX(lI, "lt", "jex", "jey", "jtx", "jty")}
       |      WHEN $lI <= lt + lm
       |        THEN ${interpX(s"$lI - lt", "lm", "jtx", "jty", "jfx", "jfy")}
       |      ELSE ${interpX(s"$lI - lt - lm", "lfp", "jfx", "jfy", "p73x", "p73y")} END
       |    WHEN p >= 73 THEN
       |      CASE WHEN $lJ <= $lF75J
       |        THEN ${interpX(lJ, lF75J, "p75x", "p75y", "jfx", "jfy")}
       |        ELSE ${interpX(s"$lJ - $lF75J", "-lfp", "jfx", "jfy", "p73x", "p73y")} END
       |    WHEN p <= 15 THEN
       |      CASE WHEN $lK <= lt
       |        THEN ${interpX(lK, "lt", "jex", "jey", "jtx", "jty")}
       |        ELSE ${interpX(s"$lK - lt", "lm", "jtx", "jty", "jfx", "jfy")} END
       |    ELSE
       |      CASE WHEN $lL <= lt
       |        THEN ${interpX(lL, "lt", "jex", "jey", "jfx", "jfy")}
       |      WHEN $lL <= lt + lm
       |        THEN ${interpX(s"$lL - lt", "lm", "jtx", "jty", "jfx", "jfy")}
       |      ELSE ${interpX(s"$lL - lt - lm", "lfp", "jfx", "jfy", "p73x", "p73y")} END
       |  END AS zx,
       |  CASE
       |    WHEN m = 0 AND p >= 75 THEN 0.0
       |    WHEN m = 0 THEN 0.0
       |    WHEN p >= 75 THEN 0.0 + (104 * (90 - p)) * sin(m * $DR)
       |    WHEN p = 0 THEN jey
       |    WHEN p >= 73 AND m <= 30 THEN 0.0 + (1560 + (75 - p) * 100) * sin(m * $DR)
       |    WHEN m = 45 AND p <= 15 THEN ${interpY("p", "15", "ex", "ey", "dx", "dy")}
       |    WHEN m = 45 AND p <= 73 THEN ${interpY("p - 15", "58", "dx", "dy", "tx", "ty")}
       |    WHEN m = 45 THEN
       |      CASE WHEN $lH <= $lF75H
       |        THEN ${interpY(lH, lF75H, p75x45, p75y45, "bx", "by")}
       |        ELSE ${interpY(s"$lH - $lF75H", lFH, "bx", "by", "p73x", "p73y")} END
       |    WHEN m <= 29 THEN
       |      CASE WHEN $lI <= lt
       |        THEN ${interpY(lI, "lt", "jex", "jey", "jtx", "jty")}
       |      WHEN $lI <= lt + lm
       |        THEN ${interpY(s"$lI - lt", "lm", "jtx", "jty", "jfx", "jfy")}
       |      ELSE ${interpY(s"$lI - lt - lm", "lfp", "jfx", "jfy", "p73x", "p73y")} END
       |    WHEN p >= 73 THEN
       |      CASE WHEN $lJ <= $lF75J
       |        THEN ${interpY(lJ, lF75J, "p75x", "p75y", "jfx", "jfy")}
       |        ELSE ${interpY(s"$lJ - $lF75J", "-lfp", "jfx", "jfy", "p73x", "p73y")} END
       |    WHEN p <= 15 THEN
       |      CASE WHEN $lK <= lt
       |        THEN ${interpY(lK, "lt", "jex", "jey", "jtx", "jty")}
       |        ELSE ${interpY(s"$lK - lt", "lm", "jtx", "jty", "jfx", "jfy")} END
       |    ELSE
       |      CASE WHEN $lL <= lt
       |        THEN ${interpY(lL, "lt", "jex", "jey", "jfx", "jfy")}
       |      WHEN $lL <= lt + lm
       |        THEN ${interpY(s"$lL - lt", "lm", "jtx", "jty", "jfx", "jfy")}
       |      ELSE ${interpY(s"$lL - lt - lm", "lfp", "jfx", "jfy", "p73x", "p73y")} END
       |  END AS zy0
       |  FROM p16),
       |pg AS (SELECT id, oct, zx, side * zy0 AS zy, mg, cos60, sin60 FROM pz),
       |pout AS (SELECT id,
       |  CASE oct
       |    WHEN 0 THEN zx * cos60 + zy * sin60
       |    WHEN 1 THEN (-zx * cos60 + zy * sin60) - mg
       |    WHEN 2 THEN (zx * cos60 + zy * sin60) - mg
       |    WHEN 3 THEN (-zx * cos60 + zy * sin60) + mg
       |    WHEN 4 THEN (zx * cos60 + zy * sin60) + mg
       |    WHEN 5 THEN ((2 * mg - zx) * cos60 + zy * sin60) + mg
       |    WHEN 6 THEN (-(2 * mg - zx) * cos60 + zy * sin60) - mg
       |    WHEN 7 THEN ((2 * mg - zx) * cos60 + zy * sin60) - mg
       |    WHEN 8 THEN (-(2 * mg - zx) * cos60 + zy * sin60) + mg
       |  END AS ox,
       |  CASE oct
       |    WHEN 0 THEN -zx * sin60 + zy * cos60
       |    WHEN 1 THEN -zx * sin60 - zy * cos60
       |    WHEN 2 THEN -zx * sin60 + zy * cos60
       |    WHEN 3 THEN -zx * sin60 - zy * cos60
       |    WHEN 4 THEN -zx * sin60 + zy * cos60
       |    WHEN 5 THEN -(2 * mg - zx) * sin60 + zy * cos60
       |    WHEN 6 THEN -(2 * mg - zx) * sin60 - zy * cos60
       |    WHEN 7 THEN -(2 * mg - zx) * sin60 + zy * cos60
       |    WHEN 8 THEN -(2 * mg - zx) * sin60 - zy * cos60
       |  END AS oy
       |  FROM pg)
       |SELECT id, CAST(floor(ox * 100.0) AS BIGINT) AS x_int,
       |  CAST(floor(oy * 100.0) AS BIGINT) AS y_int
       |FROM pout ORDER BY id""".stripMargin
  }

  /** The q_dymaxion / q_dymaxion2 mirror builder (verified cell-exact
   * during authoring): Gray-Fuller vs gnomonic facet tails over one
   * rotation + icosahedron-derivation + face-find pipeline. */
  private def dymaxionOracleSql(grayFuller: Boolean): String = {
      val sqrt3 = dl(math.sqrt(3))
      val gz = dl(math.sqrt(5 + 2 * math.sqrt(5)) / math.sqrt(15))
      val gel = dl(math.sqrt(8) / math.sqrt(5 + math.sqrt(5)))
      val gdve = dl(math.sqrt(3 + math.sqrt(5)) / math.sqrt(5 + math.sqrt(5)))
      val r0 = dl(-83.65929); val r1 = dl(25.44458); val r2 = dl(-87.45184)
      val idx = Seq((0, 3, 11), (0, 5, 3), (0, 7, 5), (0, 9, 7), (0, 11, 9),
        (2, 11, 3), (3, 4, 2), (4, 3, 5), (5, 6, 4), (6, 5, 7),
        (7, 8, 6), (8, 7, 9), (9, 10, 8), (10, 9, 11), (11, 2, 10),
        (1, 2, 4), (1, 4, 6), (1, 6, 8), (1, 8, 10), (1, 10, 2))
      val facesValues = idx.zipWithIndex.map { case ((a, b, c), f) =>
        s"($f,0,$a),($f,1,$b),($f,2,$c)"
      }.mkString(",")
      val dirExpr =
        if (grayFuller)
          s"CASE WHEN abs(c.slat - ${dl(52.62)}) < 1 OR abs(c.slat + ${dl(10.81)}) < 1 " +
            "THEN 0.0 ELSE 60.0 END"
        else "0.0"
      val projTail =
        if (grayFuller)
          s"""gf AS (SELECT id, fid,
             |    cos(phi2) * sin(lam2) * (($gz) / (cos(phi2) * cos(lam2))) AS gx0,
             |    sin(phi2) * (($gz) / (cos(phi2) * cos(lam2))) AS gy0
             |  FROM floc),
             |ga AS (SELECT id, fid,
             |    atan2(2 * gy0 / $sqrt3 + $gel / 3 - $gel / 2, $gdve) AS a1p,
             |    atan2(gx0 - gy0 / $sqrt3 + $gel / 3 - $gel / 2, $gdve) AS a2p,
             |    atan2($gel / 3 - gx0 - gy0 / $sqrt3 - $gel / 2, $gdve) AS a3p
             |  FROM gf)
             |SELECT id, CAST(fid AS BIGINT) AS face_id,
             |  CAST(floor($sqrt3 * (a2p - a3p) * 1000000.0) AS BIGINT) AS gx_int,
             |  CAST(floor(-(2 * a1p - a2p - a3p) * 1000000.0) AS BIGINT) AS gy_int
             |FROM ga ORDER BY id""".stripMargin
        else
          s"""gn AS (SELECT id, fid, lam2, phi2 FROM floc)
             |SELECT id, CAST(fid AS BIGINT) AS face_id,
             |  CAST(floor(cos(phi2) * sin(lam2) / (cos(phi2) * cos(lam2)) * 1000000.0) AS BIGINT) AS gx_int,
             |  CAST(floor(-(sin(phi2)) / (cos(phi2) * cos(lam2)) * 1000000.0) AS BIGINT) AS gy_int
             |FROM gn ORDER BY id""".stripMargin
      s"""WITH $ptsSql,
         |verts AS (
         |  SELECT 0 AS vid, CAST(0.0 AS DOUBLE) AS lon, CAST(90.0 AS DOUBLE) AS lat
         |  UNION ALL SELECT 1, 0.0, -90.0
         |  UNION ALL SELECT i + 2, CAST(((i * 36 + 180) % 360) - 180 AS DOUBLE),
         |    CASE WHEN i % 2 = 1 THEN atan(${dl(0.5)}) * 180.0 / pi()
         |         ELSE -(atan(${dl(0.5)}) * 180.0 / pi()) END
         |  FROM generate_series(0, 9) t(i)),
         |fidx(fid, slot, vid) AS (VALUES $facesValues),
         |f20 AS (SELECT f.fid, f.slot, v.lon, v.lat FROM fidx f JOIN verts v USING (vid)),
         |fvec AS (SELECT fid, slot, lon, lat,
         |    cos(lat * pi() / 180.0) * cos(lon * pi() / 180.0) AS vx,
         |    sin(lon * pi() / 180.0) * cos(lat * pi() / 180.0) AS vy,
         |    sin(lat * pi() / 180.0) AS vz
         |  FROM f20),
         |csum AS (SELECT fid, sum(vx) AS sx, sum(vy) AS sy, sum(vz) AS sz FROM fvec GROUP BY fid),
         |sites20 AS (SELECT fid,
         |    atan2(sy / sqrt(sx*sx + sy*sy + sz*sz), sx / sqrt(sx*sx + sy*sy + sz*sz)) * 180.0 / pi() AS slon,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      sz / sqrt(sx*sx + sy*sy + sz*sz)))) * 180.0 / pi() AS slat
         |  FROM csum),
         |midv AS (SELECT
         |    a.vx + b.vx AS mx, a.vy + b.vy AS my, a.vz + b.vz AS mz
         |  FROM (SELECT * FROM fvec WHERE fid = 14 AND slot = 1) a,
         |       (SELECT * FROM fvec WHERE fid = 14 AND slot = 2) b),
         |mid AS (SELECT
         |    atan2(my / sqrt(mx*mx + my*my + mz*mz), mx / sqrt(mx*mx + my*my + mz*mz)) * 180.0 / pi() AS mlon,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      mz / sqrt(mx*mx + my*my + mz*mz)))) * 180.0 / pi() AS mlat
         |  FROM midv),
         |f24 AS (
         |  SELECT fid, slot, lon, lat FROM f20 WHERE fid NOT IN (14, 15, 19)
         |  UNION ALL SELECT 15, 0, slon, slat FROM sites20 WHERE fid = 15
         |  UNION ALL SELECT 15, slot, lon, lat FROM f20 WHERE fid = 15 AND slot IN (1, 2)
         |  UNION ALL SELECT 14, 1, mlon, mlat FROM mid
         |  UNION ALL SELECT 14, slot, lon, lat FROM f20 WHERE fid = 14 AND slot IN (0, 2)
         |  UNION ALL SELECT 19, 1, mlon, mlat FROM mid
         |  UNION ALL SELECT 19, slot, lon, lat FROM f20 WHERE fid = 19 AND slot IN (0, 2)
         |  UNION ALL SELECT 20, 0, lon, lat FROM f20 WHERE fid = 15 AND slot = 0
         |  UNION ALL SELECT 20, 1, slon, slat FROM sites20 WHERE fid = 15
         |  UNION ALL SELECT 20, 2, lon, lat FROM f20 WHERE fid = 15 AND slot = 2
         |  UNION ALL SELECT 21, slot, lon, lat FROM f20 WHERE fid = 15 AND slot IN (0, 1)
         |  UNION ALL SELECT 21, 2, slon, slat FROM sites20 WHERE fid = 15
         |  UNION ALL SELECT 22, slot, lon, lat FROM f20 WHERE fid = 14 AND slot IN (0, 1)
         |  UNION ALL SELECT 22, 2, mlon, mlat FROM mid
         |  UNION ALL SELECT 23, 0, mlon, mlat FROM mid
         |  UNION ALL SELECT 23, 1, lon, lat FROM f20 WHERE fid = 19 AND slot = 0
         |  UNION ALL SELECT 23, 2, lon, lat FROM f20 WHERE fid = 19 AND slot = 1),
         |sites24 AS (
         |  SELECT fid, slon, slat FROM sites20
         |  UNION ALL SELECT 20, slon, slat FROM sites20 WHERE fid = 15
         |  UNION ALL SELECT 21, slon, slat FROM sites20 WHERE fid = 15
         |  UNION ALL SELECT 22, slon, slat FROM sites20 WHERE fid = 14
         |  UNION ALL SELECT 23, slon, slat FROM sites20 WHERE fid = 19),
         |fvec24 AS (SELECT fid, slot, lon, lat,
         |    cos(lat * pi() / 180.0) * cos(lon * pi() / 180.0) AS vx,
         |    sin(lon * pi() / 180.0) * cos(lat * pi() / 180.0) AS vy,
         |    sin(lat * pi() / 180.0) AS vz
         |  FROM f24),
         |inside AS (SELECT fid,
         |    sum(vx) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS ix,
         |    sum(vy) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS iy,
         |    sum(vz) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS iz
         |  FROM fvec24 GROUP BY fid),
         |fedges AS (SELECT a.fid,
         |    a.vy * b.vz - a.vz * b.vy AS nx,
         |    a.vz * b.vx - a.vx * b.vz AS ny,
         |    a.vx * b.vy - a.vy * b.vx AS nz
         |  FROM fvec24 a JOIN fvec24 b ON a.fid = b.fid AND b.slot = (a.slot + 1) % 3),
         |fsigned AS (SELECT e.fid, e.nx, e.ny, e.nz,
         |    CASE WHEN e.nx * i.ix + e.ny * i.iy + e.nz * i.iz < 0 THEN -1 ELSE 1 END AS sg
         |  FROM fedges e JOIN inside i ON e.fid = i.fid),
         |pin AS (SELECT id,
         |    (x * 3.6 - 180.0) * pi() / 180.0 AS lam0,
         |    (y * 1.7 - 85.0) * pi() / 180.0 AS phi0
         |  FROM pts),
         |prot0 AS (SELECT id,
         |    CASE WHEN lam0 + $r0 * pi() / 180.0 > pi()
         |         THEN lam0 + $r0 * pi() / 180.0 - 2 * pi()
         |         WHEN lam0 + $r0 * pi() / 180.0 < -pi()
         |         THEN lam0 + $r0 * pi() / 180.0 + 2 * pi()
         |         ELSE lam0 + $r0 * pi() / 180.0 END AS laml, phi0
         |  FROM pin),
         |prot AS (SELECT id,
         |    atan2(sin(laml) * cos(phi0) * cos($r2 * pi() / 180.0)
         |        - (sin(phi0) * cos($r1 * pi() / 180.0)
         |           + cos(laml) * cos(phi0) * sin($r1 * pi() / 180.0))
         |          * sin($r2 * pi() / 180.0),
         |      cos(laml) * cos(phi0) * cos($r1 * pi() / 180.0)
         |        - sin(phi0) * sin($r1 * pi() / 180.0)) AS lam,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      (sin(phi0) * cos($r1 * pi() / 180.0)
         |       + cos(laml) * cos(phi0) * sin($r1 * pi() / 180.0))
         |      * cos($r2 * pi() / 180.0)
         |      + sin(laml) * cos(phi0) * sin($r2 * pi() / 180.0)))) AS phi
         |  FROM prot0),
         |pvec AS (SELECT id, lam, phi,
         |    cos(lam) * cos(phi) AS px, sin(lam) * cos(phi) AS py, sin(phi) AS pz
         |  FROM prot),
         |contain AS (SELECT p.id, f.fid
         |  FROM pvec p JOIN fsigned f ON TRUE
         |  GROUP BY p.id, f.fid
         |  HAVING bool_and((f.nx * p.px + f.ny * p.py + f.nz * p.pz) * f.sg >= -${dl(1e-12)})),
         |fsel AS (SELECT id, min(fid) AS fid FROM contain GROUP BY id),
         |floc0 AS (SELECT p.id, s.fid, p.lam, p.phi, c.slon, c.slat,
         |    $dirExpr AS dir
         |  FROM pvec p JOIN fsel s ON p.id = s.id JOIN sites24 c ON s.fid = c.fid),
         |floc1 AS (SELECT id, fid, slon, slat, dir,
         |    CASE WHEN lam + (-slon) * pi() / 180.0 > pi()
         |         THEN lam + (-slon) * pi() / 180.0 - 2 * pi()
         |         WHEN lam + (-slon) * pi() / 180.0 < -pi()
         |         THEN lam + (-slon) * pi() / 180.0 + 2 * pi()
         |         ELSE lam + (-slon) * pi() / 180.0 END AS laml, phi
         |  FROM floc0),
         |floc AS (SELECT id, fid,
         |    atan2(sin(laml) * cos(phi) * cos(dir * pi() / 180.0)
         |        - (sin(phi) * cos((-slat) * pi() / 180.0)
         |           + cos(laml) * cos(phi) * sin((-slat) * pi() / 180.0))
         |          * sin(dir * pi() / 180.0),
         |      cos(laml) * cos(phi) * cos((-slat) * pi() / 180.0)
         |        - sin(phi) * sin((-slat) * pi() / 180.0)) AS lam2,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      (sin(phi) * cos((-slat) * pi() / 180.0)
         |       + cos(laml) * cos(phi) * sin((-slat) * pi() / 180.0)) * cos(dir * pi() / 180.0)
         |      + sin(laml) * cos(phi) * sin(dir * pi() / 180.0)))) AS phi2
         |  FROM floc1),
         |$projTail""".stripMargin
  }

  /** The q_lee / q_lee_calm mirror builder (verified cell-exact during
   * authoring): only the global rotation literals differ between the
   * markley and CALM aspects. */
  private def leeOracleSql(rot0: String, rot1: String, rot2: String): String = {
      val DR = "(pi() / 180.0)"
      def rotSql(pre: String, lamc: String, phic: String,
                 d0: String, d1: String, d2: String,
                 outl: String, outp: String): String =
        s"""${pre}0 AS (SELECT *,
           |  CASE WHEN $lamc + ($d0) * $DR > pi() THEN $lamc + ($d0) * $DR - 2 * pi()
           |       WHEN $lamc + ($d0) * $DR < -pi() THEN $lamc + ($d0) * $DR + 2 * pi()
           |       ELSE $lamc + ($d0) * $DR END AS ${pre}_laml FROM ${pre}_in),
           |${pre}1 AS (SELECT *,
           |  atan2(sin(${pre}_laml) * cos($phic) * cos(($d2) * $DR)
           |      - (sin($phic) * cos(($d1) * $DR)
           |         + cos(${pre}_laml) * cos($phic) * sin(($d1) * $DR)) * sin(($d2) * $DR),
           |    cos(${pre}_laml) * cos($phic) * cos(($d1) * $DR)
           |      - sin($phic) * sin(($d1) * $DR)) AS $outl,
           |  asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
           |    (sin($phic) * cos(($d1) * $DR)
           |     + cos(${pre}_laml) * cos($phic) * sin(($d1) * $DR)) * cos(($d2) * $DR)
           |    + sin(${pre}_laml) * cos($phic) * sin(($d2) * $DR)))) AS $outp
           |  FROM ${pre}0)""".stripMargin
      val coef = Seq(1.15470053837925, 0.192450089729875, 0.0481125224324687,
        0.010309826235529, 3.34114739114366e-4, -1.50351632601465e-3,
        -1.2304417796231e-3, -6.75190201960282e-4,
        -2.84084537293856e-4, -8.21205120500051e-5,
        -1.59257630018706e-6, 1.91691805888369e-5,
        1.73095888028726e-5, 1.03865580818367e-5,
        4.70614523937179e-6, 1.4413500104181e-6,
        1.92757960170179e-8, -3.82869799649063e-7,
        -3.57526015225576e-7, -2.2175964844211e-7)
      val h0 = Seq("1.0", "CAST(1.0 AS DOUBLE) / 8", "CAST(3.0 AS DOUBLE) / 56",
        "CAST(1.0 AS DOUBLE) / 32", "CAST(35.0 AS DOUBLE) / 1664",
        "CAST(63.0 AS DOUBLE) / 4096", "CAST(231.0 AS DOUBLE) / 19456")
      val gStages = coef.reverse.zipWithIndex.map { case (c, idx) =>
        if (idx == 0)
          s"g0 AS (SELECT *, CAST(${dl(c)} AS DOUBLE) AS g0x, CAST(0.0 AS DOUBLE) AS g0y FROM kb)"
        else
          s"g$idx AS (SELECT *, ${dl(c)} + g${idx - 1}x * yyx - g${idx - 1}y * yyy AS g${idx}x, " +
            s"g${idx - 1}y * yyx + g${idx - 1}x * yyy AS g${idx}y FROM g${idx - 1})"
      }.mkString(",\n")
      val gl = s"g${coef.length - 1}"
      val hStages = h0.reverse.zipWithIndex.map { case (c, idx) =>
        if (idx == 0)
          s"h0 AS (SELECT *, CAST($c AS DOUBLE) AS h0x, CAST(0.0 AS DOUBLE) AS h0y FROM hb)"
        else
          s"h$idx AS (SELECT *, ($c) + h${idx - 1}x * z3x - h${idx - 1}y * z3y AS h${idx}x, " +
            s"h${idx - 1}y * z3x + h${idx - 1}x * z3y AS h${idx}y FROM h${idx - 1})"
      }.mkString(",\n")
      val hl = s"h${h0.length - 1}"
      val w1 = dl(1.4021821053254548)
      s"""WITH $ptsSql,
         |verts AS (
         |  SELECT 0 AS vid, CAST(0.0 AS DOUBLE) AS lon, CAST(90.0 AS DOUBLE) AS lat
         |  UNION ALL SELECT 1, -180.0, -(asin(CAST(1.0 AS DOUBLE) / 3.0) * 180.0 / pi())
         |  UNION ALL SELECT 2, -60.0, -(asin(CAST(1.0 AS DOUBLE) / 3.0) * 180.0 / pi())
         |  UNION ALL SELECT 3, 60.0, -(asin(CAST(1.0 AS DOUBLE) / 3.0) * 180.0 / pi())),
         |fidx(fid, slot, vid) AS (VALUES
         |  (0,0,1),(0,1,2),(0,2,3),(1,0,0),(1,1,2),(1,2,1),
         |  (2,0,0),(2,1,3),(2,2,2),(3,0,0),(3,1,1),(3,2,3)),
         |fvec AS (SELECT f.fid, f.slot,
         |    cos(v.lat * $DR) * cos(v.lon * $DR) AS vx,
         |    sin(v.lon * $DR) * cos(v.lat * $DR) AS vy,
         |    sin(v.lat * $DR) AS vz
         |  FROM fidx f JOIN verts v USING (vid)),
         |inside AS (SELECT fid,
         |    sum(vx) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS ix,
         |    sum(vy) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS iy,
         |    sum(vz) / sqrt(sum(vx)*sum(vx) + sum(vy)*sum(vy) + sum(vz)*sum(vz)) AS iz
         |  FROM fvec GROUP BY fid),
         |cents AS (SELECT fid,
         |    atan2(iy, ix) * 180.0 / pi() AS clon,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), iz))) * 180.0 / pi() AS clat
         |  FROM inside),
         |fedges AS (SELECT a.fid,
         |    a.vy * b.vz - a.vz * b.vy AS nx,
         |    a.vz * b.vx - a.vx * b.vz AS ny,
         |    a.vx * b.vy - a.vy * b.vx AS nz
         |  FROM fvec a JOIN fvec b ON a.fid = b.fid AND b.slot = (a.slot + 1) % 3),
         |fsigned AS (SELECT e.fid, e.nx, e.ny, e.nz,
         |    CASE WHEN e.nx * i.ix + e.ny * i.iy + e.nz * i.iz < 0 THEN -1 ELSE 1 END AS sg
         |  FROM fedges e JOIN inside i ON e.fid = i.fid),
         |r1_in AS (SELECT id,
         |  (x * 3.6 - 180.0) * $DR AS lam0,
         |  (y * 1.7 - 85.0) * $DR AS phi0 FROM pts),
         |${rotSql("r1", "lam0", "phi0", rot0, rot1, rot2, "lam", "phi")},
         |pv AS (SELECT id, lam, phi,
         |  cos(lam) * cos(phi) AS px, sin(lam) * cos(phi) AS py, sin(phi) AS pz FROM r11),
         |contain AS (SELECT p.id, f.fid
         |  FROM pv p JOIN fsigned f ON TRUE
         |  GROUP BY p.id, f.fid
         |  HAVING bool_and((f.nx * p.px + f.ny * p.py + f.nz * p.pz) * f.sg >= -${dl(1e-12)})),
         |fsel AS (SELECT id, min(fid) AS fid FROM contain GROUP BY id),
         |r2_in AS (SELECT p.id, s.fid, p.lam AS lamr, p.phi AS phir, c.clon, c.clat,
         |  CASE WHEN abs(c.clat) > 89.0 THEN 0.0 ELSE -c.clon END AS rd0,
         |  -c.clat AS rd1,
         |  CASE WHEN abs(c.clat) > 89.0 THEN -30.0 ELSE 30.0 END AS rd2
         |  FROM pv p JOIN fsel s ON p.id = s.id JOIN cents c ON s.fid = c.fid),
         |${rotSql("r2", "lamr", "phir", "rd0", "rd1", "rd2", "flam", "fphi")},
         |st AS (SELECT id, fid, flam, fphi,
         |  (1.0 / (1.0 + cos(fphi) * cos(flam))) * cos(fphi) * sin(flam) * sqrt(2.0) AS zx,
         |  (1.0 / (1.0 + cos(fphi) * cos(flam))) * sin(fphi) * sqrt(2.0) AS zy
         |  FROM r21),
         |wp AS (SELECT
         |  exp(0.0) * cos(0.0) AS w0x, exp(0.0) * sin(0.0) AS w0y,
         |  exp(ln(sqrt(0.25 + 0.75)))
         |    * cos(atan2(sqrt(3.0) / 2, CAST(-0.5 AS DOUBLE))) AS w1x,
         |  exp(ln(sqrt(0.25 + 0.75)))
         |    * sin(atan2(sqrt(3.0) / 2, CAST(-0.5 AS DOUBLE))) AS w1y,
         |  exp(2 * ln(sqrt(0.25 + 0.75)))
         |    * cos(2 * atan2(sqrt(3.0) / 2, CAST(-0.5 AS DOUBLE))) AS w2x,
         |  exp(2 * ln(sqrt(0.25 + 0.75)))
         |    * sin(2 * atan2(sqrt(3.0) / 2, CAST(-0.5 AS DOUBLE))) AS w2y),
         |sec0 AS (SELECT s.*, w.*,
         |  s.zx * w.w0x - s.zy * w.w0y AS c0,
         |  s.zx * w.w1x - s.zy * w.w1y AS c1,
         |  s.zx * w.w2x - s.zy * w.w2y AS c2
         |  FROM st s, wp w),
         |sec AS (SELECT *,
         |  CASE WHEN c2 > (CASE WHEN c1 > c0 THEN c1 ELSE c0 END) THEN 2
         |       WHEN c1 > c0 THEN 1 ELSE 0 END AS sector
         |  FROM sec0),
         |rz AS (SELECT *,
         |  CASE sector WHEN 0 THEN w0x WHEN 1 THEN w1x ELSE w2x END AS rotx,
         |  CASE sector WHEN 0 THEN w0y WHEN 1 THEN w1y ELSE w2y END AS roty,
         |  sqrt(zx * zx + zy * zy) AS nz2
         |  FROM sec),
         |kb AS (SELECT *,
         |  1.0 - (rotx * zx - roty * zy) AS yyx,
         |  -(roty * zx + rotx * zy) AS yyy
         |  FROM rz),
         |$gStages,
         |ksq AS (SELECT *,
         |  exp(0.5 * ln(sqrt(yyx * yyx + yyy * yyy))) * cos(0.5 * atan2(yyy, yyx)) AS syx,
         |  exp(0.5 * ln(sqrt(yyx * yyx + yyy * yyy))) * sin(0.5 * atan2(yyy, yyx)) AS syy
         |  FROM $gl),
         |kk0 AS (SELECT *,
         |  $w1 - (syx * ${gl}x - syy * ${gl}y) AS k0x,
         |  -(syy * ${gl}x + syx * ${gl}y) AS k0y
         |  FROM ksq),
         |kk1 AS (SELECT *,
         |  k0x * rotx - k0y * roty AS k1x,
         |  k0y * rotx + k0x * roty AS k1y
         |  FROM kk0),
         |kk AS (SELECT *,
         |  k1x * rotx - k1y * roty AS kkx,
         |  k1y * rotx + k1x * roty AS kky
         |  FROM kk1),
         |hb AS (SELECT *,
         |  exp(3 * ln(sqrt(zx * zx + zy * zy))) * cos(3 * atan2(zy, zx)) AS z3x,
         |  exp(3 * ln(sqrt(zx * zx + zy * zy))) * sin(3 * atan2(zy, zx)) AS z3y
         |  FROM kk),
         |$hStages,
         |hh AS (SELECT *,
         |  ${hl}x * zx - ${hl}y * zy AS hhx,
         |  ${hl}y * zx + ${hl}x * zy AS hhy
         |  FROM $hl),
         |mix AS (SELECT id, fid,
         |  CASE WHEN nz2 < 0.3 THEN hhx
         |       WHEN nz2 > 0.5 THEN kkx
         |       ELSE kkx * ((nz2 - 0.3) / 0.2) + hhx * (1.0 - (nz2 - 0.3) / 0.2) END AS qx,
         |  CASE WHEN nz2 < 0.3 THEN hhy
         |       WHEN nz2 > 0.5 THEN kky
         |       ELSE kky * ((nz2 - 0.3) / 0.2) + hhy * (1.0 - (nz2 - 0.3) / 0.2) END AS qy
         |  FROM hh)
         |SELECT id, CAST(fid AS BIGINT) AS face_id,
         |  CAST(floor(qx * 1000000.0) AS BIGINT) AS lx_int,
         |  CAST(floor(-qy * 1000000.0) AS BIGINT) AS ly_int
         |FROM mix ORDER BY id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // full CRS set (Albers equal-area, Lambert conformal conic, per-row-zone
    // UTM, azimuthal equidistant): codegen forward transforms, every value
    // DuckDB-mirrored at cm precision (floor * 100)
    // -proj dymaxion (polyhedral catalog tail): global spherical rotation,
    // icosahedral face find over the 24 airocean faces (incl. the three
    // splits, derived — not hardcoded — on both sides), and the face-local
    // Gray-Fuller facet transform. The planar unfolding matrices have no SQL
    // mirror and are pinned by PolyhedralSpec's shared-edge invariant.
    // Bounded 1500-row catalog fixture: the engine is a JVM singleton, the
    // UDF row is (face_id, local_x, local_y).
    query("q_dymaxion")((s, dir) => {
      val fl = udf { (lon: Double, lat: Double) =>
        graft.geom.Dymaxion.fuller
          .faceLocal(lon * math.Pi / 180.0, lat * math.Pi / 180.0)
          .map { case (fid, gx, gy) => Array(fid.toDouble, gx, gy) }.orNull
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fl(col("lon"), col("lat")))
        .select(col("id"),
          element_at(col("r"), 1).cast("long").as("face_id"),
          floor(element_at(col("r"), 2) * 1000000.0).cast("long").as("gx_int"),
          floor(element_at(col("r"), 3) * 1000000.0).cast("long").as("gy_int"))
        .orderBy("id")
    })(
      // -proj dymaxion: rotation -> face find -> Gray-Fuller, with the whole
      // icosahedron DERIVED in SQL (vertices from atan(0.5), spherical
      // centroids, the three airocean splits incl. the 14/19 shared great-
      // circle midpoint) — only the 20 vertex-index triples are literal.
      // Face pick = min id among faces whose every edge-plane test passes at
      // the kernel's -1e-12 tolerance (the engine scans in id order).
      dymaxionOracleSql(grayFuller = true)),

    // dymaxion2: same pipeline through the GNOMONIC facet projector
    query("q_dymaxion2")((s, dir) => {
      val fl = udf { (lon: Double, lat: Double) =>
        graft.geom.Dymaxion.gnomonic
          .faceLocal(lon * math.Pi / 180.0, lat * math.Pi / 180.0)
          .map { case (fid, gx, gy) => Array(fid.toDouble, gx, gy) }.orNull
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fl(col("lon"), col("lat")))
        .select(col("id"),
          element_at(col("r"), 1).cast("long").as("face_id"),
          floor(element_at(col("r"), 2) * 1000000.0).cast("long").as("gx_int"),
          floor(element_at(col("r"), 3) * 1000000.0).cast("long").as("gy_int"))
        .orderBy("id")
    })(
      // gnomonic-facet variant (dymaxion2): same rotation/face-find pipeline,
      // gnomonic local projector, no facet direction twist
      dymaxionOracleSql(grayFuller = false)),

    // -proj butterfly: the truncated-octahedron FACE FIND (octant dispatch
    // + corner-normal tests over the derived 32-face solid, Pacific aspect)
    // — the facet transform itself is oracle-backed by q_cahill, the
    // unfolding by ButterflySpec
    query("q_butterfly")((s, dir) => {
      val fl = udf { (lon: Double, lat: Double) =>
        val lam = graft.geom.Polyhedral.normalizeRadians(
          (lon - 157.5) * math.Pi / 180.0)
        graft.geom.Butterfly.butterfly.faceLocal(lam, lat * math.Pi / 180.0)
          .map(_._1.toLong).getOrElse(-1L)
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .select(col("id"), fl(col("lon"), col("lat")).as("face_id"))
        .orderBy("id")
    }) {
      // -proj butterfly face find: octahedron → 17-degree truncated hexagons
      // (slot pairing mirrors the kernel's edge walk), the kernel's
      // degrees-roundtrip before corner normals, octant dispatch + three
      // corner-plane tests. Duplicated shared vertices are bit-identical by
      // construction (symmetric addScaled expressions), so the kernel's
      // object-identity canonicalization needs no mirror.
      val DR = "(pi() / 180.0)"
      s"""WITH $ptsSql,
         |overts AS (
         |  SELECT 0 AS vid, CAST(0.0 AS DOUBLE) AS lon, CAST(90.0 AS DOUBLE) AS lat
         |  UNION ALL SELECT 1, -90.0, 0.0
         |  UNION ALL SELECT 2, 0.0, 0.0
         |  UNION ALL SELECT 3, 90.0, 0.0
         |  UNION ALL SELECT 4, 180.0, 0.0
         |  UNION ALL SELECT 5, 0.0, -90.0),
         |ofaces(fid, slot, vid) AS (VALUES
         |  (0,0,0),(0,1,2),(0,2,1),(1,0,0),(1,1,3),(1,2,2),
         |  (2,0,5),(2,1,1),(2,2,2),(3,0,5),(3,1,2),(3,2,3),
         |  (4,0,0),(4,1,1),(4,2,4),(5,0,0),(5,1,4),(5,2,3),
         |  (6,0,5),(6,1,4),(6,2,1),(7,0,5),(7,1,3),(7,2,4)),
         |ovec AS (SELECT f.fid, f.slot,
         |    cos(v.lon * $DR) * cos(v.lat * $DR) AS vx,
         |    sin(v.lon * $DR) * cos(v.lat * $DR) AS vy,
         |    sin(v.lat * $DR) AS vz
         |  FROM ofaces f JOIN overts v USING (vid)),
         |hexraw AS (
         |  SELECT a.fid, 2 * k.k AS hslot,
         |    a.vx * cos(17 * $DR) + b.vx * sin(17 * $DR) AS sx,
         |    a.vy * cos(17 * $DR) + b.vy * sin(17 * $DR) AS sy,
         |    a.vz * cos(17 * $DR) + b.vz * sin(17 * $DR) AS sz
         |  FROM generate_series(0, 2) k(k)
         |  JOIN ovec a ON a.slot = (k.k + 2) % 3
         |  JOIN ovec b ON b.fid = a.fid AND b.slot = k.k
         |  UNION ALL
         |  SELECT a.fid, 2 * k.k + 1,
         |    b.vx * cos(17 * $DR) + a.vx * sin(17 * $DR),
         |    b.vy * cos(17 * $DR) + a.vy * sin(17 * $DR),
         |    b.vz * cos(17 * $DR) + a.vz * sin(17 * $DR)
         |  FROM generate_series(0, 2) k(k)
         |  JOIN ovec a ON a.slot = (k.k + 2) % 3
         |  JOIN ovec b ON b.fid = a.fid AND b.slot = k.k),
         |hexdeg AS (SELECT fid, hslot,
         |    atan2(sy / sqrt(sx*sx + sy*sy + sz*sz), sx / sqrt(sx*sx + sy*sy + sz*sz)) * 180.0 / pi() AS hlon,
         |    asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      sz / sqrt(sx*sx + sy*sy + sz*sz)))) * 180.0 / pi() AS hlat
         |  FROM hexraw),
         |hexvec AS (SELECT fid, hslot,
         |    cos(hlon * $DR) * cos(hlat * $DR) AS hx,
         |    sin(hlon * $DR) * cos(hlat * $DR) AS hy,
         |    sin(hlat * $DR) AS hz
         |  FROM hexdeg),
         |cnorm AS (SELECT a.fid, i.i AS ci,
         |    a.hy * b.hz - a.hz * b.hy AS nx,
         |    a.hz * b.hx - a.hx * b.hz AS ny,
         |    a.hx * b.hy - a.hy * b.hx AS nz
         |  FROM generate_series(0, 2) i(i)
         |  JOIN hexvec a ON a.hslot = (i.i * 2 + 2) % 6
         |  JOIN hexvec b ON b.fid = a.fid AND b.hslot = (i.i * 2 + 1) % 6),
         |p0 AS (SELECT id,
         |  CASE WHEN (x * 3.6 - 180.0 - ${dl(157.5)}) * $DR > pi()
         |       THEN (x * 3.6 - 180.0 - ${dl(157.5)}) * $DR - 2 * pi()
         |       WHEN (x * 3.6 - 180.0 - ${dl(157.5)}) * $DR < -pi()
         |       THEN (x * 3.6 - 180.0 - ${dl(157.5)}) * $DR + 2 * pi()
         |       ELSE (x * 3.6 - 180.0 - ${dl(157.5)}) * $DR END AS lam,
         |  (y * 1.7 - 85.0) * $DR AS phi
         |  FROM pts),
         |pv AS (SELECT id, lam, phi,
         |  cos(phi) * cos(lam) AS px, cos(phi) * sin(lam) AS py, sin(phi) AS pz,
         |  CASE WHEN lam < -pi() / 2 THEN CASE WHEN phi < 0 THEN 6 ELSE 4 END
         |       WHEN lam < 0 THEN CASE WHEN phi < 0 THEN 2 ELSE 0 END
         |       WHEN lam < pi() / 2 THEN CASE WHEN phi < 0 THEN 3 ELSE 1 END
         |       ELSE CASE WHEN phi < 0 THEN 7 ELSE 5 END END AS base
         |  FROM p0),
         |tests AS (SELECT p.id, p.base,
         |    max(CASE WHEN c.ci = 0 THEN c.nx * p.px + c.ny * p.py + c.nz * p.pz END) AS d0,
         |    max(CASE WHEN c.ci = 1 THEN c.nx * p.px + c.ny * p.py + c.nz * p.pz END) AS d1,
         |    max(CASE WHEN c.ci = 2 THEN c.nx * p.px + c.ny * p.py + c.nz * p.pz END) AS d2
         |  FROM pv p JOIN cnorm c ON c.fid = p.base
         |  GROUP BY p.id, p.base)
         |SELECT id, CAST(
         |  CASE WHEN d0 < 0 THEN 8 + 3 * base
         |       WHEN d1 < 0 THEN 8 + 3 * base + 1
         |       WHEN d2 < 0 THEN 8 + 3 * base + 2
         |       ELSE base END AS BIGINT) AS face_id
         |FROM tests ORDER BY id""".stripMargin
    },

    // -proj cahill_keyes: the full 12-zone octant transform — constants
    // construction, octant routing, zone dispatch, circular-arc split, and
    // octant placement are ALL re-derived in the SQL mirror (cahillSql).
    // Bounded 1500-row catalog fixture.
    query("q_cahill")((s, dir) => {
      val ck = new graft.geom.CahillKeyes(10000)
      val fwd = udf { (lon: Double, lat: Double) =>
        val (cx, cy) = ck.forward(lon * math.Pi / 180.0, lat * math.Pi / 180.0)
        Array(cx, cy)
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fwd(col("lon"), col("lat")))
        .select(col("id"),
          floor(element_at(col("r"), 1) * 100.0).cast("long").as("x_int"),
          floor(element_at(col("r"), 2) * 100.0).cast("long").as("y_int"))
        .orderBy("id")
    })(
      // -proj cahill_keyes: full-construction mirror (see cahillSql scaladoc)
      cahillSql),

    // -proj narukawa2022: the FULL forward — orientation basis, nearest
    // tetrahedral facet, sector radial transform, and the reflect/fold/wrap
    // rectangle layout — mirrored in SQL with the basis and facet frames
    // DERIVED from the published vertices (only those are literal).
    query("q_narukawa")((s, dir) => {
      val fwd = udf { (lon: Double, lat: Double) =>
        val (nx, ny) = graft.geom.Narukawa.forward(
          lon * math.Pi / 180.0, lat * math.Pi / 180.0)
        Array(nx, ny)
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fwd(col("lon"), col("lat")))
        .select(col("id"),
          floor(element_at(col("r"), 1) * 1000000.0).cast("long").as("x_int"),
          floor(element_at(col("r"), 2) * 1000000.0).cast("long").as("y_int"))
        .orderBy("id")
    }) {
      // -proj narukawa2022: full forward mirror — orientation basis and facet
      // frames derived in SQL from the published tetrahedron vertices; oblique
      // facet pick (max oblique latitude, scan-order ties), sector radial
      // transform, reflect/fold/wrap layout, edge scaling
      val gv = Seq((76.8810628, 149.4509913), (-27.9527772, 97.3570035),
        (-6.6370473, -18.8522325), (-22.9282364, -133.2827588))
      val eps = dl(1e-12)
      val shift = dl(1.16)
      s"""WITH $ptsSql,
         |gv AS (SELECT
         |  cos(${dl(gv(0)._2)} * (pi() / 180.0)) * cos(${dl(gv(0)._1)} * (pi() / 180.0)) AS nx,
         |  sin(${dl(gv(0)._2)} * (pi() / 180.0)) * cos(${dl(gv(0)._1)} * (pi() / 180.0)) AS ny,
         |  sin(${dl(gv(0)._1)} * (pi() / 180.0)) AS nz,
         |  cos(${dl(gv(2)._2)} * (pi() / 180.0)) * cos(${dl(gv(2)._1)} * (pi() / 180.0)) AS sx,
         |  sin(${dl(gv(2)._2)} * (pi() / 180.0)) * cos(${dl(gv(2)._1)} * (pi() / 180.0)) AS sy,
         |  sin(${dl(gv(2)._1)} * (pi() / 180.0)) AS sz),
         |ob0 AS (SELECT *, sx * nx + sy * ny + sz * nz AS pr FROM gv),
         |ob1 AS (SELECT *, sx - nx * pr AS tx, sy - ny * pr AS ty, sz - nz * pr AS tz FROM ob0),
         |ob AS (SELECT *,
         |  tx / sqrt(tx * tx + ty * ty + tz * tz) AS oxx,
         |  ty / sqrt(tx * tx + ty * ty + tz * tz) AS oxy,
         |  tz / sqrt(tx * tx + ty * ty + tz * tz) AS oxz
         |  FROM ob1),
         |ob2 AS (SELECT *,
         |  ny * oxz - nz * oxy AS oyx,
         |  nz * oxx - nx * oxz AS oyy,
         |  nx * oxy - ny * oxx AS oyz
         |  FROM ob),
         |facets AS (
         |  SELECT 0 AS fid, 0.0 AS fx, sqrt(3.0) AS fy, pi() / 2 AS flat, 0.0 AS flon,
         |    0.0 AS fmer, -(pi() / 2) AS frot
         |  UNION ALL SELECT 1, 0.0, -sqrt(3.0), -asin(CAST(1.0 AS DOUBLE) / 3.0), 0.0, pi(), pi() / 2
         |  UNION ALL SELECT 2, 3.0, 0.0, -asin(CAST(1.0 AS DOUBLE) / 3.0), 2 * pi() / 3, pi(), 5 * pi() / 6
         |  UNION ALL SELECT 3, -3.0, 0.0, -asin(CAST(1.0 AS DOUBLE) / 3.0), -(2 * pi() / 3), pi(), pi() / 6),
         |p0 AS (SELECT id,
         |  (x * 3.6 - 180.0) * (pi() / 180.0) AS lam,
         |  (y * 1.7 - 85.0) * (pi() / 180.0) AS phi FROM pts),
         |pv AS (SELECT id, cos(lam) * cos(phi) AS vx, sin(lam) * cos(phi) AS vy, sin(phi) AS vz
         |  FROM p0),
         |pc AS (SELECT id,
         |  atan2(vx * o.oyx + vy * o.oyy + vz * o.oyz, vx * o.oxx + vy * o.oxy + vz * o.oxz) AS cl,
         |  asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |    vx * o.nx + vy * o.ny + vz * o.nz))) AS cp
         |  FROM pv, ob2 o),
         |cand AS (SELECT p.id, f.*, p.cl, p.cp,
         |  CASE WHEN f.fid = 0 THEN p.cp
         |    ELSE asin(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |      sin(f.flat) * sin(p.cp) + cos(f.flat) * cos(p.cp) * cos(f.flon - p.cl)))) END AS lat1
         |  FROM pc p CROSS JOIN facets f),
         |sel AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY id ORDER BY lat1 DESC, fid ASC) AS rn FROM cand)
         |  WHERE rn = 1),
         |obq0 AS (SELECT *,
         |  CASE WHEN fid = 0 THEN cl - flon
         |    ELSE CASE WHEN sin(cl - flon) > 0 THEN
         |      -(acos(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |        CASE WHEN cos(lat1) < $eps THEN 1.0
         |          ELSE (cos(flat) * sin(cp) - sin(flat) * cos(cp) * cos(flon - cl)) / cos(lat1) END))) - pi())
         |    ELSE acos(greatest(CAST(-1.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         |        CASE WHEN cos(lat1) < $eps THEN 1.0
         |          ELSE (cos(flat) * sin(cp) - sin(flat) * cos(cp) * cos(flon - cl)) / cos(lat1) END))) - pi()
         |    END END AS lon1a
         |  FROM sel),
         |obq AS (SELECT *,
         |  CASE WHEN lon1a - fmer > pi() THEN lon1a - fmer - 2 * pi()
         |       WHEN lon1a - fmer < -pi() THEN lon1a - fmer + 2 * pi()
         |       ELSE lon1a - fmer END AS rlon
         |  FROM obq0),
         |sec AS (SELECT *, floor((rlon + pi() / 3) / (2 * pi() / 3)) AS sector FROM obq),
         |ffw AS (SELECT *, rlon - sector * 2 * pi() / 3 AS slam FROM sec),
         |ff AS (SELECT *, slam - asin(sin(slam) / sqrt(3.0)) AS aa FROM ffw),
         |ff2 AS (SELECT *,
         |  atan(2 * sqrt(3.0) / pi() * aa) AS theta,
         |  CASE WHEN 2 + sqrt(2.0) * tan(lat1) > 0
         |    THEN (2 + cos(slam)) / (2 + sqrt(2.0) * tan(lat1)) ELSE 0.0 END AS q
         |  FROM ff),
         |raw AS (SELECT *,
         |  (q * sqrt(3.0) / cos(theta)) * cos(theta + frot + sector * 2 * pi() / 3 / 2) + fx AS rx,
         |  (q * sqrt(3.0) / cos(theta)) * sin(theta + frot + sector * 2 * pi() / 3 / 2) + fy AS ry
         |  FROM ff2),
         |lay0 AS (SELECT id,
         |  CASE WHEN abs(rx) > 3 + $eps THEN 2 * fx - rx
         |       WHEN abs(ry) > sqrt(3.0) + $eps THEN -rx
         |       ELSE rx END AS x1,
         |  CASE WHEN abs(rx) > 3 + $eps THEN -ry
         |       WHEN abs(ry) > sqrt(3.0) + $eps THEN
         |         2 * sqrt(3.0) * (CASE WHEN ry > 0 THEN 1.0 ELSE -1.0 END) - ry
         |       ELSE ry END AS y1
         |  FROM raw),
         |lay1 AS (SELECT id,
         |  CASE WHEN -x1 > $eps THEN 2 * sqrt(3.0) - y1 ELSE y1 END AS qx0,
         |  CASE WHEN -x1 > $eps THEN x1 ELSE -x1 END AS qy
         |  FROM lay0),
         |lay2 AS (SELECT id,
         |  CASE WHEN qx0 + $shift < 0 THEN qx0 + $shift + 4 * sqrt(3.0)
         |       ELSE qx0 + $shift END AS qx, qy
         |  FROM lay1),
         |fin AS (SELECT id,
         |  greatest(-2 * sqrt(3.0), least(2 * sqrt(3.0), qx - 2 * sqrt(3.0))) AS lx,
         |  greatest(CAST(-1.5 AS DOUBLE), least(CAST(1.5 AS DOUBLE), qy + 1.5)) AS ly
         |  FROM lay2)
         |SELECT id,
         |  CAST(floor(lx * (acos(CAST(-1.0 AS DOUBLE) / 3.0) / 2) * 1000000.0) AS BIGINT) AS x_int,
         |  CAST(floor(ly * (acos(CAST(-1.0 AS DOUBLE) / 3.0) / 2) * 1000000.0) AS BIGINT) AS y_int
         |FROM fin ORDER BY id""".stripMargin
    },

    // -proj markley (Lee tetrahedral): the face-local conformal transform —
    // global rotation, tetrahedron face find, per-face rotation, and L. P.
    // Lee's complex-series triangle map (sector pick, vertex/center series,
    // annulus blend) — mirrored in SQL; the rectangular layout is pinned by
    // LeeSpec (shared-edge + frame invariants).
    query("q_lee")((s, dir) => {
      val fl = udf { (lon: Double, lat: Double) =>
        graft.geom.Lee.markley.base
          .faceLocal(lon * math.Pi / 180.0, lat * math.Pi / 180.0)
          .map { case (fid, lx, ly) => Array(fid.toDouble, lx, ly) }.orNull
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fl(col("lon"), col("lat")))
        .filter(col("r").isNotNull) // mirror drops no-face ids via inner joins
        .select(col("id"),
          element_at(col("r"), 1).cast("long").as("face_id"),
          floor(element_at(col("r"), 2) * 1000000.0).cast("long").as("lx_int"),
          floor(element_at(col("r"), 3) * 1000000.0).cast("long").as("ly_int"))
        .orderBy("id")
    })(
      // -proj markley face-local mirror: tetrahedron DERIVED in SQL (vertices,
      // edge normals, centroids), both spherical rotations, and the Lee
      // complex series — 20-step vertex Horner + complex sqrt via arg/log/exp,
      // 7-step center Horner over z^3, 120-degree sector pick, annulus blend.
      // The polar-face centroid test uses |lat| > 89 (ulp-safe stand-in for
      // the kernel's exact ±90; the other centroids sit at ±19.47).
      leeOracleSql("115.0",
      dl(math.acos(1.0 / 3) * 0.5 * 180.0 / math.Pi - 90.0), "180.0")),

    // the CALM aspect of the same kernel (Kunimune's published rotation)
    query("q_lee_calm")((s, dir) => {
      val fl = udf { (lon: Double, lat: Double) =>
        graft.geom.Lee.calm.base
          .faceLocal(lon * math.Pi / 180.0, lat * math.Pi / 180.0)
          .map { case (fid, lx, ly) => Array(fid.toDouble, lx, ly) }.orNull
      }
      points(s, dir)
        .withColumn("lon", col("x") * 3.6 - 180.0)
        .withColumn("lat", col("y") * 1.7 - 85.0)
        .withColumn("r", fl(col("lon"), col("lat")))
        .filter(col("r").isNotNull)
        .select(col("id"),
          element_at(col("r"), 1).cast("long").as("face_id"),
          floor(element_at(col("r"), 2) * 1000000.0).cast("long").as("lx_int"),
          floor(element_at(col("r"), 3) * 1000000.0).cast("long").as("ly_int"))
        .orderBy("id")
    })(
      // CALM aspect: identical pipeline under Kunimune's published rotation
      leeOracleSql(dl(64.7261399569101), dl(-39.84470062116125),
      dl(-119.02303523591051)))
  )
}
