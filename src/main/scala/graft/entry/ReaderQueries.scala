package graft
package entry

import org.apache.spark.sql.functions._

import graft.SparkEntry.ReferenceData
import graft.entry.Fixtures._
import graft.entry.Query.query
import graft.operators._

/**
 * Format readers over the mapshaper reference test data under
 * `SparkEntry.ReferenceData`: Shapefile, GeoJSON, FlatGeobuf, GeoPackage,
 * GeoTIFF, KML, CSV and WKT `.prj`. These queries need that directory; every
 * other family runs on the generated tables alone.
 */
private[graft] object ReaderQueries {

  val all: Seq[Query] = Seq(
    // Shapefile source + real-world layer: Natural Earth countries from the
    // reference's own fixture, PIP-joined against lon/lat-mapped points
    // point mapping avoids the exact ±180/±85 world frame: Antarctica's
    // antimeridian edge differs in the last ulp between the .shp and its
    // GeoJSON twin (a known NE data quirk the reference also guards against),
    // so a point EXACTLY on x=-180 is not decidable consistently
    query("q_ne_countries")((s, dir) => {
      val ne = graft.sources.ShpReader.readPolygons(
        s"$ReferenceData/ne/ne_110m_admin_0_scale_rank.shp")
      val pts = points(s, dir)
        .withColumn("lon", col("x") * 3.59 - 179.5)
        .withColumn("lat", col("y") * 1.69 - 84.5)
      SpatialJoin.broadcastJoin(s, pts, "lon", "lat", ne)
        .groupBy("poly_key").agg(count(lit(1)).as("n_points"))
        .orderBy("poly_key")
    })(
      // PIP against the reference's OWN GeoJSON twin of the NE shapefile —
      // an independent data path for the same layer (full-precision twin;
      // ShpTopoSpec separately asserts shp↔twin parity)
      s"""WITH root AS (SELECT j FROM read_json_objects('$ReferenceData/ne/ne_110m_admin_0_scale_rank.json', format='unstructured') t(j)),
         |f AS (SELECT unnest(range(0, CAST(json_array_length(json_extract(j, '$$.features')) AS BIGINT))) AS fid, j FROM root),
         |g AS (SELECT fid, json_extract(j, '$$.features[' || fid || '].geometry') AS geom FROM f),
         |gm AS (SELECT fid,
         |    CASE WHEN json_extract_string(geom, '$$.type') = 'Polygon' THEN 1
         |         ELSE CAST(json_array_length(json_extract(geom, '$$.coordinates')) AS BIGINT) END AS npoly,
         |    json_extract_string(geom, '$$.type') AS gt, geom FROM g),
         |polys AS (SELECT fid, gt, geom, unnest(range(0, npoly)) AS pj FROM gm),
         |rings0 AS (SELECT fid,
         |    CASE WHEN gt = 'Polygon' THEN json_extract(geom, '$$.coordinates')
         |         ELSE json_extract(geom, '$$.coordinates[' || pj || ']') END AS poly FROM polys),
         |rings AS (SELECT fid, unnest(range(0, CAST(json_array_length(poly) AS BIGINT))) AS rj, poly FROM rings0),
         |ringarr AS (SELECT fid, json_extract(poly, '$$[' || rj || ']') AS ring FROM rings),
         |eidx AS (SELECT fid, ring, unnest(range(0, CAST(json_array_length(ring) AS BIGINT) - 1)) AS i FROM ringarr),
         |edges AS (SELECT fid,
         |    CAST(json_extract(ring, '$$[' || i || '][0]') AS DOUBLE) AS ex1,
         |    CAST(json_extract(ring, '$$[' || i || '][1]') AS DOUBLE) AS ey1,
         |    CAST(json_extract(ring, '$$[' || (i + 1) || '][0]') AS DOUBLE) AS ex2,
         |    CAST(json_extract(ring, '$$[' || (i + 1) || '][1]') AS DOUBLE) AS ey2
         |  FROM eidx),
         |$ptsSql,
         |pll AS (SELECT id, x * 3.59 - 179.5 AS x, y * 1.69 - 84.5 AS y FROM pts),
         |hits AS (SELECT p.id, e.fid,
         |    SUM(CASE WHEN ((e.ex1 > p.x) <> (e.ex2 > p.x))
         |          AND e.ey1 + (p.x - e.ex1) * (e.ey2 - e.ey1) / (e.ex2 - e.ex1) > p.y
         |        THEN 1 ELSE 0 END) AS crossings
         |  FROM pll p CROSS JOIN edges e GROUP BY p.id, e.fid)
         |SELECT CAST(fid AS BIGINT) AS poly_key, count(*) AS n_points
         |FROM hits WHERE crossings % 2 = 1 GROUP BY 1 ORDER BY poly_key""".stripMargin),

    // GeoJSON import (ref geojson-import.mjs:9-36): the reference's
    // six-counties fixture — 3 of 6 features have null geometry and must be
    // skipped, keys fall back to the feature index. Mirrored by a full
    // DuckDB JSON decode of the same file.
    query("q_geojson_read")((s, dir) => {
      import s.implicits._
      val layer = graft.sources.GeoJsonIO.fromGeoJson(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          s"$ReferenceData/geojson/six_counties_three_null.json")),
        java.nio.charset.StandardCharsets.UTF_8))
      layerShapeStats(layer).toDF("key", "n_rings", "n_verts",
        "minx_int", "miny_int", "maxx_int", "maxy_int").orderBy("key")
    })(
      // GeoJSON reader: full DuckDB JSON decode of the same fixture (null
      // geometries filtered, per-feature ring/vertex counts + bbox)
      s"""WITH root AS (SELECT j FROM read_json_objects('$ReferenceData/geojson/six_counties_three_null.json', format='unstructured') t(j)),
         |f AS (SELECT unnest(range(0, CAST(json_array_length(json_extract(j, '$$.features')) AS BIGINT))) AS fid, j FROM root),
         |g AS (SELECT fid, json_extract(j, '$$.features[' || fid || '].geometry') AS geom FROM f),
         |gm AS (SELECT fid, json_extract_string(geom, '$$.type') AS gt, geom FROM g
         |  WHERE json_extract_string(geom, '$$.type') IN ('Polygon', 'MultiPolygon')),
         |pp AS (SELECT fid, gt, geom, CASE WHEN gt = 'Polygon' THEN 1
         |    ELSE CAST(json_array_length(json_extract(geom, '$$.coordinates')) AS BIGINT) END AS npoly FROM gm),
         |polys AS (SELECT fid, gt, geom, unnest(range(0, npoly)) AS pj FROM pp),
         |rings0 AS (SELECT fid, CASE WHEN gt = 'Polygon' THEN json_extract(geom, '$$.coordinates')
         |    ELSE json_extract(geom, '$$.coordinates[' || pj || ']') END AS poly FROM polys),
         |rings AS (SELECT fid, unnest(range(0, CAST(json_array_length(poly) AS BIGINT))) AS rj, poly FROM rings0),
         |ringarr AS (SELECT fid, json_extract(poly, '$$[' || rj || ']') AS ring FROM rings),
         |pts2 AS (SELECT fid, ring, unnest(range(0, CAST(json_array_length(ring) AS BIGINT))) AS i FROM ringarr),
         |coords AS (SELECT fid,
         |    CAST(json_extract(ring, '$$[' || i || '][0]') AS DOUBLE) AS x,
         |    CAST(json_extract(ring, '$$[' || i || '][1]') AS DOUBLE) AS y FROM pts2),
         |rc AS (SELECT fid, count(*) AS n_rings FROM ringarr GROUP BY fid),
         |vc AS (SELECT fid, count(*) AS n_verts,
         |    floor(min(x) * 1000000.0) AS mnx, floor(min(y) * 1000000.0) AS mny,
         |    floor(max(x) * 1000000.0) AS mxx, floor(max(y) * 1000000.0) AS mxy FROM coords GROUP BY fid)
         |SELECT rc.fid AS key, CAST(rc.n_rings AS BIGINT) AS n_rings,
         |  CAST(vc.n_verts AS BIGINT) AS n_verts,
         |  CAST(vc.mnx AS BIGINT) AS minx_int, CAST(vc.mny AS BIGINT) AS miny_int,
         |  CAST(vc.mxx AS BIGINT) AS maxx_int, CAST(vc.mxy AS BIGINT) AS maxy_int
         |FROM rc JOIN vc ON vc.fid = rc.fid ORDER BY key""".stripMargin),

    // FlatGeobuf import (ref uses the flatgeobuf npm lib; ours is a
    // from-scratch flatbuffers walker): the format's own 179-country
    // fixture, mirrored by an independent python-struct decode of the same
    // bytes (VALUES table; vtable walk re-derived from the public .fbs)
    query("q_fgb_read")((s, dir) => {
      import s.implicits._
      val layer = graft.sources.FlatGeobuf.read(
        s"$ReferenceData/flatgeobuf/countries.fgb")
      layer.features.zipWithIndex.map { case (f, i) =>
        val xs = f.parts.flatMap(p => p.indices.collect { case j if j % 2 == 0 => p(j) })
        val ys = f.parts.flatMap(p => p.indices.collect { case j if j % 2 == 1 => p(j) })
        (i.toLong, f.parts.length.toLong, (xs.length).toLong,
          math.floor(xs.min * 1e6).toLong, math.floor(ys.min * 1e6).toLong,
          math.floor(xs.max * 1e6).toLong, math.floor(ys.max * 1e6).toLong)
      }.toDF("fid", "n_rings", "n_verts", "minx_int", "miny_int", "maxx_int", "maxy_int")
        .orderBy("fid")
    })(
      // FlatGeobuf reader: VALUES mirror from an independent python-struct
      // flatbuffers walk of the same 179-country fixture bytes
      s"""SELECT CAST(fid AS BIGINT) AS fid, CAST(n_rings AS BIGINT) AS n_rings,
         |  CAST(n_verts AS BIGINT) AS n_verts,
         |  CAST(minx_int AS BIGINT) AS minx_int, CAST(miny_int AS BIGINT) AS miny_int,
         |  CAST(maxx_int AS BIGINT) AS maxx_int, CAST(maxy_int AS BIGINT) AS maxy_int
         |FROM (VALUES
         |(0, 8, 658, -179942499, -85609038, 180000000, -63270660),
         |(1, 1, 9, 68720000, -49775000, 70560000, -48625000),
         |(2, 1, 44, 11734199, -29045462, 25084443, -16941343),
         |(3, 1, 40, 19895458, -26828543, 29432188, -17661816),
         |(4, 1, 11, 30676609, -27285879, 32071665, -25660191),
         |(5, 2, 94, 16344977, -34819166, 32830120, -22091313),
         |(6, 1, 12, 26999262, -30645106, 29325166, -28647502),
         |(7, 1, 77, 30179481, -26742192, 40775475, -10317096),
         |(8, 1, 28, 32688164, -16801300, 35771905, -9230599),
         |(9, 1, 61, 21887843, -17961229, 33485688, -8238258),
         |(10, 1, 37, 25264226, -22271612, 32849860, -15507787),
         |(11, 2, 75, 11640096, -17930636, 24079905, -4438023),
         |(12, 1, 122, 12182337, -13257227, 31174149, 5256088),
         |(13, 1, 13, 29024926, -2917858, 30816135, -1134659),
         |(14, 1, 13, 29024926, -4499983, 30752263, -2348487),
         |(15, 1, 49, 29339998, -11720938, 40316590, -950000),
         |(16, 1, 49, 43254187, -25601434, 50476537, -12040557),
         |(17, 13, 250, 95293026, -10359987, 141033852, 5479821),
         |(18, 1, 11, 124968682, -9393173, 127335928, -8273346),
         |(19, 2, 241, 113338953, -43634597, 153569469, -10668186),
         |(20, 2, 66, 166509144, -46641235, 178517094, -34450662),
         |(21, 2, 12, 166629137, -16597851, 167844877, -14626497),
         |(22, 1, 13, 164029606, -22399976, 167120011, -20105646),
         |(23, 4, 81, 141000210, -10652476, 156019965, -2500002),
         |(24, 5, 37, 156491358, -10826367, 162398646, -6599338),
         |(25, 1, 8, 114204017, 4007637, 115450710, 5447730),
         |(26, 2, 62, 100085757, 773131, 119181904, 6928053),
         |(27, 1, 17, 102348099, 10486544, 107614548, 14570584),
         |(28, 1, 64, 97375896, 5691384, 105589039, 20417850),
         |(29, 1, 70, 92303234, 9932960, 101180005, 28335945),
         |(30, 1, 37, 100115988, 13881091, 107564525, 22464753),
         |(31, 1, 44, 102170436, 8599760, 109335270, 23352063),
         |(32, 7, 110, 117174275, 5581003, 126537424, 18505227),
         |(33, 1, 9, 120106189, 21970571, 121951244, 25295459),
         |(34, 1, 36, 88084422, 20670883, 92672721, 26446526),
         |(35, 1, 13, 88814248, 26719403, 92103712, 28296439),
         |(36, 2, 240, 73675379, 18197701, 135026311, 53458804),
         |(37, 1, 19, 126117398, 34390046, 129468303, 38612243),
         |(38, 1, 43, 124265625, 37669071, 130780007, 42985387),
         |(39, 3, 65, 129408463, 31029579, 145543137, 45551483),
         |(40, 1, 75, 87751264, 41597410, 119772824, 52047366),
         |(41, 1, 54, 55928917, 37144994, 73055417, 45586804),
         |(42, 1, 112, 46466446, 40662325, 87359970, 55385250),
         |(43, 1, 38, 20645593, 59846373, 31516092, 70164193),
         |(44, 4, 88, 4992078, 58078884, 31293418, 80657144),
         |(45, 1, 14, 3314971, 50803721, 7092053, 53510403),
         |(46, 2, 24, 8089976, 54800015, 12690006, 57730017),
         |(47, 1, 45, 14074521, 49027395, 24029986, 54851536),
         |(48, 1, 40, 11027369, 55361737, 23903379, 69106247),
         |(49, 1, 17, 23339795, 57474528, 28131699, 59611090),
         |(50, 1, 22, 21055800, 55615107, 28176709, 57970157),
         |(51, 1, 19, 21055800, 53905702, 26588279, 56372528),
         |(52, 1, 44, 23199494, 51319503, 32693643, 56169130),
         |(53, 1, 27, 26619337, 45488283, 30024659, 48467119),
         |(54, 1, 98, 22085608, 44361479, 40080789, 52335075),
         |(55, 1, 24, 39955009, 41064445, 46637908, 43553104),
         |(56, 1, 44, 20220192, 43688445, 29626543, 48220881),
         |(57, 1, 28, 22380526, 41234486, 28558081, 44234923),
         |(58, 1, 17, 20463150, 40842727, 22952377, 42320260),
         |(59, 1, 21, 20070700, 41847110, 21775050, 43272050),
         |(60, 1, 18, 18450000, 41877550, 20339800, 43523840),
         |(61, 1, 22, 15750026, 42650000, 19599760, 45233777),
         |(62, 3, 87, 6749955, 36619987, 18480247, 47115393),
         |(63, 1, 42, 13656976, 42479991, 19390476, 46503751),
         |(64, 1, 18, 13698110, 45452316, 16564808, 46852386),
         |(65, 1, 46, 18829820, 42245224, 22986019, 46171730),
         |(66, 1, 31, 16202297, 45759481, 22710531, 48623854),
         |(67, 1, 33, 16879983, 47758429, 22558138, 49571574),
         |(68, 1, 35, 12240111, 48555305, 18853144, 51117268),
         |(69, 1, 37, 9479970, 46431817, 16979667, 49039074),
         |(70, 1, 24, 6022609, 45776948, 10442701, 47830828),
         |(71, 1, 58, 5988658, 47302488, 15016996, 54983104),
         |(72, 1, 7, 5674052, 49442667, 6242751, 50128052),
         |(73, 1, 15, 2513573, 49529484, 6156658, 51475024),
         |(74, 2, 55, -4592350, 41380007, 9560016, 51148506),
         |(75, 1, 22, 19304486, 39624998, 21020040, 42688247),
         |(76, 1, 31, 7524482, 30307556, 11488787, 37349994),
         |(77, 1, 62, -8684400, 19057364, 11999506, 37118381),
         |(78, 1, 56, 9319411, 19580470, 25164820, 33136996),
         |(79, 1, 42, 24700070, 22000000, 36866230, 31585680),
         |(80, 1, 30, 38792341, 29099025, 48567971, 37385264),
         |(81, 1, 27, 35700798, 32312938, 42349591, 37229873),
         |(82, 1, 11, 35126053, 33089039, 36611750, 34644914),
         |(83, 1, 19, 34922603, 29197495, 39195468, 33378686),
         |(84, 1, 9, 34927408, 31353435, 35545665, 32532511),
         |(85, 1, 23, 34265433, 29501326, 35836397, 33277426),
         |(86, 1, 15, 32256667, 34571869, 34004881, 35173125),
         |(87, 1, 16, 32731780, 35000345, 34576474, 35671596),
         |(88, 2, 54, 20150016, 34919988, 26604196, 41826905),
         |(89, 2, 67, 26043351, 35821535, 44793990, 42141485),
         |(90, 2, 44, 44793990, 38270378, 50392821, 41860675),
         |(91, 1, 20, 43582746, 38741201, 46505720, 41248129),
         |(92, 1, 75, 44109225, 25078237, 63316632, 39713003),
         |(93, 1, 54, 52502460, 35270664, 66546150, 42751551),
         |(94, 1, 41, 67442220, 36738171, 74980002, 40960213),
         |(95, 1, 35, 69464887, 39279463, 80259990, 43298339),
         |(96, 1, 69, 60528430, 29318572, 75158028, 38486282),
         |(97, 1, 66, 60874248, 23691965, 77837451, 37133031),
         |(98, 1, 23, 80088425, 26397898, 88174804, 30422717),
         |(99, 1, 136, 68176645, 7965535, 97402561, 35494010),
         |(100, 1, 9, 46568713, 28526063, 48416094, 30059070),
         |(101, 1, 76, 34632336, 16347891, 55666659, 32161009),
         |(102, 1, 9, 50743911, 24556331, 51606700, 26114582),
         |(103, 1, 22, 51579519, 22496948, 56396847, 26055464),
         |(104, 2, 47, 52000010, 16651050, 59808060, 26395934),
         |(105, 1, 44, 42604873, 12585950, 53108573, 19000003),
         |(106, 1, 24, 42558760, 7996877, 48948206, 11462040),
         |(107, 1, 10, 79695167, 5968370, 81787959, 9824078),
         |(108, 1, 36, 40981050, -1683250, 51133870, 12024640),
         |(109, 1, 37, 33893569, -4676770, 41855083, 5506000),
         |(110, 1, 27, 29579466, -1443322, 35035990, 4249885),
         |(111, 1, 63, 23886980, 3509170, 35298007, 12248008),
         |(112, 1, 59, 32954180, 3422060, 47789420, 14959430),
         |(113, 1, 15, 41661760, 10926879, 43317852, 12699639),
         |(114, 1, 28, 36323189, 12455416, 43081226, 17998307),
         |(115, 1, 79, 21936810, 8619730, 38410090, 22000000),
         |(116, 1, 58, 13540394, 7421925, 23886890, 23409720),
         |(117, 1, 58, 295646, 11660167, 15903247, 23471668),
         |(118, 1, 19, -49785, 5928837, 1865241, 11018682),
         |(119, 1, 25, 772336, 6142158, 3797112, 12235636),
         |(120, 1, 58, 2691702, 4240594, 14577178, 13865924),
         |(121, 1, 61, 8488816, 1727673, 16012851, 12859396),
         |(122, 1, 62, 14459407, 2267640, 27374226, 11142395),
         |(123, 1, 49, 11093773, -5037987, 18453065, 3728197),
         |(124, 1, 31, 8797996, -3978827, 14425456, 2326758),
         |(125, 1, 7, 9305613, 1010119, 11285079, 2283866),
         |(126, 1, 22, -13246550, 6785917, -10230094, 10046984),
         |(127, 1, 27, -11438779, 4355755, -7539715, 8541055),
         |(128, 1, 25, -3244370, 4710462, 1060122, 11098341),
         |(129, 1, 46, -8602880, 4338288, -2562190, 10524061),
         |(130, 1, 39, -5470565, 9610835, 2177108, 15116158),
         |(131, 1, 76, -12170750, 10096361, 4270210, 24974574),
         |(132, 1, 44, -17625043, 12332090, -11467899, 16598264),
         |(133, 1, 16, -16841525, 13130284, -13844963, 13876492),
         |(134, 1, 19, -16677452, 11040412, -13700476, 12628170),
         |(135, 1, 70, -15130311, 7309037, -7832100, 12586183),
         |(136, 1, 26, -58044694, 1817667, -53958045, 6025291),
         |(137, 1, 19, -54524754, 2053389, -51657797, 5756548),
         |(138, 1, 40, -61410303, 1268088, -56539386, 8367035),
         |(139, 1, 92, -73304952, 724452, -59758285, 12162307),
         |(140, 1, 100, -78990935, -4298187, -66876327, 12437303),
         |(141, 1, 52, -82965783, 7220541, -77242566, 9611610),
         |(142, 1, 36, -85941725, 8225028, -82546196, 11217119),
         |(143, 1, 52, -87668493, 10726839, -83147219, 15016267),
         |(144, 1, 20, -90095555, 13149017, -87723503, 14424133),
         |(145, 1, 57, -89353326, 12984686, -83147219, 16005406),
         |(146, 1, 20, -89229122, 15886938, -88106813, 18499982),
         |(147, 1, 11, -78337719, 17701116, -76199659, 18524218),
         |(148, 1, 26, -71945112, 17598564, -68317943, 19884911),
         |(149, 1, 21, -74458034, 18030993, -71624873, 19915684),
         |(150, 1, 9, -67242428, 17946553, -65591004, 18520601),
         |(151, 1, 8, -61950000, 10000000, -60895000, 10890000),
         |(152, 3, 21, -78980000, 23710000, -77000000, 27040000),
         |(153, 1, 42, -84974911, 19855481, -74178025, 23188611),
         |(154, 1, 86, -64884978, 32246271, -64646202, 32388444),
         |(155, 1, 28, -17063423, 20999752, -8665124, 27656426),
         |(156, 1, 39, -17063423, 14616834, -4923337, 27395744),
         |(157, 1, 64, -17020428, 21420734, -1124551, 35759988),
         |(158, 1, 33, -9526571, 36838269, -6389088, 42280469),
         |(159, 1, 51, -9392884, 35946850, 3039484, 43748338),
         |(160, 1, 13, -9977086, 51669301, -6032985, 55131622),
         |(161, 2, 56, -7572168, 49960000, 1681531, 58635000),
         |(162, 13, 598, -180000000, 41151416, 180000000, 81250400),
         |(163, 1, 20, -24326184, 63496383, -13609732, 66526792),
         |(164, 1, 132, -73297000, 60036760, -12208550, 83645130),
         |(165, 10, 444, -171791111, 18916190, -66964660, 71357764),
         |(166, 30, 795, -140997780, 41675105, -52648099, 83233240),
         |(167, 1, 170, -117127760, 14538829, -86811982, 32720830),
         |(168, 1, 35, -92229249, 13735338, -88225023, 17819326),
         |(169, 1, 33, -80967765, -4959129, -75233723, 1380924),
         |(170, 1, 76, -81410943, -18347975, -68665080, -57205),
         |(171, 1, 60, -69590424, -22872919, -57498371, -9761988),
         |(172, 1, 203, -73987235, -33768378, -34729993, 5244486),
         |(173, 3, 22, -180000000, -18287990, 180000000, -16020882),
         |(174, 2, 121, -73415436, -55250000, -53628349, -21832310),
         |(175, 1, 21, -58427074, -34952647, -53209589, -30109686),
         |(176, 1, 33, -62685057, -27548499, -54292960, -19342747),
         |(177, 2, 114, -75644395, -55611830, -66959920, -17580012),
         |(178, 1, 10, -61200000, -52300000, -57750000, -51100000)
         |) t(fid, n_rings, n_verts, minx_int, miny_int, maxx_int, maxy_int)
         |ORDER BY fid""".stripMargin),

    // GeoPackage import (from-scratch SQLite b-tree + WKB): the reference's
    // Oregon fixture `land` layer — per-ring vertex counts and bboxes,
    // mirrored by an independent python sqlite3 + struct WKB decode (VALUES)
    query("q_gpkg_read")((s, dir) => {
      import s.implicits._
      val db = graft.sources.GeoPackage.open(
        s"$ReferenceData/geopackage/Oregon.gpkg")
      val layer = graft.sources.GeoPackage.readFeatures(db, "land")
      val rings = layer.features.head.parts
      rings.zipWithIndex.map { case (r, i) =>
        val xs = r.indices.collect { case j if j % 2 == 0 => r(j) }
        val ys = r.indices.collect { case j if j % 2 == 1 => r(j) }
        (i.toLong, (r.length / 2).toLong,
          math.floor(xs.min * 1e3).toLong, math.floor(ys.min * 1e3).toLong,
          math.floor(xs.max * 1e3).toLong, math.floor(ys.max * 1e3).toLong)
      }.toDF("ring", "n_pts", "minx_int", "miny_int", "maxx_int", "maxy_int")
        .orderBy("ring")
    })(
      // GeoPackage reader: VALUES mirror from an independent python sqlite3 +
      // struct WKB decode of the Oregon land layer
      s"""SELECT CAST(ring AS BIGINT) AS ring, CAST(n_pts AS BIGINT) AS n_pts,
         |  CAST(minx_int AS BIGINT) AS minx_int, CAST(miny_int AS BIGINT) AS miny_int,
         |  CAST(maxx_int AS BIGINT) AS maxx_int, CAST(maxy_int AS BIGINT) AS maxy_int
         |FROM (VALUES
         |(0, 11, 7309755871, 964727631, 7316567819, 974135700),
         |(1, 27, 7410985120, 934776169, 7429985724, 952762850),
         |(2, 20, 7448876367, 941273588, 7459517968, 951672402),
         |(3, 2437, 7112105727, -609888658, 9235062224, 954330271),
         |(4, 13, 7398171888, 932470863, 7410244086, 943612513),
         |(5, 17, 7629232359, 715828410, 7647013554, 727886410),
         |(6, 23, 7677244034, 699262717, 7698843805, 707102039),
         |(7, 27, 7097575799, -298571671, 7106676450, -286302701),
         |(8, 25, 7122229387, -425163462, 7134295529, -417641231)
         |) t(ring, n_pts, minx_int, miny_int, maxx_int, maxy_int)
         |ORDER BY ring""".stripMargin),

    // GeoTIFF import: the reference's 2x2 wgs84 fixture — per-pixel values
    // + georef, mirrored by an independent python struct decode (VALUES)
    query("q_gtiff_read")((s, dir) => {
      import s.implicits._
      val grid = graft.sources.GeoTiff.read(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(
          s"$ReferenceData/geotiff/wgs84-geographic-epsg4326.tif")))
      (for { cy <- 0 until grid.h; cx <- 0 until grid.w } yield
        (cx.toLong, cy.toLong, math.round(grid(cx, cy)),
          math.round(grid.georef.x0), math.round(grid.georef.y1),
          math.round(grid.georef.cellSize)))
        .toDF("cx", "cy", "v", "x0_int", "y1_int", "cell_int")
        .orderBy("cy", "cx")
    })(
      // GeoTIFF reader: VALUES mirror from an independent python struct
      // decode of the 2x2 wgs84 fixture (pixels + origin + pixel scale)
      s"""SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
         |  CAST(v AS BIGINT) AS v, CAST(x0_int AS BIGINT) AS x0_int,
         |  CAST(y1_int AS BIGINT) AS y1_int, CAST(cell_int AS BIGINT) AS cell_int
         |FROM (VALUES
         |(0, 0, 0, -180, 90, 180), (1, 0, 64, -180, 90, 180),
         |(0, 1, 128, -180, 90, 180), (1, 1, 255, -180, 90, 180)
         |) t(cx, cy, v, x0_int, y1_int, cell_int)
         |ORDER BY cy, cx""".stripMargin),

    // KML/KMZ import: all 63 point placemarks of the reference's Albania
    // KMZ (zip container + XML), mirrored by an independent python
    // zipfile + ElementTree decode (VALUES)
    query("q_kml_read")((s, dir) => {
      import s.implicits._
      val kmz = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"$ReferenceData/kml/Albania.kmz"))
      val pts = graft.sources.KmlIO.readPoints(graft.sources.KmlIO.kmlFromKmz(kmz))
      pts.zipWithIndex.map { case (p, i) =>
        (i.toLong, p.name, math.floor(p.lon * 1e6).toLong, math.floor(p.lat * 1e6).toLong)
      }.toDF("idx", "name", "lon_int", "lat_int").orderBy("idx")
    })(
      // KML/KMZ reader: VALUES mirror from an independent python zipfile +
      // ElementTree decode of the Albania placemarks
      s"""SELECT CAST(idx AS BIGINT) AS idx, name,
         |  CAST(lon_int AS BIGINT) AS lon_int, CAST(lat_int AS BIGINT) AS lat_int
         |FROM (VALUES
         |(0, 'KE-839', 20250000, 42050000),
         |(1, 'RE-306', 20616700, 40500000),
         |(2, 'GR-4', 20000000, 40883300),
         |(3, 'PA-1', 20000000, 41033300),
         |(4, 'VL-1127', 20483300, 42216700),
         |(5, 'VA-2', 20050000, 39916700),
         |(6, 'KO-10', 19666700, 40750000),
         |(7, 'DIV-265', 19600000, 40950000),
         |(8, 'DIV-11', 19616700, 40966700),
         |(9, 'KUC-8', 19983300, 40816700),
         |(10, 'FR-44', 19533300, 40633300),
         |(11, 'BUL-4', 20216700, 41450000),
         |(12, 'BUT-1', 20066700, 39700000),
         |(13, 'DIV-33', 19600000, 40966700),
         |(14, 'KM-1', 19700000, 40866700),
         |(15, 'PR-1', 20150000, 40533300),
         |(16, 'BUB-6', 19650000, 40766700),
         |(17, 'MA-1', 19666700, 40716700),
         |(18, 'KR-18', 19533300, 41116700),
         |(19, 'KR-10', 19516700, 41150000),
         |(20, 'CA-12', 19716700, 40583300),
         |(21, 'AR-18', 19633300, 40800000),
         |(22, 'AM-8', 19750000, 40400000),
         |(23, 'VU-57', 20050000, 39900000),
         |(24, 'SEM-1', 19433300, 40833300),
         |(25, 'MO-31', 19733300, 40550000),
         |(26, 'CA-17', 19733300, 40583300),
         |(27, 'KOM-967', 19766700, 42083300),
         |(28, 'SEL-4', 19666700, 40533300),
         |(29, 'PE-30', 19800000, 40983300),
         |(30, 'AM-8', 19750000, 40400000),
         |(31, 'RU-M', 19766700, 41766700),
         |(32, 'ZV-3', 19400000, 40533300),
         |(33, 'PER-589', 20000000, 41716700),
         |(34, 'GER-6', 19650000, 40433300),
         |(35, 'GOR-1', 20000000, 40783300),
         |(36, 'AMA-1', 19750000, 40350000),
         |(37, 'AR-18', 19633300, 40800000),
         |(38, 'BALL-27', 19800000, 40566700),
         |(39, 'PO-3', 19400000, 40700000),
         |(40, 'GAL-2', 20133300, 40950000),
         |(41, 'ISH-1B', 19683300, 41500000),
         |(42, 'VU-14', 20100000, 39883300),
         |(43, 'BALL-50', 19550000, 41066700),
         |(44, 'AM-8', 19750000, 40400000),
         |(45, 'HY-1', 19700000, 40400000),
         |(46, 'DEL-4', 20133300, 39933300),
         |(47, 'VL-9', 19550000, 40450000),
         |(48, 'LA-2', 19883300, 41333300),
         |(49, 'ME-2', 20083300, 40350000),
         |(50, 'TH-547', 20266700, 41333300),
         |(51, 'PO-3', 19400000, 40700000),
         |(52, 'GJE-2', 20516700, 42116700),
         |(53, 'VL-9', 19550000, 40450000),
         |(54, 'VE-1', 19750000, 42566700),
         |(55, 'VL-9', 19550000, 40450000),
         |(56, 'DEL-4', 20133300, 39933300),
         |(57, 'TAR-1', 19466700, 42033300),
         |(58, 'VA-2', 20050000, 39916700),
         |(59, 'VU-30', 20066700, 39883300),
         |(60, 'NO-1', 20200000, 40150000),
         |(61, 'KAL-3', 20166700, 39816700),
         |(62, 'ER-2', 20116700, 40133300)
         |) t(idx, name, lon_int, lat_int)
         |ORDER BY idx""".stripMargin),

    // CSV import parity (ref src/text/mapshaper-delim-import.mjs:100-219):
    // string-fields= protects leading-zero FIPS from numeric detection,
    // missing values in detected-numeric lat/lon become null without
    // disqualifying the column; DuckDB re-reads the same file all-varchar
    // and applies the expected conversions independently.
    query("q_csv_types")((s, dir) => {
      val df = graft.sources.DelimImport.read(s,
        s"$ReferenceData/text/empty_fields2.csv",
        graft.sources.DelimImport.Options(stringFields = Seq("Voters_FIPS")))
      df.select(col("County").as("county"), col("Voters_FIPS").as("fips"),
          col("Precinct").as("precinct"),
          floor(col("Residence_Addresses_Latitude") * 1000000.0).cast("long").as("lat_int"),
          floor(col("Residence_Addresses_Longitude") * 1000000.0).cast("long").as("lon_int"),
          col("Residence_Addresses_LatLongAccuracy").as("acc"))
        .orderBy("precinct")
    })(
      // independent all-varchar re-read + expected conversions
      s"""SELECT County AS county, Voters_FIPS AS fips, Precinct AS precinct,
        |  CAST(floor(TRY_CAST(Residence_Addresses_Latitude AS DOUBLE) * 1000000.0) AS BIGINT) AS lat_int,
        |  CAST(floor(TRY_CAST(Residence_Addresses_Longitude AS DOUBLE) * 1000000.0) AS BIGINT) AS lon_int,
        |  COALESCE(Residence_Addresses_LatLongAccuracy, '') AS acc
        |FROM read_csv('$ReferenceData/text/empty_fields2.csv',
        |  all_varchar=true, header=true)
        |ORDER BY precinct""".stripMargin),

    // CSV auto-detection at file scale (states.csv, 52 records): every
    // column of parseable-or-missing numerics converts (leading-zero FIPS
    // included — no string hint here), text columns stay strings.
    query("q_csv_infer")((s, dir) => {
      val df = graft.sources.DelimImport.read(s,
        s"$ReferenceData/text/states.csv")
      df.select(col("STATE_ABBR").as("abbr"), col("STATE_NAME").as("name"),
          col("STATE_FIPS").cast("long").as("fips"),
          col("POP2010").cast("long").as("pop"),
          floor(col("POP10_SQMI") * 100.0).cast("long").as("dens_int"),
          col("SUB_REGION").as("region"))
        .orderBy("abbr")
    })(
      s"""SELECT STATE_ABBR AS abbr, STATE_NAME AS name,
        |  CAST(trunc(TRY_CAST(STATE_FIPS AS DOUBLE)) AS BIGINT) AS fips,
        |  CAST(trunc(TRY_CAST(POP2010 AS DOUBLE)) AS BIGINT) AS pop,
        |  CAST(floor(TRY_CAST(POP10_SQMI AS DOUBLE) * 100.0) AS BIGINT) AS dens_int,
        |  SUB_REGION AS region
        |FROM read_csv('$ReferenceData/text/states.csv',
        |  all_varchar=true, header=true)
        |ORDER BY abbr""".stripMargin),

    // .prj (WKT1) reader over ALL 28 reference fixtures: node kind, every
    // PARAMETER, and the SPHEROID constants — mirrored by a VALUES table
    // from an independent regex decode of the same files (reader oracle
    // precedent: q_fgb_read / q_gpkg_read)
    query("q_wkt_read")((s, dir) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val baseDir = java.nio.file.Paths.get(ReferenceData)
      val walk = java.nio.file.Files.walk(baseDir)
      val files =
        try walk.iterator().asScala.filter(_.toString.endsWith(".prj")).toVector
        finally walk.close()
      val rows = files.sortBy(_.toString).flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
        val rel = baseDir.relativize(f).toString
        val node = graft.geom.Wkt.parse(text)
        val params = node.findAll("PARAMETER").map(pn =>
          (rel, "param:" + pn.strings.head.toLowerCase, "",
            math.floor(pn.numbers.head * 1000000.0).toLong))
        val sph = node.find("SPHEROID").toSeq.flatMap(sn => Seq(
          (rel, "spheroid", sn.strings.head,
            math.floor(sn.numbers.head * 1000000.0).toLong),
          (rel, "rf", "", math.floor(sn.numbers(1) * 1000000.0).toLong)))
        (rel, "kind", node.kind, 0L) +: (params ++ sph)
      }
      rows.toDF("file", "item", "sval", "num_int")
        .orderBy("file", "item", "num_int")
    })(
      """SELECT file, item, sval, CAST(num_int AS BIGINT) AS num_int
        |FROM (VALUES
        |  ('dbf/ldid/chinese.prj', 'kind', 'GEOGCS', 0),
        |  ('dbf/ldid/chinese.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('dbf/ldid/chinese.prj', 'rf', '', 298257223),
        |  ('features/centroids/a.prj', 'kind', 'GEOGCS', 0),
        |  ('features/centroids/a.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('features/centroids/a.prj', 'rf', '', 298257223),
        |  ('features/centroids/b.prj', 'kind', 'GEOGCS', 0),
        |  ('features/centroids/b.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('features/centroids/b.prj', 'rf', '', 298257223),
        |  ('features/polygons/ex1.prj', 'kind', 'GEOGCS', 0),
        |  ('features/polygons/ex1.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('features/polygons/ex1.prj', 'rf', '', 298257223),
        |  ('geopackage/Oregon_customCRS.prj', 'kind', 'PROJCS', 0),
        |  ('geopackage/Oregon_customCRS.prj', 'param:central_meridian', '', -120540000),
        |  ('geopackage/Oregon_customCRS.prj', 'param:standard_parallel_1', '', 42710000),
        |  ('geopackage/Oregon_customCRS.prj', 'param:standard_parallel_2', '', 45570000),
        |  ('geopackage/Oregon_customCRS.prj', 'spheroid', 'WGS 84', 6378137000000),
        |  ('geopackage/Oregon_customCRS.prj', 'rf', '', 298257223),
        |  ('geopackage/world_land_robin.prj', 'kind', 'PROJCS', 0),
        |  ('geopackage/world_land_robin.prj', 'spheroid', 'WGS 84', 6378137000000),
        |  ('geopackage/world_land_robin.prj', 'rf', '', 298257223),
        |  ('issues/166/a_utm.prj', 'kind', 'PROJCS', 0),
        |  ('issues/166/a_utm.prj', 'param:false_easting', '', 500000000000),
        |  ('issues/166/a_utm.prj', 'param:false_northing', '', 0),
        |  ('issues/166/a_utm.prj', 'param:central_meridian', '', -75000000),
        |  ('issues/166/a_utm.prj', 'param:scale_factor', '', 999600),
        |  ('issues/166/a_utm.prj', 'param:latitude_of_origin', '', 0),
        |  ('issues/166/a_utm.prj', 'spheroid', 'GRS_1980', 6378137000000),
        |  ('issues/166/a_utm.prj', 'rf', '', 298257222),
        |  ('issues/166/b_utm.prj', 'kind', 'PROJCS', 0),
        |  ('issues/166/b_utm.prj', 'param:false_easting', '', 500000000000),
        |  ('issues/166/b_utm.prj', 'param:false_northing', '', 0),
        |  ('issues/166/b_utm.prj', 'param:central_meridian', '', -75000000),
        |  ('issues/166/b_utm.prj', 'param:scale_factor', '', 999600),
        |  ('issues/166/b_utm.prj', 'param:latitude_of_origin', '', 0),
        |  ('issues/166/b_utm.prj', 'spheroid', 'GRS_1980', 6378137000000),
        |  ('issues/166/b_utm.prj', 'rf', '', 298257222),
        |  ('issues/166/d_geo.prj', 'kind', 'GEOGCS', 0),
        |  ('issues/166/d_geo.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('issues/166/d_geo.prj', 'rf', '', 298257223),
        |  ('issues/166/e_merc.prj', 'kind', 'PROJCS', 0),
        |  ('issues/166/e_merc.prj', 'param:central_meridian', '', 0),
        |  ('issues/166/e_merc.prj', 'param:false_easting', '', 0),
        |  ('issues/166/e_merc.prj', 'param:false_northing', '', 0),
        |  ('issues/166/e_merc.prj', 'param:standard_parallel_1', '', 0),
        |  ('issues/166/e_merc.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('issues/166/e_merc.prj', 'rf', '', 298257223),
        |  ('issues/193/gauss_kruger.prj', 'kind', 'PROJCS', 0),
        |  ('issues/193/gauss_kruger.prj', 'param:false_easting', '', 500000000000),
        |  ('issues/193/gauss_kruger.prj', 'param:false_northing', '', 0),
        |  ('issues/193/gauss_kruger.prj', 'param:central_meridian', '', 114000000),
        |  ('issues/193/gauss_kruger.prj', 'param:scale_factor', '', 1000000),
        |  ('issues/193/gauss_kruger.prj', 'param:latitude_of_origin', '', 0),
        |  ('issues/193/gauss_kruger.prj', 'spheroid', 'Krasovsky_1940', 6378245000000),
        |  ('issues/193/gauss_kruger.prj', 'rf', '', 298300000),
        |  ('issues/193/three_points.prj', 'kind', 'PROJCS', 0),
        |  ('issues/193/three_points.prj', 'param:central_meridian', '', 0),
        |  ('issues/193/three_points.prj', 'param:false_easting', '', 0),
        |  ('issues/193/three_points.prj', 'param:false_northing', '', 0),
        |  ('issues/193/three_points.prj', 'param:standard_parallel_1', '', 0),
        |  ('issues/193/three_points.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('issues/193/three_points.prj', 'rf', '', 298257223),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'kind', 'PROJCS', 0),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'param:latitude_of_origin', '', 0),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'param:central_meridian', '', 15000000),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'param:scale_factor', '', 999600),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'param:false_easting', '', 500000000000),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'param:false_northing', '', 0),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'spheroid', 'GRS_1980', 6378137000000),
        |  ('issues/518_519_shp_reading/data_corruption_error.prj', 'rf', '', 298257222),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'kind', 'PROJCS', 0),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'param:false_easting', '', 1500000000000),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'param:false_northing', '', 0),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'param:central_meridian', '', 15808277),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'param:scale_factor', '', 1000000),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'param:latitude_of_origin', '', 0),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'spheroid', 'Bessel_1841', 6377397155000),
        |  ('issues/518_519_shp_reading/max_callstack_error.prj', 'rf', '', 299152812),
        |  ('issues/invalid_coords/invalid_coordinates.prj', 'kind', 'GEOGCS', 0),
        |  ('issues/invalid_coords/invalid_coordinates.prj', 'spheroid', 'WGS 84 [EPSG ID 7030]', 6378137000000),
        |  ('issues/invalid_coords/invalid_coordinates.prj', 'rf', '', 298257223),
        |  ('ne/ne_110m_admin_0_boundary_lines_land.prj', 'kind', 'GEOGCS', 0),
        |  ('ne/ne_110m_admin_0_boundary_lines_land.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('ne/ne_110m_admin_0_boundary_lines_land.prj', 'rf', '', 298257223),
        |  ('ne/ne_110m_admin_0_pacific_groupings.prj', 'kind', 'GEOGCS', 0),
        |  ('ne/ne_110m_admin_0_pacific_groupings.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('ne/ne_110m_admin_0_pacific_groupings.prj', 'rf', '', 298257223),
        |  ('ne/ne_110m_admin_0_scale_rank.prj', 'kind', 'GEOGCS', 0),
        |  ('ne/ne_110m_admin_0_scale_rank.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('ne/ne_110m_admin_0_scale_rank.prj', 'rf', '', 298257223),
        |  ('ne/ne_110m_admin_1_states_provinces_lines.prj', 'kind', 'GEOGCS', 0),
        |  ('ne/ne_110m_admin_1_states_provinces_lines.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('ne/ne_110m_admin_1_states_provinces_lines.prj', 'rf', '', 298257223),
        |  ('ne/ne_110m_admin_1_states_provinces_shp.prj', 'kind', 'GEOGCS', 0),
        |  ('ne/ne_110m_admin_1_states_provinces_shp.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('ne/ne_110m_admin_1_states_provinces_shp.prj', 'rf', '', 298257223),
        |  ('shapefile/geo_lines.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/geo_lines.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/geo_lines.prj', 'rf', '', 298257223),
        |  ('shapefile/latin1-property.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/latin1-property.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/latin1-property.prj', 'rf', '', 298257223),
        |  ('shapefile/nad27/popctr_state1970.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/nad27/popctr_state1970.prj', 'spheroid', 'Clarke 1866', 6378206400000),
        |  ('shapefile/nad27/popctr_state1970.prj', 'rf', '', 294978698),
        |  ('shapefile/six_counties.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/six_counties.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/six_counties.prj', 'rf', '', 298257223),
        |  ('shapefile/three_points.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/three_points.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/three_points.prj', 'rf', '', 298257223),
        |  ('shapefile/two_states.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/two_states.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/two_states.prj', 'rf', '', 298257223),
        |  ('shapefile/two_states_mercator.prj', 'kind', 'PROJCS', 0),
        |  ('shapefile/two_states_mercator.prj', 'param:central_meridian', '', 0),
        |  ('shapefile/two_states_mercator.prj', 'param:false_easting', '', 0),
        |  ('shapefile/two_states_mercator.prj', 'param:false_northing', '', 0),
        |  ('shapefile/two_states_mercator.prj', 'param:standard_parallel_1', '', 0),
        |  ('shapefile/two_states_mercator.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/two_states_mercator.prj', 'rf', '', 298257223),
        |  ('shapefile/utf8-property.prj', 'kind', 'GEOGCS', 0),
        |  ('shapefile/utf8-property.prj', 'spheroid', 'WGS_1984', 6378137000000),
        |  ('shapefile/utf8-property.prj', 'rf', '', 298257223)
        |) t(file, item, sval, num_int)
        |ORDER BY file, item, num_int""".stripMargin)
  )
}
