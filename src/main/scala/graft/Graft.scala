package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.geom.{Crs, Overlay}
import graft.index.PolygonLayer
import graft.operators._

/**
 * The user-facing command surface: one entry point per mapshaper command,
 * delegating to the Spark-native operators. A reference user maps their CLI
 * pipeline onto these calls:
 *
 * {{{
 * mapshaper in.shp                    Graft.readShapefile(path)
 *   -filter 'POP > 1000'             .filter(col("POP") > 1000)          // plain Dataset API
 *   -join src.csv keys=a,b           Graft.join(target, source, "a", "b")
 *   -clip clip.shp                   Graft.clipLayer(spark, t, c)
 *   -dissolve2 gap-fill-area=10      Graft.dissolve2(shapes, gapFillArea = 10)
 *   -proj albers                     Graft.project(df, "lon", "lat", Graft.albersUsa)
 *   -simplify 20%                    SimplifyOp.simplify(spark, rings, "ring", 0.2)
 *   -o out.shp                       Graft.writeShapefile(shapes)
 * }}}
 *
 * Command → implementation inventory: COVERAGE.md (line-by-line vs the
 * reference's SURVEY §2 list).
 */
object Graft {

  // ------------------------------------------------------------- sources -i
  def readShapefilePolygons(path: String): PolygonLayer = sources.ShpReader.readPolygons(path)
  def readShapefilePoints(path: String): Seq[(Long, Double, Double)] = sources.ShpReader.readPoints(path)
  def readShapefilePolylines(path: String): Seq[(Long, Seq[Array[Double]])] = sources.ShpReader.readPolylines(path)
  def readDbf(path: String): sources.DbfReader.Table = sources.DbfReader.read(path)
  def readGeoJson(json: String): PolygonLayer = sources.GeoJsonIO.fromGeoJson(json)
  def readTopoJson(json: String): PolygonLayer = sources.TopoJsonIO.fromTopoJson(json)
  def readFlatGeobuf(path: String): sources.FlatGeobuf.Layer = sources.FlatGeobuf.read(path)
  def readGeoPackage(path: String): sources.GeoPackage.SqliteDb = sources.GeoPackage.open(path)
  def readGeoTiff(bytes: Array[Byte]): Raster.Grid = sources.GeoTiff.read(bytes)

  // ---------------------------------------------------------------- sinks -o
  def writeShapefile(shapes: Seq[Seq[Array[Double]]]): (Array[Byte], Array[Byte]) =
    sources.Export.writePolygonShp(shapes)
  def writeDbf(fields: Seq[(String, Char, Int, Int)], rows: Seq[Seq[Any]]): Array[Byte] =
    sources.Export.writeDbf(fields, rows)
  def writeTopoJson(layer: PolygonLayer): String = sources.TopoJsonIO.toTopoJson(layer)
  def writeSvg(shapes: Seq[(Seq[Array[Double]], String)]): String = sources.Export.writeSvg(shapes)
  def writeFlatGeobuf(layer: sources.FlatGeobuf.Layer): Array[Byte] = sources.FlatGeobuf.write(layer)
  def writeGeoTiff(grid: Raster.Grid): Array[Byte] = sources.GeoTiff.write(grid)
  def writeGeoParquet(spark: SparkSession, df: DataFrame, geometryCol: String, outDir: String,
                      geometryTypes: Seq[String], bbox: (Double, Double, Double, Double)): Unit =
    sources.GeoParquet.write(spark, df, geometryCol, outDir, geometryTypes, bbox)

  // ------------------------------------------------------------------ joins
  /** -join (attribute): keys=, fields=, prefix=, duplication, sum-fields, where= */
  def join(target: DataFrame, source: DataFrame, targetKey: String, sourceKey: String,
           fields: Seq[String] = Nil, prefix: String = "", duplication: Boolean = false,
           sumFields: Seq[String] = Nil, where: Option[Column] = None): JoinOp.JoinResult =
    JoinOp.join(target, source, targetKey, sourceKey, fields, prefix, duplication,
      sumFields, None, where)

  /** -join point→polygon (broadcast PIP). */
  def pointPolygonJoin(spark: SparkSession, points: DataFrame, x: String, y: String,
                       layer: PolygonLayer): DataFrame =
    SpatialJoin.broadcastJoin(spark, points, x, y, layer)

  /** -join polygon→polygon via mosaic overlap (distributed). */
  def polygonOverlapJoin(spark: SparkSession, targets: DataFrame, sources0: DataFrame): DataFrame =
    PolyJoin.overlapDistributed(spark, targets, sources0)

  /** -join polyline→polygon via path midpoints. */
  def lineJoin(spark: SparkSession, lines: DataFrame, id: String, line: String,
               layer: PolygonLayer): DataFrame =
    LineOps.joinToPolygons(spark, lines, id, line, layer)

  /** kNN: for each point, its k nearest other points as
   * (id, rank, neighbor_id, dist2), ranked by (dist2, neighbor_id). Rows with
   * a null id, x or y are dropped first. Answered from a broadcast KD-tree in
   * one map pass when n * 24 bytes <= `spark.sql.autoBroadcastJoinThreshold`,
   * else by cell-ring rounds and a brute-force tail; both give the same rows
   * (see [[graft.operators.Knn]]). */
  def knn(spark: SparkSession, points: DataFrame, id: String, x: String, y: String, k: Int): DataFrame =
    Knn.knnJoin(spark, points, id, x, y, k)

  /** Radius join: all pairs (a_id < b_id) within `radius`. */
  def radiusJoin(spark: SparkSession, points: DataFrame, id: String, x: String, y: String,
                 radius: Double): DataFrame =
    Knn.distanceJoin(spark, points, id, x, y, radius)

  // ---------------------------------------------------------------- overlay
  def clip(subject: Seq[Overlay.Shape], clips: Seq[Overlay.Shape]): Seq[Array[Double]] =
    Overlay.clip(subject, clips)
  def erase(subject: Seq[Overlay.Shape], clips: Seq[Overlay.Shape]): Seq[Array[Double]] =
    Overlay.erase(subject, clips)
  def clipLayer(spark: SparkSession, targets: DataFrame, clips: DataFrame): DataFrame =
    OverlayOp.clipLayerDistributed(spark, targets, clips)
  def eraseLayer(spark: SparkSession, targets: DataFrame, clips: DataFrame): DataFrame =
    OverlayOp.clipLayerDistributed(spark, targets, clips, erase = true)
  def slice(spark: SparkSession, targets: DataFrame, sources0: DataFrame): DataFrame =
    OverlayOp.slice(spark, targets, sources0)
  def dissolve2(shapes: Seq[Overlay.Shape], gapFillArea: Double = 0.0): Seq[Array[Double]] =
    if (gapFillArea > 0) Overlay.dissolve2GapFill(shapes, gapFillArea)
    else Overlay.dissolve2(shapes)
  def dissolve2Distributed(spark: SparkSession, shapes: DataFrame): DataFrame =
    OverlayOp.dissolve2Distributed(spark, shapes, "id", "ring")
  def union(a: Seq[Overlay.Shape], b: Seq[Overlay.Shape]): Seq[Array[Double]] = Overlay.union(a, b)
  def clean(shapes: Seq[Overlay.Shape]): Seq[Seq[Array[Double]]] = Overlay.clean(shapes)
  def clipLines(spark: SparkSession, lines: DataFrame, id: String, line: String,
                shape: Overlay.Shape, erase: Boolean = false): DataFrame =
    LineOps.clipLines(spark, lines, id, line, shape, erase)
  def stitch(rings: Seq[Array[Double]]): Seq[Array[Double]] = Stitch.antimeridian(rings)

  // ------------------------------------------------------------ projections
  def webMercator: (Column => Column, Column => Column) = (Proj.lonToMercX, Proj.latToMercY)
  def albersUsa: Crs.Proj = Crs.Albers(29.5, 45.5, 23.0, -96.0)
  def lambertUsa: Crs.Proj = Crs.Lcc(33.0, 45.0, 39.0, -96.0)
  def utm(zone: Int, south: Boolean = false): Crs.Proj = Crs.utm(zone, south)
  def azimuthalEquidistant(lat0: Double, lon0: Double): Crs.Proj = Crs.Aeqd(lat0, lon0)
  /** Ellipsoidal (geodesic) AEQD — PROJ's +proj=aeqd +ellps=WGS84. */
  def azimuthalEquidistantEllipsoidal(lat0: Double, lon0: Double): Crs.Proj =
    Crs.AeqdGeodesic(lat0, lon0)
  /** WGS84 direct geodesic (Vincenty): (lon2, lat2, azi2). */
  def geodesicDirect(lat1: Double, lon1: Double, aziDeg: Double, meters: Double): (Double, Double, Double) =
    Crs.geodesicDirect(lat1, lon1, aziDeg, meters)
  /** WGS84 inverse geodesic (Vincenty): (meters, azi1). */
  def geodesicInverse(lat1: Double, lon1: Double, lat2: Double, lon2: Double): (Double, Double) =
    Crs.geodesicInverse(lat1, lon1, lat2, lon2)
  def rotation(a: Double, b: Double, c: Double): Crs.Proj = Crs.Rotation(a, b, c)
  /** -proj <name-or-+proj-string>: PROJ.4-style front-end (robinson, moll,
   * sinu, eqearth, stere, merc, aea, lcc, utm, aeqd, longlat, dymaxion /
   * dymaxion2 polyhedral + aliases). */
  def projection(spec: String): Crs.Proj = Crs.fromProj4(spec)
  /** Fuller Airocean icosahedral unfolding (`-proj dymaxion`); gnomonic
   * facet variant via `facets = "gnomonic"` (`dymaxion2`). */
  def dymaxion(facets: String = "fuller"): Crs.Proj =
    Crs.DymaxionProj(gnomonicFacets = facets == "gnomonic")
  /** -projections: the supported `+proj=` ids with one-line names. */
  def projections: Seq[(String, String)] = Crs.supportedProjections
  /** .prj (WKT1) sidecar content -> catalog projection (the reference's
   * wkt1ToProj path for shapefile CRS detection). */
  def projectionFromWkt(wkt: String): Crs.Proj = geom.Wkt.toProj(wkt)
  /** Catalog projection -> ESRI WKT1 .prj content (the reference's
   * exportPrjFile path on shapefile export); round-trips through
   * projectionFromWkt. */
  def projectionToWkt(proj: Crs.Proj): String = geom.Wkt.fromProj(proj)
  /** Compound projection with custom inset frames (the reference's
   * MixedProjection): main projection + per-frame bbox routing and affine
   * placement (rotate/scale about the projected origin, then translate). */
  def mixedProjection(main: Crs.Proj, mainBbox: (Double, Double, Double, Double),
                      insets: geom.Mixed.Frame*): Crs.Proj =
    geom.Mixed(main, mainBbox, insets: _*)
  /** -proj: adds array<double>[x, y] via the codegen forward transform. */
  def project(df: DataFrame, lonCol: String, latCol: String, proj: Crs.Proj,
              out: String = "xy"): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn(out, Proj.forward(col(lonCol), col(latCol), proj))
  }
  /** -proj densify: project a lon/lat path, bisecting where the projected
   * midpoint deviates from the chord by more than interval/2. */
  def projectPath(flat: Array[Double], proj: Crs.Proj, interval: Double): Array[Double] =
    Crs.projectPathDensified(flat, proj, interval)

  // ------------------------------------------------------ simplify / paths
  def filterDetail(xx: Array[Double], yy: Array[Double], distance: Double): (Array[Double], Array[Double]) =
    geom.DetailFilter.filter(xx, yy, distance)
  /** -simplify (spherical default for lon/lat data, keep-shapes): retain
   * ~pct of interior vertices by ground-meter thresholds. */
  def simplifySpherical(spark: SparkSession, rings: DataFrame, ringCol: String,
                        pct: Double, keepShapes: Boolean = true): DataFrame =
    SimplifyOp.simplifySpherical(spark, rings, ringCol, pct, keepShapes = keepShapes)

  // ------------------------------------------------------- classify / color
  def classifyQuantile(spark: SparkSession, df: DataFrame, valueCol: String, numBreaks: Int): Seq[Double] =
    Classify.quantileBreaks(spark, df, valueCol, numBreaks)
  def classifyHybrid(spark: SparkSession, df: DataFrame, valueCol: String, numBreaks: Int): Seq[Double] =
    Classify.hybridBreaks(spark, df, valueCol, numBreaks)
  def colorize(value: Column, breaks: Seq[Double], colors: Seq[String]): Column =
    Classify.colorize(value, breaks, colors)

  // ----------------------------------------------------------------- extras
  def buffer(shape: Overlay.Shape, radius: Double): Seq[Array[Double]] =
    Buffer.polygonBuffer(shape, radius)
  def geodesicBuffer(lonLat: Array[Double], radiusMeters: Double): Seq[Array[Double]] =
    Buffer.geodesicPathBuffer(lonLat, radiusMeters)
  def alphaShapes(spark: SparkSession, points: DataFrame, x: String, y: String,
                  alpha: Double): Seq[Array[Double]] =
    AlphaShape.distributedRings(spark, points, x, y, alpha)
  def cluster(spark: SparkSession, points: DataFrame, id: String, x: String, y: String,
              k: Int): DataFrame =
    Cluster.assignPoints(spark, points, id, x, y, k)
  def info(spark: SparkSession, df: DataFrame): DataFrame = Info.describe(spark, df)
  /** -grid type=rhombus|triangle over a bbox. */
  def rhombusGrid(spark: SparkSession, x0: Double, y0: Double, x1: Double, y1: Double,
                  size: Double): DataFrame = Grids.rhombusGrid(spark, x0, y0, x1, y1, size)
  def triangleGrid(spark: SparkSession, x0: Double, y0: Double, x1: Double, y1: Double,
                   size: Double): DataFrame = Grids.triangleGrid(spark, x0, y0, x1, y1, size)
  /** -subdivide expression=: count-median bisection while the predicate holds. */
  def subdivide(spark: SparkSession, points: DataFrame, x: String, y: String,
                predicate: Subdivide.LeafStats => Boolean): DataFrame =
    Subdivide.byExpression(spark, points, x, y, predicate)
  /** -dots evenness=: spaced deterministic dot fill inside a shape. */
  def dots(rings: Seq[Array[Double]], n: Int, evenness: Double, seed: Long): Array[Double] =
    Grids.dotFillEven(rings, n, evenness, seed)
  /** SVG import (paths + shape elements). */
  def readSvg(svg: String): Seq[sources.SvgIO.Feature] = sources.SvgIO.read(svg)

  // ---- -lines / -check-geometry / -filter-islands2
  /** -lines: polygons → classified boundary edges (outer/field/inner). */
  def lines(polys: DataFrame, keyCol: String, ringCol: String,
            fields: Seq[String] = Nil): DataFrame =
    Lines.polygonsToLines(polys, keyCol, ringCol, fields)
  /** -lines over a point layer: groupby= ordered LineString assembly. */
  def pointsToLines(points: DataFrame, groupCol: String, orderCol: String,
                    x: String, y: String): DataFrame =
    Lines.pointsToLines(points, groupCol, orderCol, x, y)
  /** -lines callouts=. */
  def callouts(points: DataFrame, x: String, y: String): DataFrame =
    Lines.callouts(points, x, y)
  /** -lines chain assembly: merge contiguous classified edges into polylines. */
  def assembleChains(spark: SparkSession, classified: DataFrame): DataFrame =
    Lines.assembleChains(spark, classified)
  /** -check-geometry: distributed segment self-intersection report. */
  def checkGeometry(segs: DataFrame, idCol: String, cellSize: Double): DataFrame =
    CheckGeometry.intersectingPairs(segs, idCol, cellSize)
  /** -filter-islands2: drop unshared island rings below min-area/min-vertices. */
  def filterIslands2(rings: DataFrame, ridCol: String, keyCol: String, ringCol: String,
                     minArea: Double = 0.0, minVertices: Int = 0): DataFrame =
    FilterIslands2(rings, ridCol, keyCol, ringCol, minArea, minVertices)

  // ---- -shape / -add-shape / -frame / -scalebar / -symbols / -svg-style
  /** -shape type=rectangle (densified sides). */
  def shapeRectangle(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                     interval: Double = 0.5): Array[Double] =
    Shapes.rectangle(xmin, ymin, xmax, ymax, interval)
  /** -shape type=circle. */
  def shapeCircle(cx: Double, cy: Double, radius: Double, vertices: Int = 360): Array[Double] =
    Shapes.circle(cx, cy, radius, vertices)
  /** -add-shape: append one constructed feature to a layer of rings. */
  def addShape(spark: SparkSession, layer: DataFrame, keyCol: String, ringCol: String,
               key: Long, flat: Array[Double]): DataFrame = {
    import spark.implicits._
    layer.unionByName(
      Seq((key, flat.toSeq)).toDF(keyCol, ringCol), allowMissingColumns = true)
  }
  /** -frame: layer bounds + offsets → frame bbox and pixel dims. */
  def frame(layer: DataFrame, x: String, y: String, widthPx: Double = 0, heightPx: Double = 0,
            pctOffsets: (Double, Double, Double, Double) = (0, 0, 0, 0),
            pxOffsets: (Double, Double, Double, Double) = (0, 0, 0, 0)): Shapes.Frame =
    Shapes.frame(layer, x, y, widthPx, heightPx, pctOffsets, pxOffsets)
  /** -scalebar: auto label + bar geometry for a frame. */
  def scalebar(frameWidthPx: Double, frameHeightPx: Double, metersPerPx: Double,
               label: String = null, style: String = "a",
               position: String = "top-left"): Scalebar.Bar =
    Scalebar.render(frameWidthPx, frameHeightPx, metersPerPx, label, style, position)
  /** -symbols geographic=: per-point symbol polygons, scaled and shifted. */
  def symbols(points: DataFrame, x: String, y: String, template: Array[Double],
              metersPerPx: Double, radiusCol: Option[String] = None): DataFrame =
    Symbols.geographic(points, x, y, template, metersPerPx, radiusCol)
  /** -svg-style: set style columns, optionally gated by where=. */
  def svgStyle(df: DataFrame, props: Map[String, org.apache.spark.sql.Column],
               where: Option[org.apache.spark.sql.Column] = None): DataFrame =
    SvgStyle(df, props, where)

  /** -uniq with the full option surface (max_count=, invert, index). */
  def uniq(df: DataFrame, keyCols: Seq[String], orderCols: Seq[org.apache.spark.sql.Column],
           maxCount: Int = 1, invert: Boolean = false, index: Boolean = false): DataFrame =
    Uniq(df, keyCols, orderCols, maxCount, invert, index)
  /** -points endpoints=: first/last vertex of each path. */
  def pointsEndpoints(lines: DataFrame, idCol: String, lineCol: String): DataFrame =
    Points.endpoints(lines, idCol, lineCol)
  /** -points wkt=: POINT-WKT field extraction (case-insensitive, Z/M). */
  def pointsFromWkt(df: DataFrame, wktCol: String): DataFrame = Points.fromWkt(df, wktCol)
  /** -point-grid rows= cols= with the reference's half-cell margins. */
  def pointGridRowsCols(spark: SparkSession, rows: Int, cols: Int,
                        x0: Double = -180, y0: Double = -90,
                        x1: Double = 180, y1: Double = 90): DataFrame =
    Grids.pointGridRowsCols(spark, rows, cols, x0, y0, x1, y1)
  /** -dashlines: dash/gap segmentation of polyline rows. */
  def dashlines(lines: DataFrame, idCol: String, lineCol: String,
                dashLen: Double, gapLen: Double): DataFrame =
    DashLines(lines, idCol, lineCol, dashLen, gapLen)
  /** -densify (planar): insert vertices so no segment exceeds interval. */
  def densify(flat: Array[Double], interval: Double): Array[Double] =
    graft.geom.PathOps.densify(flat, interval)
  /** -smooth: iterated Chaikin corner cutting. */
  def smooth(flat: Array[Double], weight: Double, iterations: Int): Array[Double] =
    graft.geom.PathOps.smooth(flat, weight, iterations)
  /** Gap-based sessionization (batch analog of the streaming state machine). */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                 gapSeconds: Long): DataFrame =
    Sessionize.summarize(events, keyCol, tsCol, tieCol, gapSeconds)
  /** -calc first=/last= (deterministic document order via min_by/max_by). */
  def calcFirstLast(df: DataFrame, groupCol: String, valueCol: String,
                    orderCol: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(groupCol).agg(
      min_by(org.apache.spark.sql.functions.col(valueCol), orderCol).as("first"),
      max_by(org.apache.spark.sql.functions.col(valueCol), orderCol).as("last"))
  }
  /** -calc sums= (element-wise sum of an equal-width array field,
   * mapshaper-calc.mjs:144-154): posexplode → per-position partial sums →
   * reassemble — fully partial-aggregatable, no row collection. */
  def calcSums(df: DataFrame, groupCol: String, arrCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col(groupCol), posexplode(col(arrCol)).as(Seq("_pos", "_v")))
      .groupBy(col(groupCol), col("_pos"))
      .agg(sum(coalesce(col("_v").cast("double"), lit(0.0))).as("_s"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_s")))).as("_ps"))
      .select(col(groupCol), transform(col("_ps"), p => p.getField("_s")).as("sums"))
  }
  /** -calc collectIds= — the matched ids per group, in canonical (sorted)
   * order (the reference preserves document order; a distributed engine has
   * no stable row order, so the deterministic canonical form is sorted). */
  def calcCollectIds(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(groupCol).agg(array_sort(collect_list(col(idCol))).as("ids"))
  }

  // ------------------------------------------------------ round-4 surface

  /** -fuzzy-join full surface (dedup_points, distance ties, data-fill,
    * no_dropouts). */
  def fuzzyJoin(spark: SparkSession, polygons: DataFrame, keyCol: String,
                points: DataFrame, pid: String, x: String, y: String, value: String,
                layer: PolygonLayer, adjacency: DataFrame,
                dedupPoints: Boolean = false, noDropouts: Boolean = false,
                contiguous: Boolean = false): DataFrame =
    FuzzyJoin.join(spark, polygons, keyCol, points, pid, x, y, value,
      layer, adjacency, dedupPoints, noDropouts, contiguous)
  /** -data-fill weighted= / contiguous (border-length contagion). */
  def dataFillWeighted(spark: SparkSession, features: DataFrame, adjacency: DataFrame,
                       weightCol: Option[String] = None,
                       contiguous: Boolean = false): DataFrame =
    DataFill.fillWeighted(spark, features, adjacency,
      weightCol = weightCol, contiguous = contiguous)
  /** -clean / -dissolve2 with overlap_rule= and allow_overlaps. */
  def cleanWithRule(shapes: Seq[Overlay.Shape], overlapRule: String): Seq[Seq[Array[Double]]] =
    Overlay.clean(shapes, overlapRule)
  def dissolve2ByGroup(shapes: Seq[Overlay.Shape], groups: Seq[Long],
                       overlapRule: String = "min-id",
                       allowOverlaps: Boolean = false): Map[Long, Seq[Array[Double]]] =
    Overlay.dissolve2ByGroup(shapes, groups, overlapRule, allowOverlaps)
  /** -cluster group_by= / pct=. */
  def clusterGrouped(items: Seq[(Long, Double, Double, String)], k: Int): Map[Long, Int] =
    Cluster.greedyGrouped(items, k)
  /** -snap (ulp-scaled lattice quantization). */
  def snap(v: Double, interval: Double): Double = graft.geom.Geom.snap(v, interval)
  def snapInterval(maxAbsCoord: Double): Double = graft.geom.Geom.snapInterval(maxAbsCoord)
  /** -proj pre-projection domain handling (clamp / antimeridian cut /
    * clip circle) for any catalog projection. */
  def preProjectionClip(paths: DataFrame, idCol: String, pathCol: String,
                        proj: Crs.Proj): DataFrame =
    SphericalClip.prepare(paths, idCol, pathCol, Crs.clipSpec(proj))
  /** KML export (Placemark document; KMZ wrap). */
  def writeKmlPolygons(layer: PolygonLayer): Array[Byte] = sources.KmlIO.writePolygons(layer)
  def writeKmz(kml: Array[Byte]): Array[Byte] = sources.KmlIO.kmzFromKml(kml)
  /** Audio/video multimodal stages (real JDK codecs). */
  def audioFeatures(spark: SparkSession, audio: DataFrame): DataFrame =
    AudioOps.features(spark, audio).toDF()
  def videoFrameSamples(spark: SparkSession, video: DataFrame, stride: Int): DataFrame =
    VideoOps.sampleFrames(spark, video, stride)
}
