package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream

import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element

import graft.geom.Geom
import graft.index.PolygonLayer

/**
 * KML / KMZ import — the reference's KML path
 * (`/root/reference/src/kml/kml-import.mjs`, via togeojson). DOM-based and
 * namespace-agnostic; extracts Placemark Points and Polygons. KMZ is a zip
 * whose first `.kml` entry is the document.
 */
object KmlIO {

  final case class KmlPoint(name: String, lon: Double, lat: Double)

  private def parseDoc(in: InputStream) = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    // defensive XML settings (untrusted input)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(in)
  }

  /** Unwrap a KMZ: bytes of the first .kml entry. */
  def kmlFromKmz(kmzBytes: Array[Byte]): Array[Byte] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(kmzBytes))
    var entry = zin.getNextEntry
    while (entry != null) {
      if (entry.getName.toLowerCase.endsWith(".kml")) {
        return zin.readAllBytes()
      }
      entry = zin.getNextEntry
    }
    throw new IllegalArgumentException("no .kml entry in KMZ")
  }

  private def elements(root: Element, tag: String): Seq[Element] = {
    val nl = root.getElementsByTagNameNS("*", tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  private def textOf(e: Element, tag: String): Option[String] =
    elements(e, tag).headOption.map(_.getTextContent.trim)

  /** Parse a `<coordinates>` blob: whitespace-separated lon,lat[,alt]. */
  def parseCoordinates(s: String): Array[Double] = {
    val out = Array.newBuilder[Double]
    s.split("\\s+").filter(_.nonEmpty).foreach { tok =>
      val parts = tok.split(",")
      if (parts.length >= 2) {
        out += parts(0).toDouble
        out += parts(1).toDouble
      }
    }
    out.result()
  }

  /** All Point placemarks as (name, lon, lat). */
  def readPoints(kmlBytes: Array[Byte]): Seq[KmlPoint] = {
    val doc = parseDoc(new ByteArrayInputStream(kmlBytes))
    elements(doc.getDocumentElement, "Placemark").flatMap { pm =>
      val name = textOf(pm, "name").getOrElse("")
      elements(pm, "Point").headOption.flatMap { p =>
        textOf(p, "coordinates").flatMap { c =>
          val xy = parseCoordinates(c)
          if (xy.length >= 2) Some(KmlPoint(name, xy(0), xy(1))) else None
        }
      }
    }
  }

  // ------------------------------------------------------------------ export

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private def coordString(flat: Array[Double]): String =
    flat.grouped(2).map(p => s"${p(0)},${p(1)}").mkString(" ")

  private def kmlDoc(placemarks: Seq[String]): Array[Byte] =
    ("""<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
      """<kml xmlns="http://www.opengis.net/kml/2.2"><Document>""" + "\n" +
      placemarks.mkString("\n") + "\n</Document></kml>\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Point placemarks → KML bytes — the reference's `-o format=kml` write
    * path (`/root/reference/src/kml/kml-export.mjs:7-24`: GeoJSON → tokml
    * Placemarks; same Document/Placemark/Point shape). */
  def writePoints(points: Seq[KmlPoint]): Array[Byte] =
    kmlDoc(points.map(p =>
      s"<Placemark><name>${xmlEscape(p.name)}</name>" +
        s"<Point><coordinates>${p.lon},${p.lat}</coordinates></Point></Placemark>"))

  /** Polygon placemarks → KML bytes. Rings are classified outer/inner by
    * even-odd containment within the shape (a ring inside an odd number of
    * the shape's other rings is a hole), matching the import's parity
    * semantics. */
  def writePolygons(layer: PolygonLayer): Array[Byte] = {
    val pms = (0 until layer.numShapes).map { s =>
      val ringIdx = (0 until layer.numRings).filter(layer.ringShape(_) == s)
      val flats = ringIdx.map(layer.ring)
      val split = flats.map(Geom.unzipRing)
      def pip(ringI: Int, px: Double, py: Double): Int = {
        val (xs, ys) = split(ringI)
        Geom.pointInRing(px, py, xs, ys, 0, xs.length)
      }
      val isHole = flats.indices.map { i =>
        var depth = 0
        flats.indices.foreach { j =>
          if (i != j && pip(j, flats(i)(0), flats(i)(1)) == Geom.IN) depth += 1
        }
        depth % 2 == 1
      }
      // valid KML: a Polygon has exactly ONE outerBoundaryIs — multi-part
      // shapes become a MultiGeometry of Polygons, each hole attached to
      // the outer ring that contains its first vertex
      val outerIdx = flats.indices.filter(!isHole(_))
      val holeIdx = flats.indices.filter(isHole(_))
      val holeOwner: Map[Int, Int] = holeIdx.flatMap(hi =>
        outerIdx.find(oi => pip(oi, flats(hi)(0), flats(hi)(1)) != Geom.OUT).map(hi -> _)).toMap
      val polys = outerIdx.map { oi =>
        val myHoles = holeIdx.filter(hi => holeOwner.get(hi).contains(oi))
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>" +
          coordString(flats(oi)) + "</coordinates></LinearRing></outerBoundaryIs>" +
          myHoles.map(hi =>
            s"<innerBoundaryIs><LinearRing><coordinates>${coordString(flats(hi))}" +
              "</coordinates></LinearRing></innerBoundaryIs>").mkString +
          "</Polygon>"
      }
      val geom = if (polys.length == 1) polys.head
        else s"<MultiGeometry>${polys.mkString}</MultiGeometry>"
      s"<Placemark><name>shape-${layer.shapeKeys(s)}</name>$geom</Placemark>"
    }
    kmlDoc(pms)
  }

  /** Wrap KML bytes as a KMZ (zip with a `doc.kml` entry — kml-export
    * .mjs:15-17). */
  def kmzFromKml(kmlBytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("doc.kml"))
    zos.write(kmlBytes)
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  /** All Polygon placemarks as a PolygonLayer (outer + inner rings). */
  def readPolygons(kmlBytes: Array[Byte]): PolygonLayer = {
    val doc = parseDoc(new ByteArrayInputStream(kmlBytes))
    val shapes = elements(doc.getDocumentElement, "Placemark").zipWithIndex.flatMap {
      case (pm, idx) =>
        val polys = elements(pm, "Polygon")
        if (polys.isEmpty) None
        else {
          val rings = polys.flatMap { poly =>
            val outer = elements(poly, "outerBoundaryIs")
              .flatMap(b => elements(b, "coordinates")).map(_.getTextContent)
            val inner = elements(poly, "innerBoundaryIs")
              .flatMap(b => elements(b, "coordinates")).map(_.getTextContent)
            (outer ++ inner).map(parseCoordinates).filter(_.length >= 8)
          }
          if (rings.isEmpty) None else Some((idx.toLong, rings))
        }
    }
    PolygonLayer.fromShapes(shapes)
  }
}
