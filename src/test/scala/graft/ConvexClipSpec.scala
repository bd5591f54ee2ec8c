package graft

import scala.jdk.CollectionConverters._

import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, Polygon}
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{ConvexClip, Wkb}

/** The convex Sutherland–Hodgman kernel against JTS `intersection`:
  * seeded random Voronoi cells, boxes and rotated convex quads in both
  * ring orientations, then each case the fast path must hand back to
  * JTS. */
class ConvexClipSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261017L)
  private def u(lo: Double, hi: Double) = lo + rnd.nextDouble() * (hi - lo)
  private def poly(pts: (Double, Double)*): Polygon =
    Wkb.factory.createPolygon((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
  private def wkt(s: String): Geometry = Wkb.readWkt(s)

  private def box(): Polygon = {
    val (x, y) = (u(0, 8), u(0, 8))
    Wkb.box(x, y, x + u(0.1, 4), y + u(0.1, 4))
  }
  private def quad(): Polygon = {
    val (cx, cy, w, h, t) = (u(1, 9), u(1, 9), u(0.2, 3), u(0.2, 3), u(0, math.Pi))
    val (c, s) = (math.cos(t), math.sin(t))
    poly(Seq((-w, -h), (w, -h), (w, h), (-w, h)).map { case (x, y) =>
      (cx + x * c - y * s, cy + x * s + y * c) }: _*)
  }
  private val cells: IndexedSeq[Geometry] = {
    val b = new VoronoiDiagramBuilder()
    b.setSites(Seq.fill(60)(new Coordinate(u(0, 10), u(0, 10))).asJava)
    b.setClipEnvelope(new Envelope(0, 10, 0, 10))
    val d = b.getDiagram(Wkb.factory)
    (0 until d.getNumGeometries).map(d.getGeometryN)
  }
  private def shape(): Geometry = {
    val g = rnd.nextInt(3) match {
      case 0 => box()
      case 1 => quad()
      case _ => cells(rnd.nextInt(cells.size))
    }
    if (rnd.nextBoolean()) g.reverse() else g
  }

  test("random convex pairs match JTS intersection to 1e-12") {
    // Both kernels round each crossing vertex to a double at the
    // operands' coordinate scale, so the bound is relative to the
    // smaller operand's area: a thin sliver piece (4e-8 of a unit
    // operand, say) moves by ~4e-12 of its OWN area from one last-place
    // vertex rounding, in JTS as much as here.
    var fast = 0
    for (_ <- 0 until 6000) {
      val (a, b) = (shape(), shape())
      val jts = a.intersection(b)
      ConvexClip.clip(a, b) match {
        case Some(p) =>
          fast += 1
          val scale = math.min(a.getArea, b.getArea)
          assert(p.isValid, s"invalid piece $p of $a ∩ $b")
          assert(math.abs(p.getArea - jts.getArea) <= 1e-12 * scale,
            s"area ${p.getArea} vs JTS ${jts.getArea} for $a ∩ $b")
          assert(p.symDifference(jts).getArea <= 1e-12 * scale, s"$a ∩ $b")
          jts match { // same shell orientation as JTS overlay output
            case j: Polygon => assert(Orientation.isCCW(p.getExteriorRing.getCoordinates) ==
              Orientation.isCCW(j.getExteriorRing.getCoordinates), s"$a ∩ $b")
            case _ =>
          }
        case None =>
          assert(ConvexClip.intersection(a, b).equalsExact(jts))
      }
    }
    assert(fast > 1000, s"only $fast of 6000 pairs took the fast path")
  }

  test("box x box pieces carry exact coordinates") {
    for (_ <- 0 until 2000) {
      val (a, b) = (box(), box())
      val (ea, eb) = (a.getEnvelopeInternal, b.getEnvelopeInternal)
      val e = ea.intersection(eb)
      val oriented = if (rnd.nextBoolean()) a.reverse() else a
      ConvexClip.clip(oriented, b) match {
        case Some(p) =>
          assert(p.norm().equalsExact(Wkb.envelopePolygon(e).norm()), s"$a ∩ $b -> $p")
          assert(p.getArea == a.intersection(b).getArea)
        case None =>
          assert(e.isNull || e.getWidth == 0 || e.getHeight == 0, s"$a ∩ $b fell back")
      }
    }
  }

  test("edge cases hand back to JTS or match its output") {
    val sq = Wkb.box(0, 0, 2, 2)
    val fallback = Seq(
      "shared edge" -> (sq, Wkb.box(2, 0, 4, 2)),
      "shared corner" -> (sq, Wkb.box(2, 2, 4, 4)),
      "disjoint" -> (sq, Wkb.box(5, 5, 6, 6)),
      "rotated shared edge" -> (poly((0, 0), (3, 1), (1, 4)), poly((3, 1), (0, 0), (2, -3))),
      "polygon with a hole" -> (wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"), sq),
      "multipolygon" -> (wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((1.5 1.5, 3 1.5, 3 3, 1.5 3, 1.5 1.5)))"), sq),
      "non-convex ring" -> (poly((0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)), sq))
    fallback.foreach { case (name, (a, b)) =>
      assert(ConvexClip.clip(a, b).isEmpty && ConvexClip.clip(b, a).isEmpty, name)
      assert(ConvexClip.intersection(a, b).equalsExact(a.intersection(b)), name)
    }
    val fast = Seq(
      "identical" -> (quad(), None),
      "nested" -> (sq, Some(Wkb.box(0.5, 0.25, 1.5, 1.75))),
      "collinear vertices" -> (poly((0, 0), (1, 0), (2, 0), (2, 2), (0, 2)), Some(Wkb.box(1, -1, 3, 1))),
      "repeated points" -> (poly((0, 0), (2, 0), (2, 0), (2, 2), (0, 2), (0, 2)), Some(Wkb.box(1, 1, 3, 3))))
    fast.foreach { case (name, (a, bOpt)) =>
      val b = bOpt.getOrElse(a.copy())
      val jts = a.intersection(b)
      val p = ConvexClip.clip(a, b)
      assert(p.nonEmpty, name)
      assert(p.get.isValid && p.get.equalsTopo(jts) && p.get.getArea == jts.getArea, name)
      assert(ConvexClip.intersection(a, b).getGeometryType == jts.getGeometryType, name)
    }
  }
}
