package graft.geom

import org.locationtech.jts.geom.{Coordinate, Geometry, Polygon}

/** Intersection of two hole-free convex polygons by Sutherland–Hodgman
  * clipping — the overlay kernel of the conservative regrid (grid box ×
  * grid box or Voronoi cell, delphine/regrid.py:267-270) and of the
  * Voronoi clip (cell × clip box, wrf_voronoi.py:19-103), where both
  * shapes are always convex. It replaces JTS's general `OverlayNG` on
  * those pairs: O(n·m) arithmetic on the two vertex rings, no noding
  * and no topology graph.
  *
  * [[clip]] answers only when both inputs are non-empty Polygons
  * without holes whose shells are convex (collinear and repeated
  * vertices allowed), and the clipped ring is again convex with
  * positive area. Everything else — a non-convex or multi-part input,
  * holes, a touching, disjoint or lower-dimension result — is `None`,
  * and [[intersection]] falls back to JTS `intersection`, so those
  * cases keep JTS's semantics exactly.
  *
  * A crossing on an axis-parallel clip edge takes that edge's coordinate
  * exactly (and the other coordinate interpolates along an edge of
  * constant value), so box × box pieces carry exact coordinates.
  */
object ConvexClip {

  /** a ∩ b: the convex fast path when it applies, else JTS. */
  def intersection(a: Geometry, b: Geometry): Geometry =
    clip(a, b).getOrElse(a.intersection(b))

  /** a ∩ b as a polygon (clockwise shell, as JTS overlay emits) when
    * both are hole-free convex polygons and the result has positive
    * area; None otherwise. */
  def clip(a: Geometry, b: Geometry): Option[Polygon] = {
    val c = ccwRing(b)
    var in = if (c == null) null else ccwRing(a)
    if (in == null) return None
    var out = new Ring(in.n + c.n)
    var j = 0
    while (j < c.n && in.n > 0) {
      val ax = c.xs(j); val ay = c.ys(j)
      val k = if (j + 1 == c.n) 0 else j + 1
      val ex = c.xs(k) - ax; val ey = c.ys(k) - ay
      out.n = 0
      var sx = in.xs(in.n - 1); var sy = in.ys(in.n - 1)
      var ds = ex * (sy - ay) - ey * (sx - ax)
      var i = 0
      while (i < in.n) {
        val px = in.xs(i); val py = in.ys(i)
        val dp = ex * (py - ay) - ey * (px - ax)
        // a strict crossing of the clip line (a vertex ON it is kept
        // as itself below, never re-derived from t = 0 or 1)
        if ((ds > 0 && dp < 0) || (ds < 0 && dp > 0)) {
          val t = ds / (ds - dp)
          out.add(if (ex == 0) ax else sx + t * (px - sx),
            if (ey == 0) ay else sy + t * (py - sy))
        }
        if (dp >= 0) out.add(px, py)
        sx = px; sy = py; ds = dp
        i += 1
      }
      val t = in; in = out; out = t
      j += 1
    }
    in.dropRepeats()
    if (!in.convex) return None
    val cs = new Array[Coordinate](in.n + 1)
    var i = 0
    while (i < in.n) { cs(in.n - i) = new Coordinate(in.xs(i), in.ys(i)); i += 1 }
    cs(0) = new Coordinate(cs(in.n))
    Some(a.getFactory.createPolygon(cs))
  }

  /** An open vertex ring in growable parallel arrays. */
  private final class Ring(cap: Int) {
    var xs = new Array[Double](math.max(cap, 4))
    var ys = new Array[Double](xs.length)
    var n = 0

    def add(x: Double, y: Double): Unit = {
      if (n == xs.length) {
        xs = java.util.Arrays.copyOf(xs, 2 * n)
        ys = java.util.Arrays.copyOf(ys, 2 * n)
      }
      xs(n) = x; ys(n) = y; n += 1
    }

    /** Drop consecutive repeated vertices, the wrap-around included. */
    def dropRepeats(): Unit = {
      var w = 0
      var i = 0
      while (i < n) {
        if (w == 0 || xs(i) != xs(w - 1) || ys(i) != ys(w - 1)) {
          xs(w) = xs(i); ys(w) = ys(i); w += 1
        }
        i += 1
      }
      while (w > 1 && xs(w - 1) == xs(0) && ys(w - 1) == ys(0)) w -= 1
      n = w
    }

    /** Twice the signed area (shoelace; > 0 for counter-clockwise). */
    def area2: Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        val k = if (i + 1 == n) 0 else i + 1
        s += (xs(i) - xs(0)) * (ys(k) - ys(0)) - (xs(k) - xs(0)) * (ys(i) - ys(0))
        i += 1
      }
      s
    }

    def reverse(): Unit = {
      var i = 0; var k = n - 1
      while (i < k) {
        val x = xs(i); xs(i) = xs(k); xs(k) = x
        val y = ys(i); ys(i) = ys(k); ys(k) = y
        i += 1; k -= 1
      }
    }

    /** Counter-clockwise, convex, simple, positive area: every turn is
      * left or straight-ahead (never a reversal), and the edge
      * direction's x component changes sign at most twice, so the ring
      * winds exactly once. Assumes no repeated vertices. */
    def convex: Boolean = {
      if (n < 3 || !(area2 > 0)) return false
      var flips = 0
      var firstSign = 0.0; var lastSign = 0.0
      var i = 0
      while (i < n) {
        val k = if (i + 1 == n) 0 else i + 1
        val m = if (k + 1 == n) 0 else k + 1
        val e1x = xs(k) - xs(i); val e1y = ys(k) - ys(i)
        val e2x = xs(m) - xs(k); val e2y = ys(m) - ys(k)
        val cross = e1x * e2y - e1y * e2x
        if (cross < 0 || (cross == 0 && e1x * e2x + e1y * e2y <= 0)) return false
        if (e1x != 0) {
          val sg = math.signum(e1x)
          if (firstSign == 0) firstSign = sg
          else if (sg != lastSign) flips += 1
          lastSign = sg
        }
        i += 1
      }
      if (lastSign != firstSign) flips += 1
      flips <= 2
    }
  }

  /** The shell of a non-empty, hole-free Polygon as an open CCW ring
    * without repeated vertices; null when `g` is anything else or the
    * shell is not convex. */
  private def ccwRing(g: Geometry): Ring = g match {
    case p: Polygon if !p.isEmpty && p.getNumInteriorRing == 0 =>
      val cs = p.getExteriorRing.getCoordinateSequence
      val r = new Ring(cs.size)
      var i = 0
      while (i < cs.size - 1) { r.add(cs.getX(i), cs.getY(i)); i += 1 }
      r.dropRepeats()
      if (r.area2 < 0) r.reverse()
      if (r.convex) r else null
    case _ => null
  }
}
