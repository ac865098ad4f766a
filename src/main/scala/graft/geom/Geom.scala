package graft.geom

/** Minimal immutable planar geometry kernel (no external deps;
  * the container is zero-egress, so no JTS/GEOS).
  *
  * Implements exactly the primitives the reference uses
  * (reference pycart/cartogram.py + border_util.py): area, perimeter,
  * centroid, bbox, affine scale/translate, distances, point buffer
  * (circle), Queen-contiguity touch test and shared-boundary length.
  *
  * Everything is a pure function over immutable values so instances
  * can be used inside Spark expressions/UDFs and serialized freely.
  *
  * Numeric discipline: accumulations run left-to-right in input order
  * so results are reproducible bit-for-bit for a given vertex order
  * (the oracle SQL replicates the same term order).
  */
final case class Pt(x: Double, y: Double) {
  def dist(o: Pt): Double = {
    val dx = o.x - x; val dy = o.y - y
    math.sqrt(dx * dx + dy * dy) // NOT hypot: sqrt matches SQL engines bit-for-bit
  }
}

/** A linear ring: closed (first point repeated as last). */
final case class Ring(pts: IndexedSeq[Pt]) {
  require(pts.length >= 4, s"ring needs >=4 points, got ${pts.length}")

  /** Signed shoelace area (positive = CCW), computed in a local frame
    * anchored at the first vertex: for coordinates far from the origin
    * the naive cross products cancel catastrophically; subtracting the
    * anchor is exact for integer-valued coordinates (oracle parity)
    * and keeps relative error tied to the ring's own extent. */
  def signedArea: Double = {
    val ox = pts(0).x; val oy = pts(0).y
    var acc = 0.0
    var i = 0
    while (i < pts.length - 1) {
      val ax = pts(i).x - ox; val ay = pts(i).y - oy
      val bx = pts(i + 1).x - ox; val by = pts(i + 1).y - oy
      acc += ax * by - bx * ay
      i += 1
    }
    acc / 2.0
  }

  def perimeter: Double = {
    var acc = 0.0
    var i = 0
    while (i < pts.length - 1) { acc += pts(i).dist(pts(i + 1)); i += 1 }
    acc
  }

  /** (centroid, signedArea) via local-frame shoelace (see signedArea
    * for why the anchor subtraction matters numerically). */
  def areaCentroid: (Pt, Double) = {
    val ox = pts(0).x; val oy = pts(0).y
    var cx = 0.0; var cy = 0.0; var acc = 0.0
    var i = 0
    while (i < pts.length - 1) {
      val ax = pts(i).x - ox; val ay = pts(i).y - oy
      val bx = pts(i + 1).x - ox; val by = pts(i + 1).y - oy
      val cross = ax * by - bx * ay
      acc += cross
      cx += (ax + bx) * cross
      cy += (ay + by) * cross
      i += 1
    }
    val a = acc / 2.0
    if (a == 0.0) (Pt(ox, oy), 0.0)
    else (Pt(ox + cx / (6.0 * a), oy + cy / (6.0 * a)), a)
  }

  def map(f: Pt => Pt): Ring = Ring(pts.map(f))
  def segments: Iterator[(Pt, Pt)] =
    (0 until pts.length - 1).iterator.map(i => (pts(i), pts(i + 1)))
}

final case class Poly(shell: Ring, holes: IndexedSeq[Ring] = Vector.empty) {
  def rings: Iterator[Ring] = Iterator(shell) ++ holes.iterator
  def map(f: Pt => Pt): Poly = Poly(shell.map(f), holes.map(_.map(f)))
}

sealed trait Geom {
  def map(f: Pt => Pt): Geom
}
final case class GPoint(p: Pt) extends Geom {
  def map(f: Pt => Pt): GPoint = GPoint(f(p))
}
final case class GPolygon(poly: Poly) extends Geom {
  def map(f: Pt => Pt): GPolygon = GPolygon(poly.map(f))
}
final case class GMultiPolygon(polys: IndexedSeq[Poly]) extends Geom {
  def map(f: Pt => Pt): GMultiPolygon = GMultiPolygon(polys.map(_.map(f)))
}

object Ops {

  private def polysOf(g: Geom): IndexedSeq[Poly] = g match {
    case GPoint(_)           => Vector.empty
    case GPolygon(p)         => Vector(p)
    case GMultiPolygon(ps)   => ps
  }

  /** Area: shell minus holes (absolute values, like shapely .area). */
  def area(g: Geom): Double = g match {
    case GPoint(_) => 0.0
    case other =>
      var acc = 0.0
      polysOf(other).foreach { p =>
        acc += math.abs(p.shell.signedArea)
        p.holes.foreach(h => acc -= math.abs(h.signedArea))
      }
      acc
  }

  /** Perimeter = total boundary length (shapely .length). */
  def perimeter(g: Geom): Double = g match {
    case GPoint(_) => 0.0
    case other =>
      var acc = 0.0
      polysOf(other).foreach(p => p.rings.foreach(acc += _.perimeter))
      acc
  }

  /** Area-weighted centroid (shapely .centroid for polygons):
    * per-ring local-frame centroids combined by |area| weight, holes
    * subtracting. */
  def centroid(g: Geom): Pt = g match {
    case GPoint(p) => p
    case GPolygon(p) if p.holes.isEmpty => p.shell.areaCentroid._1
    case other =>
      var wx = 0.0; var wy = 0.0; var aTot = 0.0
      polysOf(other).foreach { p =>
        val (c, sa) = p.shell.areaCentroid
        val w = math.abs(sa)
        wx += w * c.x; wy += w * c.y; aTot += w
        p.holes.foreach { h =>
          val (hc, ha) = h.areaCentroid
          val hw = math.abs(ha)
          wx -= hw * hc.x; wy -= hw * hc.y; aTot -= hw
        }
      }
      Pt(wx / aTot, wy / aTot)
  }

  /** (minx, miny, maxx, maxy) */
  def bbox(g: Geom): (Double, Double, Double, Double) = {
    var minx = Double.PositiveInfinity; var miny = Double.PositiveInfinity
    var maxx = Double.NegativeInfinity; var maxy = Double.NegativeInfinity
    def visit(p: Pt): Unit = {
      if (p.x < minx) minx = p.x; if (p.x > maxx) maxx = p.x
      if (p.y < miny) miny = p.y; if (p.y > maxy) maxy = p.y
    }
    g match {
      case GPoint(p) => visit(p)
      case other => polysOf(other).foreach(_.rings.foreach(_.pts.foreach(visit)))
    }
    (minx, miny, maxx, maxy)
  }

  /** Affine scale about an origin — shapely.affinity.scale semantics:
    * x' = ox + (x - ox) * fx (reference cartogram.py:238). */
  def scale(g: Geom, fx: Double, fy: Double, origin: Pt): Geom =
    g.map(p => Pt(origin.x + (p.x - origin.x) * fx, origin.y + (p.y - origin.y) * fy))

  /** shapely.affinity.translate (reference cartogram.py:400). */
  def translate(g: Geom, dx: Double, dy: Double): Geom =
    g.map(p => Pt(p.x + dx, p.y + dy))

  /** Circle polygon approximating shapely Point.buffer: quadsegs
    * segments per quarter circle, 4*q vertices, CCW from angle 0
    * (reference cartogram.py:408 builds Dorling circles this way). */
  def bufferPoint(c: Pt, r: Double, quadsegs: Int = 16): GPolygon = {
    val n = 4 * quadsegs
    val pts = (0 to n).map { i =>
      val theta = 2.0 * math.Pi * i / n
      Pt(c.x + r * math.cos(theta), c.y + r * math.sin(theta))
    }
    // close exactly on the first vertex
    GPolygon(Poly(Ring(pts.init :+ pts.head.copy())))
  }

  // ---- distances ----

  def pointSegDist(p: Pt, a: Pt, b: Pt): Double = {
    val abx = b.x - a.x; val aby = b.y - a.y
    val apx = p.x - a.x; val apy = p.y - a.y
    val len2 = abx * abx + aby * aby
    val t =
      if (len2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0, (apx * abx + apy * aby) / len2))
    val qx = a.x + t * abx; val qy = a.y + t * aby
    val dx = p.x - qx; val dy = p.y - qy
    math.sqrt(dx * dx + dy * dy)
  }

  private def segsIntersect(a: Pt, b: Pt, c: Pt, d: Pt): Boolean = {
    def orient(p: Pt, q: Pt, r: Pt): Double =
      (q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x)
    def onSeg(p: Pt, q: Pt, r: Pt): Boolean =
      math.min(p.x, r.x) <= q.x && q.x <= math.max(p.x, r.x) &&
      math.min(p.y, r.y) <= q.y && q.y <= math.max(p.y, r.y)
    val o1 = orient(a, b, c); val o2 = orient(a, b, d)
    val o3 = orient(c, d, a); val o4 = orient(c, d, b)
    if (((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
        ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))) true
    else (o1 == 0 && onSeg(a, c, b)) || (o2 == 0 && onSeg(a, d, b)) ||
         (o3 == 0 && onSeg(c, a, d)) || (o4 == 0 && onSeg(c, b, d))
  }

  private def segSegDist(a: Pt, b: Pt, c: Pt, d: Pt): Double =
    if (segsIntersect(a, b, c, d)) 0.0
    else math.min(
      math.min(pointSegDist(a, c, d), pointSegDist(b, c, d)),
      math.min(pointSegDist(c, a, b), pointSegDist(d, a, b)))

  /** Point-in-polygon (ray cast), boundary counts as inside. */
  def contains(poly: Poly, p: Pt): Boolean = {
    def inRing(r: Ring): Boolean = {
      var inside = false
      r.segments.foreach { case (a, b) =>
        if (pointSegDist(p, a, b) == 0.0) return true
        val cond = (a.y > p.y) != (b.y > p.y)
        if (cond) {
          val xint = a.x + (p.y - a.y) * (b.x - a.x) / (b.y - a.y)
          if (p.x < xint) inside = !inside
        }
      }
      inside
    }
    if (!inRing(poly.shell)) false
    else !poly.holes.exists(h => inRing(h) && {
      // on a hole boundary still counts as inside the polygon
      h.segments.forall { case (a, b) => pointSegDist(p, a, b) != 0.0 }
    })
  }

  /** shapely-style distance: 0 when geometries intersect, else min
    * distance between boundaries (reference uses distance between
    * point geometries in Dorling and polygon distance implicitly). */
  def distance(g1: Geom, g2: Geom): Double = (g1, g2) match {
    case (GPoint(p), GPoint(q)) => p.dist(q)
    case (GPoint(p), other)     => distPointPolys(p, polysOf(other))
    case (other, GPoint(p))     => distPointPolys(p, polysOf(other))
    case (a, b) =>
      val pa = polysOf(a); val pb = polysOf(b)
      // any containment => intersecting => 0
      if (pa.exists(p1 => pb.exists(p2 =>
            contains(p1, p2.shell.pts.head) || contains(p2, p1.shell.pts.head))))
        return 0.0
      var best = Double.PositiveInfinity
      for (p1 <- pa; p2 <- pb; s1 <- p1.rings.flatMap(_.segments); s2 <- p2.rings.flatMap(_.segments)) {
        val d = segSegDist(s1._1, s1._2, s2._1, s2._2)
        if (d < best) best = d
        if (best == 0.0) return 0.0
      }
      best
  }

  private def distPointPolys(p: Pt, polys: IndexedSeq[Poly]): Double = {
    if (polys.exists(contains(_, p))) return 0.0
    var best = Double.PositiveInfinity
    polys.foreach(_.rings.foreach(_.segments.foreach { case (a, b) =>
      val d = pointSegDist(p, a, b); if (d < best) best = d
    }))
    best
  }

  // ---- Queen contiguity (reference border_util.py:5) ----

  /** Every boundary segment of each polygon part, built once so the
    * O(|A|·|B|) pair loops below do not rebuild the inner side per
    * outer segment. */
  private def partSegments(g: Geom): IndexedSeq[IndexedSeq[(Pt, Pt)]] =
    polysOf(g).map(_.rings.flatMap(_.segments).toIndexedSeq)

  private def touchesSegs(sa: IndexedSeq[IndexedSeq[(Pt, Pt)]],
                          sb: IndexedSeq[IndexedSeq[(Pt, Pt)]]): Boolean =
    sa.exists(s1 => sb.exists(s2 =>
      s1.exists { case (a, b) => s2.exists { case (c, d) => segsIntersect(a, b, c, d) } }))

  private def sharedSegs(sa: IndexedSeq[IndexedSeq[(Pt, Pt)]],
                         sb: IndexedSeq[IndexedSeq[(Pt, Pt)]]): Double = {
    var acc = 0.0
    for (s1 <- sa; s2 <- sb; u <- s1; v <- s2) acc += collinearOverlap(u._1, u._2, v._1, v._2)
    acc
  }

  /** True when boundaries share at least a point (edge OR vertex). */
  def touches(g1: Geom, g2: Geom): Boolean =
    touchesSegs(partSegments(g1), partSegments(g2))

  /** Length of the shared (collinear, overlapping) boundary between
    * two geometries — the Queen weight in the reference
    * (border_util.py:44: intersection(...).length). Vertex-only
    * contact contributes 0. */
  def sharedBorderLength(g1: Geom, g2: Geom): Double =
    sharedSegs(partSegments(g1), partSegments(g2))

  /** The Queen weight of a candidate pair in one pass over its
    * segments: `sharedBorderLength` (bit-identical — same terms, same
    * order) when the boundaries touch, None when they do not. */
  def queenWeight(g1: Geom, g2: Geom): Option[Double] = {
    val sa = partSegments(g1); val sb = partSegments(g2)
    if (touchesSegs(sa, sb)) Some(sharedSegs(sa, sb)) else None
  }

  /** Sutherland-Hodgman clip of a polygon against a CONVEX clip
    * polygon; returns the clipped ring's vertices (possibly empty).
    * Standard algorithm: successively clip against each edge of the
    * convex window, keeping inside vertices and edge intersections. */
  def convexClip(subject: Ring, clip: Ring): IndexedSeq[Pt] = {
    // ensure CCW clip orientation so "inside" = left of each edge
    val clipPts =
      if (clip.signedArea >= 0) clip.pts else clip.pts.reverse
    var out: IndexedSeq[Pt] = subject.pts.dropRight(1)
    var e = 0
    while (e < clipPts.length - 1 && out.nonEmpty) {
      val a = clipPts(e); val b = clipPts(e + 1)
      def inside(p: Pt): Boolean =
        (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) >= 0
      def intersect(p: Pt, q: Pt): Pt = {
        // line(a,b) x segment(p,q)
        val a1 = b.y - a.y; val b1 = a.x - b.x
        val c1 = a1 * a.x + b1 * a.y
        val a2 = q.y - p.y; val b2 = p.x - q.x
        val c2 = a2 * p.x + b2 * p.y
        val det = a1 * b2 - a2 * b1
        Pt((b2 * c1 - b1 * c2) / det, (a1 * c2 - a2 * c1) / det)
      }
      val in = out
      val next = Vector.newBuilder[Pt]
      var i = 0
      while (i < in.length) {
        val cur = in(i); val prev = in((i + in.length - 1) % in.length)
        (inside(prev), inside(cur)) match {
          case (true, true)   => next += cur
          case (true, false)  => next += intersect(prev, cur)
          case (false, true)  => next += intersect(prev, cur); next += cur
          case (false, false) =>
        }
        i += 1
      }
      out = next.result()
      e += 1
    }
    out
  }

  /** Area of `g1 ∩ g2` where g2's parts are CONVEX (clip windows);
    * subject parts may be any simple polygons. Holes unsupported
    * (the reference surface never needs them — this extends the
    * kernel toward area-weighted spatial joins, SURVEY §8.4). */
  def convexIntersectionArea(g1: Geom, g2: Geom): Double = {
    var acc = 0.0
    for (p1 <- polysOf(g1); p2 <- polysOf(g2)) {
      val clipped = convexClip(p1.shell, p2.shell)
      if (clipped.length >= 3)
        acc += math.abs(Ring(clipped :+ clipped.head).signedArea)
    }
    acc
  }

  // ---- general polygon intersection area (concave x concave) ----
  //
  // Green's-theorem boundary clipping: the boundary of A ∩ B consists
  // of the pieces of ∂A inside B and the pieces of ∂B inside A, so
  // area(A ∩ B) = Σ greenTerm over those pieces traversed CCW
  // (greenTerm(u,v) = (u.x·v.y − v.x·u.y)/2, the shoelace line
  // integral). Each polygon edge is cut at every crossing with the
  // other boundary; each sub-piece contributes with weight 1 when its
  // midpoint is strictly inside, 0 outside, and 1/2 ON the other
  // boundary — shared collinear runs are then counted exactly once
  // when interiors agree (½ + ½) and cancel when the polygons only
  // touch along a line (½ − ½). Unlike a Greiner–Hormann trace there
  // is no linked structure to corrupt on degenerate inputs, multiple
  // intersection components fall out automatically, and concavity is
  // free. O(|A|·|B|) per ring pair with a bbox early-out — geometry
  // kernel scale (thousands of vertices), run data-local inside Spark
  // rows. Closes the kernel's gap vs shapely's general boolean ops
  // (reference border_util.py:48 family computes intersections of
  // arbitrary geometries; the convex clipper below only handles
  // convex clip windows).

  private val locEps = 1e-9

  /** -1 outside, 0 on the boundary (within eps), +1 strictly inside. */
  private def locateInRing(p: Pt, r: Ring, eps: Double): Int = {
    var inside = false
    var i = 0
    val pts = r.pts
    while (i < pts.length - 1) {
      val a = pts(i); val b = pts(i + 1)
      if (pointSegDist(p, a, b) <= eps) return 0
      if ((a.y > p.y) != (b.y > p.y)) {
        val xint = a.x + (p.y - a.y) * (b.x - a.x) / (b.y - a.y)
        if (p.x < xint) inside = !inside
      }
      i += 1
    }
    if (inside) 1 else -1
  }

  /** Cut parameters t in (0,1) where segment (p,q) meets ring r:
    * proper crossings at their intersection parameter, collinear
    * overlaps at both overlap endpoints (entry/exit of the shared
    * run). Approximate cuts are fine — pieces are classified by
    * midpoint afterwards. */
  private def cutParams(p: Pt, q: Pt, r: Ring, eps: Double): Array[Double] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ux = q.x - p.x; val uy = q.y - p.y
    r.segments.foreach { case (c, d) =>
      val vx = d.x - c.x; val vy = d.y - c.y
      val denom = ux * vy - uy * vx
      val wx = c.x - p.x; val wy = c.y - p.y
      // Parallel test on the DIMENSIONLESS sine of the angle:
      // |denom| = |u||v||sin|, so comparing against eps (a length)
      // would misread genuine crossings of short segments in
      // large-extent polygons as parallel (units length^2 vs
      // length). A sloppy near-parallel cut is harmless — t lands
      // outside (0,1) or just splits a piece finer, and midpoints
      // reclassify — but a MISSED cut mis-weights a whole piece.
      if (math.abs(denom) >
          locEps * math.sqrt(ux * ux + uy * uy) * math.sqrt(vx * vx + vy * vy)) {
        val t = (wx * vy - wy * vx) / denom
        val u = (wx * uy - wy * ux) / denom
        if (t > 0 && t < 1 && u >= -eps && u <= 1 + eps) out += t
      } else if (math.abs(wx * uy - wy * ux) <= eps * math.max(1.0, math.sqrt(ux * ux + uy * uy))) {
        // collinear: cut at the projections of c and d
        val len2 = ux * ux + uy * uy
        if (len2 > 0) {
          val tc = (wx * ux + wy * uy) / len2
          val td = ((d.x - p.x) * ux + (d.y - p.y) * uy) / len2
          for (t <- Seq(tc, td)) if (t > 0 && t < 1) out += t
        }
      }
    }
    out.toArray
  }

  /** area(a ∩ b) for two simple rings (any winding; normalized CCW). */
  private def ringIntersectionArea(a: Ring, b: Ring, eps: Double): Double = {
    val (aminx, aminy, amaxx, amaxy) = ringBbox(a)
    val (bminx, bminy, bmaxx, bmaxy) = ringBbox(b)
    if (aminx > bmaxx || bminx > amaxx || aminy > bmaxy || bminy > amaxy) return 0.0
    val ac = if (a.signedArea >= 0) a else Ring(a.pts.reverse)
    val bc = if (b.signedArea >= 0) b else Ring(b.pts.reverse)
    def greenTerm(u: Pt, v: Pt): Double = (u.x * v.y - v.x * u.y) / 2.0
    def boundaryContribution(src: Ring, other: Ring): Double = {
      var acc = 0.0
      src.segments.foreach { case (p, q) =>
        val cuts = (Array(0.0, 1.0) ++ cutParams(p, q, other, eps)).sorted
        var i = 0
        while (i < cuts.length - 1) {
          val t0 = cuts(i); val t1 = cuts(i + 1)
          if (t1 - t0 > eps) {
            val tm = (t0 + t1) / 2
            val m = Pt(p.x + tm * (q.x - p.x), p.y + tm * (q.y - p.y))
            val w = locateInRing(m, other, eps) match {
              case 1  => 1.0
              case 0  => 0.5
              case _  => 0.0
            }
            if (w > 0) {
              val u = Pt(p.x + t0 * (q.x - p.x), p.y + t0 * (q.y - p.y))
              val v = Pt(p.x + t1 * (q.x - p.x), p.y + t1 * (q.y - p.y))
              acc += w * greenTerm(u, v)
            }
          }
          i += 1
        }
      }
      acc
    }
    val area = boundaryContribution(ac, bc) + boundaryContribution(bc, ac)
    math.max(area, 0.0)
  }

  private def ringBbox(r: Ring): (Double, Double, Double, Double) = {
    var minx = Double.PositiveInfinity; var miny = Double.PositiveInfinity
    var maxx = Double.NegativeInfinity; var maxy = Double.NegativeInfinity
    r.pts.foreach { p =>
      if (p.x < minx) minx = p.x; if (p.x > maxx) maxx = p.x
      if (p.y < miny) miny = p.y; if (p.y > maxy) maxy = p.y
    }
    (minx, miny, maxx, maxy)
  }

  /** area(g1 ∩ g2) for ARBITRARY simple polygons/multipolygons —
    * concave shapes, holes, multiple intersection components all
    * supported. Holes enter by inclusion–exclusion over signed ring
    * pairs: with 1_A = 1_shell − Σ 1_hole (holes nested, disjoint),
    * area(A∩B) = Σ sign_a·sign_b·area(ring_a ∩ ring_b). The epsilon
    * (scaled to the inputs' extent) only affects classification of
    * exactly-on-boundary pieces; generic-position inputs are exact up
    * to float rounding. */
  def intersectionArea(g1: Geom, g2: Geom): Double = {
    def ringsSigned(g: Geom): IndexedSeq[(Ring, Double)] =
      polysOf(g).flatMap(p =>
        (p.shell, 1.0) +: p.holes.map(h => (h, -1.0)))
    val rs1 = ringsSigned(g1)
    val rs2 = ringsSigned(g2)
    if (rs1.isEmpty || rs2.isEmpty) return 0.0
    val extent = {
      val (ax0, ay0, ax1, ay1) = bbox(g1)
      val (bx0, by0, bx1, by1) = bbox(g2)
      math.max(1.0, math.max(math.max(ax1 - ax0, ay1 - ay0), math.max(bx1 - bx0, by1 - by0)))
    }
    val eps = locEps * extent
    var acc = 0.0
    for ((ra, sa) <- rs1; (rb, sb) <- rs2)
      acc += sa * sb * ringIntersectionArea(ra, rb, eps)
    math.max(acc, 0.0)
  }

  /** g1 ∩ g2 as a GEOMETRY (shapely `intersection` parity for
    * area-bearing results — reference border_util.py:48 family).
    *
    * Same Green's-theorem piece machinery as [[intersectionArea]],
    * but instead of summing shoelace terms the kept pieces are
    * STITCHED into rings. Orientation does the bookkeeping: with
    * shells CCW and holes CW, every boundary piece of either input
    * carries its polygon's interior on its LEFT, so every kept piece
    * (midpoint inside the other polygon, or on its boundary with the
    * two interiors on the same side) has the INTERSECTION's interior
    * on its left; following end-to-start chains therefore walks each
    * boundary component of A ∩ B exactly once. CCW output rings are
    * shells, CW rings holes (assigned to the smallest containing
    * shell). Shared collinear runs surface as one same-direction
    * piece from each input — one copy is kept; pure line contact
    * (interiors on opposite sides) surfaces as two opposite-direction
    * copies — both dropped, so degenerate contact yields no ring.
    * Zero-area results return MULTIPOLYGON EMPTY (this is the
    * POLYGONAL intersection; line/point contact is covered by
    * [[touches]]/[[sharedBorderLength]]).
    *
    * At a transversal boundary crossing exactly one kept piece leaves
    * the junction (the crossing flips inside/outside for the other
    * input's continuation), so stitching is deterministic; at
    * degenerate multi-touch vertices the sharpest-left-turn rule
    * keeps each CCW face tight. O(|A|·|B|) like the area path —
    * geometry-kernel scale, run data-local inside Spark rows. */
  def intersection(g1: Geom, g2: Geom): Geom = {
    val ps1 = polysOf(g1)
    val ps2 = polysOf(g2)
    if (ps1.isEmpty || ps2.isEmpty) return GMultiPolygon(Vector.empty)
    val extent = {
      val (ax0, ay0, ax1, ay1) = bbox(g1)
      val (bx0, by0, bx1, by1) = bbox(g2)
      math.max(1.0, math.max(math.max(ax1 - ax0, ay1 - ay0), math.max(bx1 - bx0, by1 - by0)))
    }
    val eps = locEps * extent

    // interior-on-the-left orientation: shells CCW, holes CW
    def oriented(ps: IndexedSeq[Poly]): IndexedSeq[Ring] = ps.flatMap { p =>
      val s = if (p.shell.signedArea >= 0) p.shell else Ring(p.shell.pts.reverse)
      val hs = p.holes.map(h => if (h.signedArea <= 0) h else Ring(h.pts.reverse))
      s +: hs
    }
    // -1 outside / 0 on boundary / +1 strictly inside a poly SET
    def locate(ps: IndexedSeq[Poly], p: Pt): Int = {
      var best = -1
      ps.foreach { poly =>
        locateInRing(p, poly.shell, eps) match {
          case 0 => return 0
          case 1 =>
            var inHole = false
            poly.holes.foreach { h =>
              locateInRing(p, h, eps) match {
                case 0 => return 0
                case 1 => inHole = true
                case _ =>
              }
            }
            if (!inHole) best = 1
          case _ =>
        }
      }
      best
    }

    final case class Piece(u: Pt, v: Pt, fromA: Boolean, onBoundary: Boolean)
    def piecesOf(srcRings: IndexedSeq[Ring], otherRings: IndexedSeq[Ring],
                 otherPolys: IndexedSeq[Poly], fromA: Boolean): Vector[Piece] = {
      val out = Vector.newBuilder[Piece]
      srcRings.foreach { ring =>
        ring.segments.foreach { case (p, q) =>
          val cuts = (Array(0.0, 1.0) ++
            otherRings.flatMap(r => cutParams(p, q, r, eps))).sorted
          var i = 0
          while (i < cuts.length - 1) {
            val t0 = cuts(i); val t1 = cuts(i + 1)
            if (t1 - t0 > eps) {
              val m = Pt(p.x + (t0 + t1) / 2 * (q.x - p.x),
                p.y + (t0 + t1) / 2 * (q.y - p.y))
              val loc = locate(otherPolys, m)
              if (loc >= 0)
                out += Piece(Pt(p.x + t0 * (q.x - p.x), p.y + t0 * (q.y - p.y)),
                  Pt(p.x + t1 * (q.x - p.x), p.y + t1 * (q.y - p.y)),
                  fromA, loc == 0)
            }
            i += 1
          }
        }
      }
      out.result()
    }
    val oa = oriented(ps1)
    val ob = oriented(ps2)
    val rawA = piecesOf(oa, ob, ps2, fromA = true)
    val rawB = piecesOf(ob, oa, ps1, fromA = false)

    // endpoint quantization for keying (eps-scale grid)
    val q = eps * 4
    def key(p: Pt): (Long, Long) = (math.round(p.x / q), math.round(p.y / q))

    // shared-run resolution (the ring-stitch form of the area path's
    // half weights): same-direction A/B copies -> keep one; opposite
    // directions (line contact, no interior) -> drop both
    val (bd, interior) = (rawA ++ rawB).partition(_.onBoundary)
    val kept = Vector.newBuilder[Piece]
    kept ++= interior
    bd.groupBy(pc => Set(key(pc.u), key(pc.v))).foreach { case (_, grp) =>
      if (grp.size == 1) kept += grp.head
      else {
        val a = grp.filter(_.fromA)
        val b = grp.filterNot(_.fromA)
        if (a.nonEmpty && b.nonEmpty) {
          if (key(a.head.u) == key(b.head.u)) kept += a.head // same direction
        } else grp.headOption.foreach(kept += _) // duplicates from one side
      }
    }

    // stitch directed pieces into closed rings
    val pieces = kept.result().filter(pc => key(pc.u) != key(pc.v)).toArray
    val byStart = pieces.indices.groupBy(i => key(pieces(i).u))
    val used = new Array[Boolean](pieces.length)
    def turnAngle(dIn: Pt, pc: Piece): Double = {
      val dx = pc.v.x - pc.u.x; val dy = pc.v.y - pc.u.y
      math.atan2(dIn.x * dy - dIn.y * dx, dIn.x * dx + dIn.y * dy)
    }
    val rings = Vector.newBuilder[Ring]
    pieces.indices.foreach { start =>
      if (!used(start)) {
        val chain = scala.collection.mutable.ArrayBuffer(start)
        used(start) = true
        val startKey = key(pieces(start).u)
        var cur = start
        var closed = key(pieces(cur).v) == startKey
        var dead = false
        while (!closed && !dead) {
          val cands = byStart.getOrElse(key(pieces(cur).v), Nil).filterNot(used)
          if (cands.isEmpty) dead = true
          else {
            val dIn = Pt(pieces(cur).v.x - pieces(cur).u.x,
              pieces(cur).v.y - pieces(cur).u.y)
            val next = cands.maxBy(i => turnAngle(dIn, pieces(i))) // sharpest left
            used(next) = true
            chain += next
            cur = next
            closed = key(pieces(cur).v) == startKey
          }
        }
        if (closed && chain.length >= 3) {
          val pts = chain.map(i => pieces(i).u).toVector :+ pieces(chain.head).u
          val r = Ring(pts)
          if (math.abs(r.signedArea) > eps * extent) rings += r
        }
      }
    }

    // CCW rings are shells, CW rings holes of the smallest containing shell
    val (shells, holes) = rings.result().partition(_.signedArea > 0)
    val polys = shells.sortBy(s => math.abs(s.signedArea)).map(s => (s,
      scala.collection.mutable.ArrayBuffer.empty[Ring]))
    holes.foreach { h =>
      val (c, _) = h.areaCentroid
      polys.find { case (s, _) => locateInRing(c, s, eps) > 0 }
        .foreach { case (_, hs) => hs += h }
    }
    val out = polys.map { case (s, hs) => Poly(s, hs.toVector) }
    out.length match {
      case 1 => GPolygon(out.head)
      case _ => GMultiPolygon(out.toVector)
    }
  }

  /** Overlap length of two collinear segments; 0 if not collinear. */
  private def collinearOverlap(a: Pt, b: Pt, c: Pt, d: Pt): Double = {
    val ux = b.x - a.x; val uy = b.y - a.y
    val cross1 = ux * (c.y - a.y) - uy * (c.x - a.x)
    val cross2 = ux * (d.y - a.y) - uy * (d.x - a.x)
    val len = math.sqrt(ux * ux + uy * uy)
    if (len == 0.0) return 0.0
    // c and d must both lie on line(a,b) (exact comparison: inputs with
    // exact coords give exact 0 cross products; tolerance for others)
    val eps = 1e-12 * math.max(1.0, len)
    if (math.abs(cross1) > eps || math.abs(cross2) > eps) return 0.0
    // project onto the line, param t in units of len
    def t(p: Pt): Double = ((p.x - a.x) * ux + (p.y - a.y) * uy) / len
    val t1 = 0.0; val t2 = len
    val s1 = math.min(t(c), t(d)); val s2 = math.max(t(c), t(d))
    val lo = math.max(t1, s1); val hi = math.min(t2, s2)
    if (hi > lo) hi - lo else 0.0
  }
}
