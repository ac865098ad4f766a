package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graftext.{ArrayOps, FunctionInjection, SortedLongIntersectCount, VecDotSeq}

import graft.geom._

/** Every scalar measure of one geometry, from ONE WKT parse — the
  * struct [[GeoFunctions.st_measures]] emits. */
case class GeoMeasures(area: Double, perimeter: Double, cx: Double, cy: Double,
                       minx: Double, miny: Double, maxx: Double, maxy: Double)

/** Column-level geometry API over WKT-encoded geometry columns.
  *
  * Geometry decode/compute runs in Scala UDFs (the kernel is pure and
  * allocation-light); all *numeric* cartogram math stays in native
  * `functions._` expressions at the call sites so Catalyst keeps
  * whole-stage codegen for the hot arithmetic, and only the geometry
  * decode pays the UDF boundary. st_* names mirror the OGC/Sedona
  * convention (public API surface familiarity), semantics mirror
  * shapely (what the reference uses).
  */
object GeoFunctions extends Serializable {

  private val areaU = udf((wkt: String) => Ops.area(Wkt.read(wkt)))
  private val perimeterU = udf((wkt: String) => Ops.perimeter(Wkt.read(wkt)))
  private val centroidXU = udf((wkt: String) => Ops.centroid(Wkt.read(wkt)).x)
  private val centroidYU = udf((wkt: String) => Ops.centroid(Wkt.read(wkt)).y)
  private val bboxU = udf((wkt: String) => {
    val (a, b, c, d) = Ops.bbox(Wkt.read(wkt)); Array(a, b, c, d)
  })
  private val measuresU = udf((wkt: String) => {
    val g = Wkt.read(wkt)
    val c = Ops.centroid(g)
    val (minx, miny, maxx, maxy) = Ops.bbox(g)
    GeoMeasures(Ops.area(g), Ops.perimeter(g), c.x, c.y, minx, miny, maxx, maxy)
  })
  private val scaleU = udf((wkt: String, fx: Double, fy: Double, ox: Double, oy: Double) =>
    Wkt.write(Ops.scale(Wkt.read(wkt), fx, fy, Pt(ox, oy))))
  private val scaleAboutCentroidU = udf((wkt: String, f: Double) => {
    val g = Wkt.read(wkt)
    Wkt.write(Ops.scale(g, f, f, Ops.centroid(g)))
  })
  private val translateU = udf((wkt: String, dx: Double, dy: Double) =>
    Wkt.write(Ops.translate(Wkt.read(wkt), dx, dy)))
  private val bufferPointU = udf((x: Double, y: Double, r: Double, quadsegs: Int) =>
    Wkt.write(Ops.bufferPoint(Pt(x, y), r, quadsegs)))
  private val distanceU = udf((w1: String, w2: String) =>
    Ops.distance(Wkt.read(w1), Wkt.read(w2)))
  private val touchesU = udf((w1: String, w2: String) =>
    Ops.touches(Wkt.read(w1), Wkt.read(w2)))
  private val sharedBorderU = udf((w1: String, w2: String) =>
    Ops.sharedBorderLength(Wkt.read(w1), Wkt.read(w2)))
  private val geojsonToWktU = udf((gj: String) => Wkt.write(GeoJson.parseGeometry(gj)))
  private val convexIntersectionAreaU = udf((w1: String, w2: String) =>
    Ops.convexIntersectionArea(Wkt.read(w1), Wkt.read(w2)))
  private val intersectionAreaU = udf((w1: String, w2: String) =>
    Ops.intersectionArea(Wkt.read(w1), Wkt.read(w2)))
  private val intersectionU = udf((w1: String, w2: String) =>
    Wkt.write(Ops.intersection(Wkt.read(w1), Wkt.read(w2))))
  private val transformU = udf((wkt: String, from: String, to: String) =>
    Wkt.write(Proj.transform(Wkt.read(wkt), from, to)))

  def st_area(wkt: Column): Column = areaU(wkt)
  def st_perimeter(wkt: Column): Column = perimeterU(wkt)
  def st_centroid_x(wkt: Column): Column = centroidXU(wkt)
  def st_centroid_y(wkt: Column): Column = centroidYU(wkt)
  /** array(minx, miny, maxx, maxy) */
  def st_bbox(wkt: Column): Column = bboxU(wkt)
  /** struct(area, perimeter, cx, cy, minx, miny, maxx, maxy) from a
    * SINGLE parse of the WKT — the decode-once path for
    * multi-measure projections (q20's shape), where per-measure UDFs
    * would re-parse the geometry once per output column. Keep the
    * struct in its own projection (select the struct, then extract
    * fields in a second select): Catalyst declines to collapse
    * projects when that would duplicate a non-cheap expression, so
    * the plan keeps exactly one UDF invocation per row. */
  def st_measures(wkt: Column): Column = measuresU(wkt)
  def st_scale(wkt: Column, fx: Column, fy: Column, ox: Column, oy: Column): Column =
    scaleU(wkt, fx, fy, ox, oy)
  def st_scale_about_centroid(wkt: Column, f: Column): Column = scaleAboutCentroidU(wkt, f)
  def st_translate(wkt: Column, dx: Column, dy: Column): Column = translateU(wkt, dx, dy)
  def st_buffer_point(x: Column, y: Column, r: Column, quadsegs: Column): Column =
    bufferPointU(x, y, r, quadsegs)
  def st_distance(w1: Column, w2: Column): Column = distanceU(w1, w2)
  def st_touches(w1: Column, w2: Column): Column = touchesU(w1, w2)
  def st_shared_border(w1: Column, w2: Column): Column = sharedBorderU(w1, w2)
  def st_geojson_to_wkt(gj: Column): Column = geojsonToWktU(gj)
  /** area(g1 ∩ g2) with convex g2 parts (Sutherland-Hodgman). */
  def st_convex_intersection_area(w1: Column, w2: Column): Column =
    convexIntersectionAreaU(w1, w2)
  /** area(g1 ∩ g2) for ARBITRARY polygons — concave shapes, holes,
    * multipolygons (Green's-theorem boundary clipping; shapely
    * general-booleans parity for area queries). */
  def st_intersection_area(w1: Column, w2: Column): Column =
    intersectionAreaU(w1, w2)
  /** g1 ∩ g2 as WKT (polygonal result; MULTIPOLYGON EMPTY when the
    * intersection carries no area — shapely `intersection` parity
    * for the polygon-output case). */
  def st_intersection(w1: Column, w2: Column): Column =
    intersectionU(w1, w2)
  /** Reproject WKT between CRSs (EPSG:4326 <-> EPSG:3857; see
    * geom.Proj — unknown pairs fail loudly). */
  def st_transform(wkt: Column, from: Column, to: Column): Column =
    transformU(wkt, from, to)

  /** Inject every function into a SparkSessionExtensions hook —
    * cluster-wide availability via spark.sql.extensions
    * (see graft.GraftExtensions). */
  def injectInto(ext: SparkSessionExtensions): Unit = {
    all.foreach { case (name, u) => FunctionInjection.inject(ext, name, u) }
    FunctionInjection.injectExpr(ext, "sorted_intersect_count",
      exprs => SortedLongIntersectCount(exprs(0), exprs(1)))
    FunctionInjection.injectExpr(ext, "vec_dot",
      exprs => VecDotSeq(exprs(0), exprs(1)))
  }

  /** Late-bind every function into an existing session through the
    * same builder lambdas the extension uses. */
  def registerBuilders(spark: SparkSession): Unit = {
    all.foreach { case (name, u) => FunctionInjection.registerInto(spark, name, u) }
    FunctionInjection.registerExprInto(spark, "sorted_intersect_count",
      exprs => SortedLongIntersectCount(exprs(0), exprs(1)))
    FunctionInjection.registerExprInto(spark, "vec_dot",
      exprs => VecDotSeq(exprs(0), exprs(1)))
  }

  private def all = Seq(
    "st_area" -> areaU, "st_perimeter" -> perimeterU,
    "st_centroid_x" -> centroidXU, "st_centroid_y" -> centroidYU,
    "st_bbox" -> bboxU, "st_measures" -> measuresU, "st_scale" -> scaleU,
    "st_scale_about_centroid" -> scaleAboutCentroidU,
    "st_translate" -> translateU, "st_buffer_point" -> bufferPointU,
    "st_distance" -> distanceU, "st_touches" -> touchesU,
    "st_shared_border" -> sharedBorderU, "st_geojson_to_wkt" -> geojsonToWktU,
    "st_convex_intersection_area" -> convexIntersectionAreaU,
    "st_intersection_area" -> intersectionAreaU,
    "st_intersection" -> intersectionU,
    "st_transform" -> transformU)

  /** Register all functions for SQL use in an existing session —
    * the same name list the extension injects, so the two cannot
    * drift apart. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, u) => spark.udf.register(name, u) }
}
