package graft

import graft.functions.GeoFunctions

/** The SQL-registered surface of the geometry functions. */
class GeoSqlSpec extends SparkSuite {

  test("st_* functions are callable from SQL after register()") {
    GeoFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  st_area('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS a,
        |  st_perimeter('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS p,
        |  st_centroid_x('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS cx,
        |  st_distance('POINT (0 0)', 'POINT (3 4)') AS d,
        |  st_touches('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
        |             'POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))') AS t,
        |  st_shared_border('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))',
        |                   'POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))') AS sb
        |""".stripMargin).collect()(0)
    assert(row.getAs[Double]("a") === 16.0)
    assert(row.getAs[Double]("p") === 16.0)
    assert(row.getAs[Double]("cx") === 2.0)
    assert(row.getAs[Double]("d") === 5.0)
    assert(row.getAs[Boolean]("t"))
    assert(row.getAs[Double]("sb") === 1.0)
  }

  test("register() covers every st_* function the extension injects") {
    // a fresh session: nothing registered yet, so only register() can
    // make these three callable
    val s = spark.newSession()
    Seq("st_intersection_area", "st_intersection", "st_transform").foreach { f =>
      assert(!s.catalog.functionExists(f), s"$f present before register()")
    }
    GeoFunctions.register(s)
    val a = "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'"
    val b = "'POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))'"
    val row = s.sql(
      s"""SELECT
         |  st_intersection_area($a, $b) AS ia,
         |  st_area(st_intersection($a, $b)) AS ai,
         |  st_transform('POINT (10 20)', 'EPSG:4326', 'EPSG:3857') AS fwd,
         |  st_transform(st_transform('POINT (10 20)', 'EPSG:4326', 'EPSG:3857'),
         |               'EPSG:3857', 'EPSG:4326') AS back
         |""".stripMargin).collect()(0)
    assert(row.getAs[Double]("ia") === 4.0)
    assert(row.getAs[Double]("ai") === 4.0)
    val fwd = graft.geom.Wkt.read(row.getAs[String]("fwd")).asInstanceOf[graft.geom.GPoint].p
    assert(math.abs(fwd.x - 6378137.0 * math.toRadians(10.0)) < 1e-6)
    val back = graft.geom.Wkt.read(row.getAs[String]("back")).asInstanceOf[graft.geom.GPoint].p
    assert(math.abs(back.x - 10.0) < 1e-9 && math.abs(back.y - 20.0) < 1e-9)
  }

  test("st_measures agrees with the per-measure functions from one parse") {
    GeoFunctions.register(spark)
    val wkt = "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'"
    val row = spark.sql(
      s"""SELECT st_measures($wkt) AS m, st_area($wkt) AS a,
         |  st_perimeter($wkt) AS p, st_bbox($wkt) AS bb""".stripMargin).collect()(0)
    val m = row.getStruct(0)
    assert(m.getAs[Double]("area") === row.getAs[Double]("a"))
    assert(m.getAs[Double]("perimeter") === row.getAs[Double]("p"))
    assert(m.getAs[Double]("cx") === 2.0 && m.getAs[Double]("cy") === 2.0)
    assert(m.getAs[Double]("minx") === 0.0 && m.getAs[Double]("maxx") === 4.0)
    assert(m.getAs[Double]("miny") === 0.0 && m.getAs[Double]("maxy") === 4.0)
  }

  test("q20's multi-measure projection parses each WKT exactly once") {
    val plan = graft.queries.Geo.q20(spark, sf).queryExecution.executedPlan.toString
    val nUdf = "UDF\\(".r.findAllMatchIn(plan).size
    assert(nUdf == 1, s"expected 1 UDF invocation per row, plan has $nUdf:\n$plan")
  }
}
