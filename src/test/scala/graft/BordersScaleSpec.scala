package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GeoFunctions._
import graft.operators.{Borders, Dorling}

/** Cartogram operators at a few hundred regions (the driver fixtures
  * have 4): a 20x20 full tessellation has a closed-form Queen
  * adjacency structure, so border counts/weights verify exactly, and
  * the Dorling loop must stay finite and converging. A generated
  * jittered tessellation checks the one-pass-per-pair borders plan and
  * the one-parse radii against the formulations they replaced. */
class BordersScaleSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  val n = 20
  lazy val grid = {
    import spark.implicits._
    (0 until n * n).map { k =>
      val gx = k % n; val gy = k / n
      val (x0, y0, x1, y1) = (gx * 4, gy * 4, gx * 4 + 4, gy * 4 + 4)
      (k.toLong,
        s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))",
        1.0 + (k % 7))
    }.toDF("id", "geometry", "value")
  }

  test("Queen borders on a 20x20 tessellation match the closed form") {
    val b = Borders.compute(grid, "id", "geometry").collect()
    // directed neighbor count: interior 8, edge 5, corner 3
    val expected = 8 * (n - 2) * (n - 2) + 5 * 4 * (n - 2) + 3 * 4
    assert(b.length === expected)
    // edge-adjacent pairs weigh the full side (4.0), diagonal pairs 0
    b.foreach { r =>
      val i = r.getAs[Long]("focal_id"); val j = r.getAs[Long]("neighbor_id")
      val (xi, yi) = (i % n, i / n); val (xj, yj) = (j % n, j / n)
      val manhattan = math.abs(xi - xj) + math.abs(yi - yj)
      val w = r.getAs[Double]("weight")
      if (manhattan == 1) assert(w === 4.0, s"pair $i-$j") else assert(w === 0.0, s"pair $i-$j")
    }
  }

  test("Queen borders stay exact and bounded with a 100x-extent outlier polygon") {
    import spark.implicits._
    // the 20x20 unit-ish tessellation (extent 4) plus one strip 100x
    // the median extent sitting directly on the grid's top edge: the
    // old max-extent grid would inflate EVERY cell to 400 and collapse
    // the whole input into a handful of buckets; the leveled grid must
    // keep the tessellation's fine cells and still find the strip's
    // adjacencies exactly once.
    val top = 4 * n
    val big = Seq(((n * n).toLong,
      s"POLYGON ((0 $top, 400 $top, 400 ${top + 400}, 0 ${top + 400}, 0 $top))",
      1.0)).toDF("id", "geometry", "value")
    val t0 = System.nanoTime()
    val b = Borders.compute(grid.unionAll(big), "id", "geometry").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // grid-internal adjacency unchanged
    val gridPairs = b.filter(r => r.getAs[Long]("focal_id") < n * n &&
      r.getAs[Long]("neighbor_id") < n * n)
    val expected = 8 * (n - 2) * (n - 2) + 5 * 4 * (n - 2) + 3 * 4
    assert(gridPairs.length === expected)
    // the strip touches exactly the n top-row cells, sharing their
    // full 4.0 top edges (x in [0, 4n] ⊂ [0, 400])
    val bigPairs = b.filter(_.getAs[Long]("focal_id") === n.toLong * n)
    assert(bigPairs.length === n, s"strip adjacencies: ${bigPairs.length}")
    bigPairs.foreach { r =>
      val nb = r.getAs[Long]("neighbor_id")
      assert(nb >= (n - 1).toLong * n && nb < n.toLong * n, s"non-top-row neighbor $nb")
      assert(r.getAs[Double]("weight") === 4.0)
    }
    info(f"outlier borders in $secs%.1f s")
    assert(secs < 60.0, s"outlier grid too slow: $secs s — candidate blow-up?")
  }

  test("driver-side Jacobi fast path matches the distributed step on 400 regions") {
    val fast = Dorling.run(grid, "id", "value", "geometry", iterations = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    val dist = Dorling.run(grid, "id", "value", "geometry", iterations = 3, smallN = 0)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    assert(fast.keySet === dist.keySet)
    // same Jacobi model; only double-vs-decimal summation differs
    fast.foreach { case (id, (fx, fy)) =>
      val (dx, dy) = dist(id)
      assert(math.abs(fx - dx) < 1e-6 && math.abs(fy - dy) < 1e-6, s"region $id")
    }
  }

  test("Jacobi path drift compounds bounded over 30 iterations") {
    // The per-iteration rounding drift between the two paths compounds;
    // this pins the documented envelope (Dorling.run scaladoc: ~1e-5 at
    // 30 iterations, extrapolating to ~1e-4 at the default 100).
    val fast = Dorling.run(grid, "id", "value", "geometry", iterations = 30)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    val dist = Dorling.run(grid, "id", "value", "geometry", iterations = 30, smallN = 0)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    var maxDrift = 0.0
    fast.foreach { case (id, (fx, fy)) =>
      val (dx, dy) = dist(id)
      maxDrift = math.max(maxDrift, math.max(math.abs(fx - dx), math.abs(fy - dy)))
    }
    info(f"max positional drift after 30 iterations: $maxDrift%.2e")
    assert(maxDrift < 1e-5, s"drift $maxDrift exceeds documented envelope")
  }

  test("Dorling stays finite and reduces overlap on 400 regions") {
    val t0 = System.nanoTime()
    val out = Dorling.run(grid, "id", "value", "geometry", iterations = 10, smallN = 0)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length === n * n)
    out.foreach { r =>
      assert(!r.getAs[Double]("x").isNaN && !r.getAs[Double]("y").isNaN)
      assert(r.getAs[Double]("radius") > 0)
    }
    info(f"10 Dorling iterations over ${n * n} regions: $secs%.1f s")
    assert(secs < 120.0, s"Dorling too slow: $secs s")
  }

  // ---- one pass per pair, one reused exchange ----

  /** A jittered m x m quad tessellation (interior vertices moved by a
    * seeded jitter, boundary vertices kept on the straight edges), a
    * MultiPolygon whose first part sits on the top edge over columns
    * 0-2 and whose second part is a far island, and a square touching
    * the lattice only at its bottom-right corner vertex. */
  val m = 12
  lazy val jittered: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(20240601)
    val v = Array.tabulate(m + 1, m + 1) { (i, j) =>
      val inner = i > 0 && i < m && j > 0 && j < m
      def jit = if (inner) rnd.nextDouble() * 2.0 - 1.0 else 0.0
      (i * 4.0 + jit, j * 4.0 + jit)
    }
    def ring(ps: Seq[(Double, Double)]): String =
      (ps :+ ps.head).map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")
    val cells = for (j <- 0 until m; i <- 0 until m) yield
      ((j * m + i).toLong,
        s"POLYGON (${ring(Seq(v(i)(j), v(i + 1)(j), v(i + 1)(j + 1), v(i)(j + 1)))})",
        1.0 + (j * m + i) % 7)
    val top = 4.0 * m
    val multi = ((m * m).toLong, "MULTIPOLYGON ((" +
      ring(Seq((0.0, top), (12.0, top), (12.0, top + 4), (0.0, top + 4))) + "), (" +
      ring(Seq((100.0, 100.0), (104.0, 100.0), (104.0, 104.0), (100.0, 104.0))) + "))", 5.0)
    val corner = ((m * m + 1).toLong,
      s"POLYGON (${ring(Seq((top, -4.0), (top + 4, -4.0), (top + 4, 0.0), (top, 0.0)))})", 3.0)
    (cells :+ multi :+ corner).toDF("id", "geometry", "value")
  }

  /** The former two-branch formulation of Borders.compute, kept as the
    * reference: st_touches filter, st_shared_border projection, and a
    * unionAll of the two directions (each branch re-runs the join and
    * both geometry UDFs). */
  def unionAllReference(df: DataFrame, idCol: String, geomCol: String): DataFrame = {
    val withBox = df
      .select(col(idCol).as("id"), col(geomCol).as("geom"))
      .withColumn("bbox", st_bbox(col("geom")))
      .withColumn("minx", col("bbox")(0)).withColumn("miny", col("bbox")(1))
      .withColumn("maxx", col("bbox")(2)).withColumn("maxy", col("bbox")(3))
      .drop("bbox")
      .withColumn("extent", greatest(col("maxx") - col("minx"), col("maxy") - col("miny")))
    val Array(cellRow) = withBox
      .agg(percentile_approx(col("extent"), lit(0.5), lit(10000)).as("cs"))
      .collect()
    val cs0 = math.max(if (cellRow.isNullAt(0)) 0.0 else cellRow.getDouble(0), 1e-12)
    val leveled = withBox.withColumn("level",
      when(col("extent") <= cs0, 0)
        .otherwise(ceil(log(2.0, col("extent") / cs0)).cast("int")))
    val collected = leveled.select(col("level")).distinct()
      .collect().map(_.getInt(0)).sorted
    val nativeLevels = if (collected.isEmpty) Array(0) else collected
    val binned = leveled
      .withColumn("L", explode(filter(
        array(nativeLevels.map(lit(_)): _*), l => l >= col("level"))))
      .withColumn("cs", lit(cs0) * pow(lit(2.0), col("L").cast("double")))
      .withColumn("cx0", floor(col("minx") / col("cs"))).withColumn("cx1", floor(col("maxx") / col("cs")))
      .withColumn("cy0", floor(col("miny") / col("cs"))).withColumn("cy1", floor(col("maxy") / col("cs")))
      .withColumn("cell", explode(flatten(transform(
        sequence(col("cx0"), col("cx1")),
        cx => transform(sequence(col("cy0"), col("cy1")),
          cy => struct(cx.as("x"), cy.as("y")))))))
      .drop("cx0", "cx1", "cy0", "cy1")
    val l = binned.select(
      col("id").as("l_id"), col("geom").as("l_geom"), col("L"), col("cell"),
      col("cs"), col("level").as("l_level"),
      col("minx").as("l_minx"), col("miny").as("l_miny"),
      col("maxx").as("l_maxx"), col("maxy").as("l_maxy"))
    val r = binned.select(
      col("id").as("r_id"), col("geom").as("r_geom"), col("L"), col("cell"),
      col("level").as("r_level"),
      col("minx").as("r_minx"), col("miny").as("r_miny"),
      col("maxx").as("r_maxx"), col("maxy").as("r_maxy"))
    val pairs = l.join(r, Seq("L", "cell"))
      .filter(col("l_id") < col("r_id"))
      .filter(greatest(col("l_level"), col("r_level")) === col("L"))
      .filter(col("l_minx") <= col("r_maxx") && col("r_minx") <= col("l_maxx") &&
              col("l_miny") <= col("r_maxy") && col("r_miny") <= col("l_maxy"))
      .filter(col("cell.x") === floor(greatest(col("l_minx"), col("r_minx")) / col("cs")) &&
              col("cell.y") === floor(greatest(col("l_miny"), col("r_miny")) / col("cs")))
      .filter(st_touches(col("l_geom"), col("r_geom")))
      .withColumn("weight", st_shared_border(col("l_geom"), col("r_geom")))
      .select(col("l_id"), col("r_id"), col("weight"))
    pairs.select(col("l_id").as("focal_id"), col("r_id").as("neighbor_id"), col("weight"))
      .unionAll(pairs.select(col("r_id").as("focal_id"), col("l_id").as("neighbor_id"), col("weight")))
  }

  /** Sorted (focal, neighbor, weight bits): multiset equality with
    * bit-equal weights. */
  def directed(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("focal_id"), r.getAs[Long]("neighbor_id"),
      java.lang.Double.doubleToRawLongBits(r.getAs[Double]("weight")))).toSeq.sorted

  test("Borders.compute equals the two-branch unionAll formulation, weights bit-equal") {
    val got = directed(Borders.compute(jittered, "id", "geometry"))
    val ref = directed(unionAllReference(jittered, "id", "geometry"))
    assert(got === ref)
    // lattice Queen pairs, plus the MultiPolygon's 3 edges and 1
    // vertex contact, plus the corner square's 1 vertex contact
    val lattice = 8 * (m - 2) * (m - 2) + 5 * 4 * (m - 2) + 3 * 4
    assert(got.length === lattice + 2 * 4 + 2 * 1)
    val w = got.map { case (f, n, bits) => (f, n) -> java.lang.Double.longBitsToDouble(bits) }.toMap
    val multi = (m * m).toLong
    assert(w((multi, (m - 1L) * m)) === 4.0)           // top-left cell's top edge
    assert(w((multi, (m - 1L) * m + 3)) === 0.0)       // vertex (12, 4m) only
    assert(w(((m * m + 1).toLong, m - 1L)) === 0.0)    // corner square
    assert(!got.exists { case (f, n, _) => f == n })
  }

  test("Borders plans one pair kernel and one reused exchange for the binned rows") {
    val b = Borders.compute(jittered, "id", "geometry")
    b.collect() // run it: AQE's final plan carries the stage reuse
    val plan = b.queryExecution.executedPlan
    val text = plan.toString
    // every geometry UDF that reads a pair's WKTs, in the final plan
    val pairUdfs = collect(plan) { case node => node }.flatMap(_.expressions)
      .flatMap(_.collect { case u: ScalaUDF if u.references.exists(_.name.endsWith("_geom")) => u })
    assert(pairUdfs.map(_.udfName).toSeq === Seq(Some("queen_pair_weight")),
      s"expected exactly 1 pair-kernel UDF over the pair:\n$text")
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    val reused = collect(plan) { case e: ReusedExchangeExec => e }
    assert(shuffles.length == 1 && reused.length == 1,
      s"expected 1 ShuffleExchange + 1 ReusedExchange, got " +
        s"${shuffles.length} + ${reused.length}:\n$text")
    assert(reused.head.child.canonicalized == shuffles.head.canonicalized,
      s"the reuse is of another exchange:\n$text")
  }

  test("Dorling.radii gives the per-measure formulation's k and radii bit-for-bit") {
    val borders = Borders.compute(jittered, "id", "geometry").localCheckpoint()
    val (regions, k) = Dorling.radii(jittered, "id", "value", "geometry", Some(borders))
    // the former per-measure formulation: three WKT parses per row
    val ref = jittered.select(col("id"), col("value").cast("double").as("value"),
        col("geometry").as("geom"))
      .withColumn("x", st_centroid_x(col("geom")))
      .withColumn("y", st_centroid_y(col("geom")))
      .withColumn("perimeter", st_perimeter(col("geom")))
    val f = ref.select(col("id").as("focal_id"), col("x").as("fx"),
      col("y").as("fy"), col("value").as("fv"))
    val nb = ref.select(col("id").as("neighbor_id"), col("x").as("nx"),
      col("y").as("ny"), col("value").as("nv"))
    val dec = DecimalType(30, 10)
    val Array(row) = borders.join(f, "focal_id").join(nb, "neighbor_id")
      .select(
        sqrt((col("nx") - col("fx")) * (col("nx") - col("fx")) +
             (col("ny") - col("fy")) * (col("ny") - col("fy"))).as("dist"),
        (sqrt(col("fv") / math.Pi) + sqrt(col("nv") / math.Pi)).as("rsum"))
      .agg(sum(col("dist").cast(dec)).cast("double").as("d"),
           sum(col("rsum").cast(dec)).cast("double").as("r"))
      .collect()
    val kRef = row.getDouble(0) / row.getDouble(1)
    assert(k == kRef, s"k $k vs per-measure $kRef")
    def byId(df: DataFrame) = df.select("id", "value", "x", "y", "perimeter", "radius")
      .collect().map(r => r.getLong(0) -> (1 until 6).map(r.getDouble)).toMap
    val got = byId(regions)
    val want = byId(ref.withColumn("radius", sqrt(col("value") / math.Pi) * lit(kRef)))
    assert(got.keySet === want.keySet)
    got.foreach { case (id, vs) => assert(vs == want(id), s"region $id") }
  }

  test("driver vs distributed Jacobi at the 100-iteration default: bit-equal on generated fixtures") {
    // Both paths accumulate per-focal forces in scale-12 decimal and
    // share every per-row IEEE expression, so positions must be
    // IDENTICAL at any iteration count. smallN past the region count
    // forces the driver loop, smallN = 0 the distributed step.
    import spark.implicits._
    def runPath(df: DataFrame, smallN: Int): Map[String, (Double, Double, Double)] =
      Dorling.run(df, "name", "population", "geometry", iterations = 100, smallN = smallN)
        .collect().map(r => r.getAs[String]("id") ->
          ((r.getAs[Double]("radius"), r.getAs[Double]("x"), r.getAs[Double]("y")))).toMap
    def assertBitEqual(df: DataFrame, regime: String): Unit = {
      val drv = runPath(df, Int.MaxValue)
      val dist = runPath(df, 0)
      assert(drv.keySet === dist.keySet)
      drv.foreach { case (id, p) => assert(p == dist(id), s"$regime position($id): $p vs ${dist(id)}") }
    }
    // SETTLING: a 3x3 grid whose circles separate and stop
    val grid3 = (for (r <- 0 until 3; c <- 0 until 3) yield {
      val x0 = c * 4.0; val y0 = r * 4.0
      (s"R$r$c",
        s"POLYGON (($x0 $y0, ${x0 + 4} $y0, ${x0 + 4} ${y0 + 4}, $x0 ${y0 + 4}, $x0 $y0))",
        50.0 + 10.0 * (r * 3 + c))
    }).toDF("name", "geometry", "population")
    assertBitEqual(grid3, "settling")
    // IN CONTACT: four unequal squares meeting at one vertex, radii of
    // the order of their spacing, so circles keep touching
    val squares = Seq(("TL", 0.0, 1.0, 100.0), ("BL", 0.0, 0.0, 200.0),
        ("TR", 1.0, 1.0, 400.0), ("BR", 1.0, 0.0, 150.0)).map { case (nm, x0, y0, p) =>
      (nm, s"POLYGON (($x0 $y0, ${x0 + 1} $y0, ${x0 + 1} ${y0 + 1}, $x0 ${y0 + 1}, $x0 $y0))", p)
    }.toDF("name", "geometry", "population")
    assertBitEqual(squares, "contact")
  }
}
