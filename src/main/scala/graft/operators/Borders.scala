package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.geom.{Ops, Wkt}

/** Distributed Queen-contiguity border detection.
  *
  * Reference: pycart/border_util.py:5 `get_borders` — libpysal Queen
  * weights (neighbour = shares an edge OR a vertex), weight = length of
  * the shared boundary (`intersection(...).length`), islands dropped.
  *
  * Spark-first design: instead of libpysal's all-pairs matrix (O(n^2),
  * single node), geometries are binned into a MULTI-LEVEL grid keyed by
  * their own size class, so candidate pairs come from equi-joins on
  * (level, cell) and the shuffle stays O(n * levels-per-geom). A
  * single-level grid sized to the LARGEST bbox (the previous design)
  * is outlier-hostile: one continent-sized polygon among parcels
  * inflates every cell until the whole input collapses into a handful
  * of buckets and the join degenerates quadratic. Here the base cell
  * is the MEDIAN extent (robust to outliers), each geometry lives at
  * level l = ceil(log2(extent / base)) where the cell is base * 2^l
  * (so every geometry spans at most 2x2 cells at its own level), and a
  * geometry is additionally registered in its ancestor cells at every
  * OCCUPIED coarser level (the distinct native levels are a <= 64-value
  * aggregate). A pair joins exactly at the coarser of the two native
  * levels, anchored to the cell holding the bbox-intersection min
  * corner — each unordered pair is emitted exactly once, outliers only
  * pay candidates against what their bbox actually overlaps, and the
  * small-geometry fine grid keeps its selectivity.
  *
  * One pass per pair: the exact kernel (touch test + shared-border
  * length) runs ONCE per unordered candidate pair, parsing both WKTs
  * once, and a single generator emits both directed rows — there is
  * no second branch that would re-run the join and the kernel.
  *
  * One reused exchange: the binned rows go through one explicit
  * `repartition(spark.sql.shuffle.partitions, L, cell)`. Both join
  * sides read the same pruned columns from it, so the right side is a
  * ReusedExchange of the left (one map stage) and the join adds no
  * shuffle of its own. The trade-off: AQE neither coalesces nor
  * skew-splits an explicit-count repartition. Not coalescing is the
  * point — the pair stage is CPU-bound, and AQE sized it by bytes
  * down to 1-2 tasks on a few cores — but a hot (level, cell) is now
  * one task rather than an AQE-split one; the multi-level grid above
  * is what keeps cells small. The base cell size and the native-level
  * set are two scalar-sized aggregates.
  */
object Borders {

  /** The exact pair kernel: both WKTs parsed once, the shared-border
    * length when the boundaries touch, null when they do not. Private
    * to this operator — not part of the SQL function surface. */
  private val queenWeightU = udf((w1: String, w2: String) =>
    Ops.queenWeight(Wkt.read(w1), Wkt.read(w2))).withName("queen_pair_weight")

  private def numShufflePartitions(df: DataFrame): Int =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.numShufflePartitions

  /** @param df   (idCol, geomCol WKT)
    * @return symmetric DataFrame: focal_id, neighbor_id, weight
    *         (shared boundary length; 0.0 for vertex-only contact)
    */
  def compute(df: DataFrame, idCol: String, geomCol: String): DataFrame = {
    val withBox = df
      .select(col(idCol).as("id"), col(geomCol).as("geom"))
      .withColumn("bbox", st_bbox(col("geom")))
      .withColumn("minx", col("bbox")(0)).withColumn("miny", col("bbox")(1))
      .withColumn("maxx", col("bbox")(2)).withColumn("maxy", col("bbox")(3))
      .drop("bbox")
      .withColumn("extent", greatest(col("maxx") - col("minx"), col("maxy") - col("miny")))

    // Robust base cell: the MEDIAN extent (approx; outliers cannot
    // inflate it). One scalar aggregate.
    val Array(cellRow) = withBox
      .agg(percentile_approx(col("extent"), lit(0.5), lit(10000)).as("cs"))
      .collect()
    val cs0 = math.max(if (cellRow.isNullAt(0)) 0.0 else cellRow.getDouble(0), 1e-12)

    // Size class: cell at level l is cs0 * 2^l >= extent, so each
    // geometry spans at most 2 cells per axis at its own level.
    val leveled = withBox.withColumn("level",
      when(col("extent") <= cs0, 0)
        .otherwise(ceil(log(2.0, col("extent") / cs0)).cast("int")))

    // Occupied levels only (<= ~64 distinct values): geometries
    // register in ancestor cells at coarser levels ONLY where some
    // geometry natively lives, so a heavy tail costs O(#distinct
    // levels) rows per geometry, not O(log(max/min)).
    val collected = leveled.select(col("level")).distinct()
      .collect().map(_.getInt(0)).sorted
    val nativeLevels = if (collected.isEmpty) Array(0) else collected

    // Every binned row goes through ONE explicit exchange on the join
    // keys: both join sides read the same pruned column set, so the
    // right side reuses the left side's shuffle (one map stage), and
    // the join below needs no exchange of its own (when AQE turns it
    // into a broadcast join, the broadcast is built from that reuse).
    val cellSize = (level: Column) => lit(cs0) * pow(lit(2.0), level.cast("double"))
    val binned = leveled
      .withColumn("L", explode(filter(
        array(nativeLevels.map(lit(_)): _*), l => l >= col("level"))))
      .withColumn("cs", cellSize(col("L")))
      .withColumn("cx0", floor(col("minx") / col("cs"))).withColumn("cx1", floor(col("maxx") / col("cs")))
      .withColumn("cy0", floor(col("miny") / col("cs"))).withColumn("cy1", floor(col("maxy") / col("cs")))
      .withColumn("cell", explode(flatten(transform(
        sequence(col("cx0"), col("cx1")),
        cx => transform(sequence(col("cy0"), col("cy1")),
          cy => struct(cx.as("x"), cy.as("y")))))))
      .select("id", "geom", "L", "cell", "level", "minx", "miny", "maxx", "maxy")
      .repartition(numShufflePartitions(df), col("L"), col("cell"))

    def side(p: String) = binned.select(
      col("id").as(s"${p}_id"), col("geom").as(s"${p}_geom"), col("L"), col("cell"),
      col("level").as(s"${p}_level"),
      col("minx").as(s"${p}_minx"), col("miny").as(s"${p}_miny"),
      col("maxx").as(s"${p}_maxx"), col("maxy").as(s"${p}_maxy"))

    val pairs = side("l").join(side("r"), Seq("L", "cell"))
      .filter(col("l_id") < col("r_id"))
      // each pair joins ONLY at the coarser of its two native levels
      .filter(greatest(col("l_level"), col("r_level")) === col("L"))
      // bboxes must intersect at all
      .filter(col("l_minx") <= col("r_maxx") && col("r_minx") <= col("l_maxx") &&
              col("l_miny") <= col("r_maxy") && col("r_miny") <= col("l_maxy"))
      // emit each pair from exactly one cell: the one holding the
      // bbox-intersection min corner (at this level's cell size)
      .filter(col("cell.x") === floor(greatest(col("l_minx"), col("r_minx")) / cellSize(col("L"))) &&
              col("cell.y") === floor(greatest(col("l_miny"), col("r_miny")) / cellSize(col("L"))))
      // ONE exact-geometry evaluation per unordered pair; the weight
      // is projected, never filtered on, because Catalyst would push
      // such a filter below the projection and run the kernel twice
      .select(col("l_id"), col("r_id"), queenWeightU(col("l_geom"), col("r_geom")).as("weight"))

    pairs.select(inline(when(col("weight").isNotNull, array(
        struct(col("l_id").as("focal_id"), col("r_id").as("neighbor_id"), col("weight")),
        struct(col("r_id").as("focal_id"), col("l_id").as("neighbor_id"), col("weight"))))))
  }
}
