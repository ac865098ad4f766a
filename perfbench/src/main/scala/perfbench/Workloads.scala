package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Cartogram
import graft.functions.GeoFunctions.st_area
import graft.sources.{CsvAttrs, GeoJsonSource}

/** What one operation left behind: its build and action wall times, the
  * values observed while its result was materialized, and the outcome
  * of its output check (None = correct). */
final case class OpResult(name: String, buildS: Double, actionS: Double,
                          observed: Map[String, Any], error: Option[String]) {
  def rows: Long = observed.get("rows").map(_.toString.toLong).getOrElse(-1L)
}

/** One operation of a workload. `build` calls the program's public entry
  * point and returns the (possibly eagerly computed) result frame;
  * `observe` lists aggregates computed while the result is written to
  * the noop sink; `check` judges the observed values. */
final case class Op(name: String, build: () => DataFrame,
                    observe: DataFrame => Seq[Column],
                    check: Map[String, Any] => Option[String])

object Ops {
  /** Build, then materialize every row to Spark's noop sink while
    * observing `op.observe`; both calls run inside trace spans. */
  def run(op: Op, tracer: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val df = tracer.span("build", op.name)(op.build())
    val t1 = System.nanoTime()
    val obs = Observation(s"perfbench_${op.name}")
    val exprs = op.observe(df)
    tracer.span("action", op.name) {
      df.observe(obs, exprs.head, exprs.tail: _*)
        .write.format("noop").mode("overwrite").save()
    }
    val t2 = System.nanoTime()
    val observed = obs.get + ("schema" -> df.schema.catalogString)
    OpResult(op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, observed, op.check(observed))
  }

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def normalized(c: Column, t: DataType): Column = t match {
    // floating results may differ in the last bits between runs; the
    // fingerprint hashes them at 1e-6 and folds -0.0 into 0.0
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** Row count plus an order-insensitive hash of the materialized rows. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => normalized(quoted(f.name), f.dataType)): _*)
    Seq(count(lit(1)).as("rows"), sum(pmod(h, lit(2147483647L))).as("hsum"),
      bit_xor(h).as("hxor"))
  }

  def nonFinite(cols: String*): Column =
    sum(when(cols.map(c => col(c).isNull || isnan(col(c)) ||
      col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity)
      .reduce(_ || _), 1L).otherwise(0L)).as("non_finite")

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (String.valueOf(got) == String.valueOf(want)) None else Some(s"$what: got $got, want $want")
}

/** Fingerprints recorded for the query operations at a known-good commit. */
final case class Expected(rows: Long, hsum: String, hxor: String, schema: String, exact: Boolean)

object Workloads {
  /** The table-format gates: one per clustered layout (hash q181, z-order
    * q183, width q188), with deletion vectors and the change feed in q188. */
  val lakehouse: Seq[String] = Seq("q181_hash_bucket", "q183_zorder_table", "q188_dv_delete")

  /** A query operation, built by `SparkEntry.queries(name)(spark, dir)`;
    * its output must match the recorded fingerprint (or, for queries whose
    * output legitimately differs between runs, its row count and schema). */
  def query(spark: SparkSession, dir: String, name: String,
            expected: Map[String, Expected]): Op =
    Op(name,
      build = () => graft.SparkEntry.queries(name)(spark, dir),
      observe = Ops.fingerprint,
      check = m => expected.get(name) match {
        case None => Some("no recorded fingerprint")
        case Some(e) =>
          Ops.expect("rows", m("rows"), e.rows)
            .orElse(Ops.expect("schema", m("schema"), e.schema))
            .orElse(if (!e.exact) None
              else Ops.expect("hash", s"${m("hsum")}/${m("hxor")}", s"${e.hsum}/${e.hxor}"))
      })

  /** The pycart pipeline over a jittered n x n lattice: ingest (GeoJSON +
    * CSV attributes, merged and deduplicated by key keeping the largest
    * area), then Queen borders, the non-contiguous and the Dorling
    * cartogram. `ingest` must run first; the others read its result. */
  final class CartogramOps(spark: SparkSession, geojson: String, csv: String,
                           n: Int, dorlingIters: Int) {
    private var gdf: DataFrame = _
    private def cart = Cartogram(gdf, valueField = "population", idField = "code")
    private val regions = n.toLong * n
    val queenPairs: Long = 8L * (n - 2) * (n - 2) + 20L * (n - 2) + 12

    val ingest: Op = Op("ingest",
      build = () => {
        val feats = GeoJsonSource.readFeatureCollection(spark, geojson)
          .select(upper(trim(col("properties")("ISO_CODE"))).as("code"), col("geometry"))
        val attrs = CsvAttrs.read(spark, csv).select(upper(trim(col("code"))).as("code"),
          CsvAttrs.cleanLong(col("population")).as("population"))
        val byArea = Window.partitionBy(col("code"))
          .orderBy(col("area").desc, col("population").desc)
        gdf = CsvAttrs.mergeAttrs(feats, "code", attrs, "code")
          .withColumn("area", st_area(col("geometry")))
          .withColumn("rn", row_number().over(byArea))
          .filter(col("rn") === 1)
          .drop("rn")
          .localCheckpoint()
        gdf
      },
      observe = _ => Seq(count(lit(1)).as("rows"), Ops.nonFinite("population", "area")),
      check = m => Ops.expect("regions", m("rows"), regions)
        .orElse(Ops.expect("non-finite attributes", m("non_finite"), 0)))

    val borders: Op = Op("borders",
      build = () => cart.borders(),
      observe = _ => Seq(count(lit(1)).as("rows"), Ops.nonFinite("weight")),
      check = m => Ops.expect("queen pairs", m("rows"), queenPairs)
        .orElse(Ops.expect("non-finite weights", m("non_finite"), 0)))

    val noncontiguous: Op = Op("noncontiguous",
      build = () => cart.nonContiguous(sizeValue = 1.0),
      observe = _ => Seq(count(lit(1)).as("rows"), Ops.nonFinite("scale")),
      check = m => Ops.expect("rows", m("rows"), regions)
        .orElse(Ops.expect("non-finite scales", m("non_finite"), 0)))

    def dorling(iters: Int): Op = Op(if (iters == dorlingIters) "dorling" else s"dorling_$iters",
      build = () => cart.dorling(iterations = iters),
      observe = _ => Seq(count(lit(1)).as("rows"), Ops.nonFinite("radius", "x", "y")),
      check = m => Ops.expect("rows", m("rows"), regions)
        .orElse(Ops.expect("non-finite circles", m("non_finite"), 0)))

    /** pycart's pipeline order; the seed varies the lattice instead */
    val pass: Seq[Op] = Seq(ingest, borders, noncontiguous, dorling(dorlingIters))
  }
}
