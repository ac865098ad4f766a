package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It builds one `local[cores]` session,
  * warms it, prints `READY`, and then (mode `run`) drives one workload
  * as a closed loop for `--seconds`: a warm pass, then timed passes,
  * each operation built through the program's public entry points and
  * materialized to the noop sink. Results go to `--out` as JSON; the
  * span tree of a traced run goes to `--trace-out`.
  *
  * Mode `setup` stops after `READY` (run.py times it); mode
  * `record` runs each operation once and writes the fingerprints the
  * output checks compare against.
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String, traceOut: String,
                        cores: Int, localDir: String, fingerprints: String,
                        lattice: Int, dorlingIters: Int, minPasses: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("data", ""), m.getOrElse("out", ""), m.getOrElse("trace-out", ""),
      m("cores").toInt, m("local-dir"), m.getOrElse("fingerprints", ""),
      m.getOrElse("lattice", "0").toInt, m.getOrElse("dorling-iters", "0").toInt,
      m.getOrElse("min-passes", "1").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one small shuffle job so the first timed job does not pay for
    * loading the scheduler, codegen and shuffle paths. */
  def warm(spark: SparkSession): Unit =
    spark.range(0, 100000, 1, 4).selectExpr("id % 97 AS k", "id * 3 AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadExpected(path: String): Map[String, Expected] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      val root = json.readTree(Paths.get(path).toFile)
      Option(root.get("queries")).toSeq.flatMap(_.properties().asScala).map { e =>
        val v = e.getValue
        e.getKey -> Expected(v.get("rows").asLong, v.get("hsum").asText, v.get("hxor").asText,
          v.get("schema").asText, v.get("exact").asBoolean)
      }.toMap
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    try {
      warm(spark)
      val setupJvm = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      println("READY")
      System.out.flush()
      if (a.mode != "setup") {
        val out = new Runner(spark, a, setupJvm).run()
        json.writeValue(Paths.get(a.out).toFile, out)
      }
    } finally spark.stop()
  }

  /** One workload run: the pass loop and the metrics it yields. */
  final class Runner(spark: SparkSession, a: Args, setupJvm: Double) {
    private val sc = spark.sparkContext
    private val tracer = new Tracer(sc)
    private val rng = new Random(a.seed)

    private val expected = loadExpected(a.fingerprints)
    private val cart =
      if (a.workload == "cartogram")
        Some(new Workloads.CartogramOps(spark, s"${a.data}/regions.geojson",
          s"${a.data}/attributes.csv", a.lattice, a.dorlingIters))
      else None
    private val queries =
      if (a.workload == "lakehouse") Workloads.lakehouse.map(Workloads.query(spark, a.data, _, expected))
      else Nil
    require(cart.nonEmpty || queries.nonEmpty, s"unknown workload '${a.workload}'")

    /** The cartogram runs in pipeline order; the seed orders the queries. */
    private def passOps(): Seq[Op] = cart.map(_.pass).getOrElse(rng.shuffle(queries))

    private var attempted = 0
    private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Run one op; a throw or a failed check counts against `failed`. */
    private def attempt(op: Op): Option[OpResult] = {
      attempted += 1
      try {
        val r = Ops.run(op, tracer)
        r.error.foreach(e => failures += s"${op.name}: $e")
        Some(r)
      } catch {
        case e: Throwable =>
          failures += s"${op.name}: ${e.toString.take(300)}"
          None
      }
    }

    final case class Pass(ops: Seq[OpResult], wall: Double, gc: Double, cpu: Double,
                          jit: Double, span: Option[Span], dorlingBase: Option[Double])

    private def runPass(index: Int, traced: Boolean): Pass = {
      tracer.setEnabled(traced)
      val gc0 = gcSeconds
      val cpu0 = cpuSeconds
      val jit0 = jitSeconds
      var span: Option[Span] = None
      val results = tracer.span("pass", index.toString) {
        span = if (traced) tracer.innermost else None
        passOps().flatMap(op => tracer.span("op", op.name)(attempt(op)))
      }
      val gc = gcSeconds - gc0
      val cpu = cpuSeconds - cpu0
      val jit = jitSeconds - jit0
      // the fixed part of Dorling (borders + radii, zero iterations),
      // measured outside the pass so that per-iteration time can be split off
      val base = cart.filter(_ => traced).flatMap(c => attempt(c.dorling(0)))
        .map(r => r.buildS + r.actionS)
      if (traced) org.apache.spark.perfbench.BusDrain(sc)
      tracer.setEnabled(false)
      Pass(results, results.map(r => r.buildS + r.actionS).sum, gc, cpu, jit, span, base)
    }

    def run(): Map[String, Any] =
      if (a.mode == "record") record() else measure()

    /** Output fingerprints of one pass; any throw fails the recording. */
    private def record(): Map[String, Any] =
      passOps().map(Ops.run(_, tracer)).map(r => r.name -> Map("rows" -> r.rows,
        "hsum" -> String.valueOf(r.observed("hsum")), "hxor" -> String.valueOf(r.observed("hxor")),
        "schema" -> r.observed("schema"))).toMap

    private def measure(): Map[String, Any] = {
      // an untimed pass first, so that classes, generated code and the JIT
      // are warm before timing starts
      val warmPass = runPass(0, traced = false)
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      tracer.setEnabled(a.trace)
      // Passes keep getting faster for minutes while the JIT settles, so
      // the mean over at least `minPasses` is reported rather than one pass.
      tracer.span("workload", a.workload) {
        while (passes.size < a.minPasses || System.nanoTime() < deadline)
          passes += runPass(passes.size + 1, a.trace)
      }
      tracer.setEnabled(false)
      val walls = passes.map(_.wall).toSeq
      val meanWall = walls.sum / walls.size
      val perOp = passes.flatMap(_.ops).groupBy(_.name).map { case (n, rs) =>
        n -> Map("build_s" -> median(rs.map(_.buildS).toSeq),
          "action_s" -> median(rs.map(_.actionS).toSeq))
      }
      val base = Map[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
        "spark_version" -> spark.version, "java_version" -> sys.props("java.version"),
        "setup_s_jvm" -> setupJvm, "attempted" -> attempted, "failed" -> failures.size,
        "failures" -> failures.toSeq, "warm_pass_wall_s" -> warmPass.wall,
        "pass_walls_s" -> walls, "per_op" -> perOp,
        "passes" -> passes.map(p => Map("gc_s" -> p.gc, "cpu_s" -> p.cpu, "jit_s" -> p.jit,
          "ops" -> p.ops.map(r => r.name -> Seq(r.buildS, r.actionS)).toMap)),
        "end_to_end" -> Map("wall_s" -> meanWall))
      if (!a.trace) base
      else {
        val layers = passes.toSeq.map(layerMetrics)
        val perLayer = layers.head.keys.map(k => k -> median(layers.map(_(k)))).toMap ++ Map(
          "trace.wall_s" -> meanWall, "jvm.peak_rss_mb" -> peakRssMb)
        val spans = tracer.spans
        val self = Trace.selfTimes(spans)
        json.writeValue(Paths.get(a.traceOut).toFile, Map("spans" -> spans.map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self.get(s.id),
          "counters" -> s.counters.toMap))))
        val selfByKind = spans.groupBy(_.kind).map { case (k, ss) =>
          k -> ss.map(s => self.getOrElse(s.id, 0.0)).sum / 1e3 / passes.size }
        base ++ Map("per_layer" -> perLayer, "self_s_per_pass_by_kind" -> selfByKind)
      }
    }

    /** Per-layer metrics of one traced pass, from its span subtree. */
    private def layerMetrics(p: Pass): Map[String, Double] = {
      val below = p.span.map(tracer.descendants).getOrElse(Nil)
      val jobs = below.filter(_.kind == "job")
      val stages = below.filter(_.kind == "stage")
      def total(c: String) = stages.map(_.counters.getOrElse(c, 0.0)).sum
      val opSpans = below.filter(_.kind == "op")
      val noJob = opSpans.map { o =>
        o.dur / 1e3 - Trace.covered(jobs.map(j => (j.start, j.end)), o.start, o.end) / 1e3
      }.sum
      def opTime(name: String) = p.ops.filter(_.name == name).map(r => r.buildS + r.actionS).sum
      val busy = total("run_s")
      val dorling = opTime("dorling")
      Map(
        "queries.build_s" -> p.ops.map(_.buildS).sum,
        "spark.action_s" -> p.ops.map(_.actionS).sum,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> total("tasks"),
        "spark.busy_s" -> busy,
        "spark.slot_idle_frac" -> (1.0 - busy / (a.cores * p.wall)),
        "spark.no_job_s" -> noJob,
        "spark.shuffle_write_mb" -> total("shuffle_write_mb"),
        "spark.shuffle_read_mb" -> total("shuffle_read_mb"),
        "spark.spill_mb" -> total("spill_mb"),
        "spark.input_mb" -> total("input_mb"),
        "spark.output_mb" -> total("output_mb"),
        "spark.task_gc_s" -> total("gc_s"),
        "spark.failed_tasks" -> total("failed_tasks"),
        "jvm.gc_s" -> p.gc,
        "jvm.cpu_s" -> p.cpu,
        "jvm.jit_s" -> p.jit,
        "sources.ingest_s" -> opTime("ingest"),
        "operators.borders_s" -> opTime("borders"),
        "operators.borders_pairs" -> p.ops.filter(_.name == "borders").map(_.rows.toDouble).sum,
        "operators.noncontiguous_s" -> opTime("noncontiguous"),
        "operators.dorling_s" -> dorling,
        "operators.dorling_iter_s" -> p.dorlingBase
          .map(b => (dorling - b) / math.max(1, a.dorlingIters)).getOrElse(0.0))
    }
  }
}
