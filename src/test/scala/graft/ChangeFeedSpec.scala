package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Snapshots
import graft.streaming.ChangeFeed

/** The snapshot table's change feed as a Structured Streaming SOURCE
  * (DSv2 MicroBatchStream; offsets = committed versions): reconciled
  * against [[Snapshots.diff]] bit-for-bit per version step — the
  * same stream==batch discipline as the other streaming operators —
  * plus checkpoint resume, vacuum-horizon refusal and additive
  * schema evolution crossing the feed. */
class ChangeFeedSpec extends SparkSuite {

  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_cf_$name")
    d.toFile.deleteOnExit()
    d.toString + "/tbl"
  }

  private def fixture = spark.range(0, 900, 1, 4)
    .select(
      pmod(col("id") * 811L + 13L, lit(900L)).as("key"),
      (col("id") * 31L).as("payload"))
    .withColumn("bucket", expr("key div 300"))

  /** publish → append → compact → EVOLVED merge; returns the dir. */
  private def buildTable(dir: String): Unit = {
    Snapshots.publish(fixture, dir, "bucket", Seq("key"))
    Snapshots.append(fixture.filter(col("key") < 5)
      .withColumn("payload", lit(-7L)), dir, "bucket", Seq("key"))
    Snapshots.compact(spark, dir, "bucket", Seq("key"))
    Snapshots.merge(
      fixture.filter(col("key") >= 10 && col("key") < 15)
        .withColumn("payload", col("payload") + 777777L)
        .withColumn("src", lit("b4")),
      dir, "bucket", Seq("key"), Seq("key"))
  }

  private def drain(dir: String, queryName: String, startVersion: Long = 0L,
                    checkpoint: Option[String] = None): DataFrame = {
    val w = ChangeFeed.readStream(spark, dir, startVersion)
      .writeStream.outputMode("append").format("memory").queryName(queryName)
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("drained feed, NETTED, equals Snapshots.diff bit-for-bit for every " +
    "version step — inserts, deletes, a compaction netting to EMPTY (while " +
    "the raw file-level feed for it is non-empty), and an evolved merge") {
    val dir = tmpDir("recon")
    buildTable(dir)
    val drained = drain(dir, "cf_recon")
    assert(drained.columns.toSeq ===
      Seq("key", "payload", "bucket", "src", "_change", "_version"))
    // raw file-level feed: the compaction step (v3) rewrote bucket 0 —
    // its carried-over rows appear as delete+insert pairs…
    assert(drained.filter(col("_version") === 3L).count() > 0,
      "compaction contributes raw file-level changes")
    // …which must cancel EXACTLY under the net fold
    val net = ChangeFeed.net(drained)
    assert(net.filter(col("_version") === 3L).count() === 0L,
      "a compaction's net change feed is empty")
    // per step: net(stream) == diff(prev, v) (the batch CDC), bit-for-bit.
    // diff's schema is the NEW version's — steps before the evolution
    // lack src, which the feed (latest schema) null-fills; align.
    for (v <- 2L to 4L) {
      val d = Snapshots.diff(spark, dir, v - 1, v).withColumn("_version", lit(v))
      val want = rows(d.select(drained.columns.map(c =>
        (if (d.columns.contains(c)) col(c)
         else lit(null).cast(drained.schema(c).dataType)).as(c)): _*))
      val got = rows(net.filter(col("_version") === v)
        .select(drained.columns.map(col): _*))
      assert(got === want, s"step v${v - 1} -> v$v")
    }
    // the genesis step: version 1 arrives as pure inserts = the full v1
    val v1 = rows(Snapshots.readAt(spark, dir, 1L)
      .withColumn("src", lit(null).cast("string"))
      .withColumn("_change", lit("insert")).withColumn("_version", lit(1L)))
    assert(rows(drained.filter(col("_version") === 1L)) === v1)
    // evolution across the feed: pre-evolution files null-fill src
    assert(drained.filter(col("_version") === 1L && col("src").isNotNull)
      .count() === 0L)
    assert(net.filter(col("_version") === 4L && col("_change") === "insert"
      && col("src") === "b4").count() === 5L)
  }

  test("CHECKPOINT RESUME: a restarted query replays nothing — only the " +
    "versions committed after the first drain arrive; startVersion skips " +
    "history on a fresh query") {
    val dir = tmpDir("resume")
    buildTable(dir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cf_ck").toString
    // the memory sink refuses checkpoint recovery by design; foreachBatch
    // is the recoverable sink shape (and q167's producer counterpart)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Unit = {
      val q = ChangeFeed.readStream(spark, dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("_version", "payload").collect()
            .foreach(r => seen.add((r.getLong(0), r.getLong(1))))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    seen.clear()
    // new commit while the query is down
    Snapshots.append(fixture.filter(col("key") === 0L)
      .withColumn("payload", lit(5555L)), dir, "bucket", Seq("key"))
    run()
    assert(seen.asScala.map(_._1).toSet === Set(5L),
      s"resume starts at the checkpointed offset: ${seen.asScala.toSeq}")
    assert(seen.asScala.toSeq === Seq((5L, 5555L)))
    // fresh query, startVersion=3: only the steps above 3
    val skipped = drain(dir, "cf_skip", startVersion = 3L)
    assert(skipped.select("_version").distinct().as[Long].collect().sorted.toSeq
      === Seq(4L, 5L))
  }

  test("VACUUM HORIZON: replaying across vacuumed versions refuses loudly " +
    "(never silently skips history); streaming from the horizon works") {
    val dir = tmpDir("vac")
    buildTable(dir)
    Snapshots.vacuum(spark, dir, 3L, retainMs = 0L) // v1, v2 gone
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = ChangeFeed.readStream(spark, dir, 0L)
        .writeStream.outputMode("append").format("memory").queryName("cf_gap")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("vacuumed") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuumed")))
    val ok = drain(dir, "cf_horizon", startVersion = 3L)
    assert(ok.select("_version").distinct().as[Long].collect().toSeq === Seq(4L))
    val want = rows(Snapshots.diff(spark, dir, 3L, 4L)
      .withColumn("_version", lit(4L)))
    assert(rows(ChangeFeed.net(ok).select(ok.columns.map(col): _*)) === want)
  }

  test("ADMISSION CONTROL: maxVersionsPerBatch=1 paces a version backlog " +
    "one committed version per microbatch — bounded catch-up instead of " +
    "one giant batch, same total content") {
    val dir = tmpDir("pace")
    buildTable(dir) // 4 committed versions before the query ever starts
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = ChangeFeed.readStream(spark, dir, maxVersionsPerBatch = 1L)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val vs = batch.select("_version").distinct()
          .collect().map(_.getLong(0)).toSet
        batches.synchronized { batches += vs }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val nonEmpty = batches.filter(_.nonEmpty)
    assert(nonEmpty.size === 4, s"one batch per version: $batches")
    assert(nonEmpty.forall(_.size == 1), s"each batch carries ONE version: $batches")
    assert(nonEmpty.flatten.toSet === Set(1L, 2L, 3L, 4L))
  }

  test("ADMISSION CONTROL by BYTES: maxBytesPerBatch paces the backlog by " +
    "each step's manifest-recorded file sizes — a tiny cap degrades to one " +
    "version per batch (soft: the first always admits), a huge cap drains " +
    "in one; same total content either way") {
    val dir = tmpDir("bytes")
    buildTable(dir) // 4 committed versions, each step >> 1 byte of churn
    def paced(cap: Long, name: String): Seq[Set[Long]] = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      val q = ChangeFeed.readStream(spark, dir, maxBytesPerBatch = cap)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val vs = batch.select("_version").distinct()
            .collect().map(_.getLong(0)).toSet
          batches.synchronized { batches += vs }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      batches.filter(_.nonEmpty).toSeq
    }
    // every step's churn exceeds 1 byte -> soft cap admits exactly one
    val tiny = paced(1L, "tiny")
    assert(tiny.size === 4 && tiny.forall(_.size == 1),
      s"1-byte cap = one version per batch: $tiny")
    assert(tiny.flatten.toSet === Set(1L, 2L, 3L, 4L))
    // a cap above the whole history's churn drains in ONE batch
    val big = paced(1L << 40, "big")
    assert(big.size === 1 && big.head === Set(1L, 2L, 3L, 4L),
      s"huge cap = one batch: $big")
  }

  test("TYPE-WIDENED history streams: a table widened int->long and " +
    "float->double replays its FULL history (old narrow files under the " +
    "wide feed schema) and net(drained) == diff per step") {
    val dir = tmpDir("widen")
    val narrow = spark.range(0, 100, 1, 2).select(
        col("id").as("key"),
        (col("id") % 1000).cast("int").as("cnt"),
        (col("id") / 2.0).cast("float").as("score"))
      .withColumn("bucket", expr("key div 50"))
    Snapshots.publish(narrow, dir, "bucket", Seq("key"))
    // the widening merge: keys < 5 go wide; bucket-1 files stay NARROW
    // on disk and must still stream under the widened feed schema
    Snapshots.merge(
      narrow.filter(col("key") < 5)
        .withColumn("cnt", col("cnt").cast("long") + (1L << 40))
        .withColumn("score", col("score").cast("double") + 0.25),
      dir, "bucket", Seq("key"), Seq("key"))
    // one more commit AFTER the widening so the stream crosses it too
    Snapshots.append(
      narrow.filter(col("key") === 99L)
        .withColumn("cnt", col("cnt").cast("long"))
        .withColumn("score", col("score").cast("double")),
      dir, "bucket", Seq("key"))
    val drained = drain(dir, "cf_widen")
    assert(drained.schema("cnt").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(drained.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    // genesis = all 100 narrow rows, read from int32/float files and
    // widened by the executor reader — values intact
    val g1 = drained.filter(col("_version") === 1L)
    assert(g1.count() === 100L)
    assert(g1.filter(col("key") === 7L).select("cnt", "score").collect()
      .map(_.toSeq).toSeq === Seq(Seq(7L, 3.5)))
    val net = ChangeFeed.net(drained)
    for (v <- 2L to 3L) {
      val d = Snapshots.diff(spark, dir, v - 1, v).withColumn("_version", lit(v))
      assert(rows(net.filter(col("_version") === v)
        .select(drained.columns.map(col): _*)) ===
        rows(d.select(drained.columns.map(col): _*)), s"step v${v - 1} -> v$v")
    }
    // the widened rows themselves arrived wide
    assert(net.filter(col("_version") === 2L && col("_change") === "insert"
      && col("cnt") > (1L << 39)).count() === 5L)
  }

  test("WIDENED x RENAMED composition streams: a table that was both " +
    "type-widened AND column-renamed replays its full history — the " +
    "reader resolves fields by PHYSICAL birth name and widens by the " +
    "file's physical primitive, per file, independently") {
    val dir = tmpDir("widren")
    val narrow = spark.range(0, 60, 1, 2).select(
        col("id").as("key"),
        (col("id") % 40).cast("int").as("cnt"))
      .withColumn("bucket", expr("key div 30"))
    Snapshots.publish(narrow, dir, "bucket", Seq("key"))
    // widen cnt int->long on a 3-key merge (bucket 1 stays int32)
    Snapshots.merge(
      narrow.filter(col("key") < 3)
        .withColumn("cnt", col("cnt").cast("long") + (1L << 40)),
      dir, "bucket", Seq("key"), Seq("key"))
    // rename the widened column, then commit once more under the new name
    Snapshots.rename(spark, dir, "cnt", "counter")
    Snapshots.append(
      narrow.filter(col("key") === 59L).withColumnRenamed("cnt", "counter"),
      dir, "bucket", Seq("key"))
    val drained = drain(dir, "cf_widren")
    assert(drained.columns.take(3).toSeq === Seq("key", "counter", "bucket"),
      "feed surfaces the LATEST logical name")
    assert(drained.schema("counter").dataType ===
      org.apache.spark.sql.types.LongType, "…at the widened type")
    // genesis: all 60 rows from int32 files under the old physical name
    val g = drained.filter(col("_version") === 1L)
    assert(g.count() === 60L)
    assert(g.filter(col("key") === 7L).select("counter").as[Long].head() === 7L)
    val net = ChangeFeed.net(drained)
    // the rename version nets to ZERO (identical files)
    assert(net.filter(col("_version") === 3L).count() === 0L)
    // and every step reconciles with diff under the latest surface
    // (a diff at a pre-rename step answers under THAT version's names
    // — field ORDER is rename-stable, so align positionally)
    for (v <- 2L to 4L) {
      val d = Snapshots.diff(spark, dir, v - 1, v).withColumn("_version", lit(v))
        .toDF(drained.columns: _*)
      assert(rows(net.filter(col("_version") === v)
        .select(drained.columns.map(col): _*)) ===
        rows(d.select(drained.columns.map(col): _*)), s"step v${v - 1} -> v$v")
    }
  }

  test("an all-predating file paces rows by its first PRIMITIVE field, " +
    "and a groups-only file refuses naming its path") {
    import org.apache.parquet.hadoop.api.InitContext
    import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val path = "/tbl/bucket=0/part-00000.parquet"
    def init(file: MessageType) =
      new graft.streaming.RowArrayReadSupport(Array("added_later"),
        Array(org.apache.spark.sql.types.LongType), 1, path)
        .init(new InitContext(new org.apache.hadoop.conf.Configuration(),
          new java.util.HashMap[String, java.util.Set[String]](), file))
    val group = new GroupType(Type.Repetition.OPTIONAL, "meta",
      new PrimitiveType(Type.Repetition.OPTIONAL, PrimitiveTypeName.INT32, "inner"))
    val key = new PrimitiveType(Type.Repetition.REQUIRED, PrimitiveTypeName.INT64, "key")
    val paced = init(new MessageType("t", group, key)).getRequestedSchema
    assert(paced.getFields.asScala.map(_.getName).toSeq === Seq("key"))
    val err = intercept[UnsupportedOperationException](init(new MessageType("t", group)))
    assert(err.getMessage.contains(path), err.getMessage)
  }
}
