package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** MULTI-DIMENSIONAL (Z-order / Hilbert) clustering for the snapshot
  * table's WRITE PATH — the layout lever the single sort chain cannot
  * give (reference scope: pycart works in 2-D coordinate space
  * throughout — cartogram.py:172/245 scale geometries around their
  * (x, y) centroids, border_util.py:5 probes spatial neighborhoods —
  * and a Spark-scale sibling stores such data CLUSTERED so spatial
  * predicates prune; generalized to the lakehouse Z-ORDER discipline
  * of Delta's OPTIMIZE ZORDER BY / public Morton order): rows are bucketed by the PREFIX of their space-filling
  * curve key and sorted by the full key inside each bucket, so every
  * data file covers one curve CELL whose per-dimension min/max box is
  * tight — a predicate on ANY clustered dimension prunes files from
  * the manifest ([[Snapshots.prunedScanAtBy]]), and an axis-aligned
  * BOX predicate prunes to just the intersecting cells
  * ([[Snapshots.prunedScanAtBox]]), where a linear sort order can
  * only ever prune on its leading column.
  *
  * Layout mechanics: the curve key ([[ZCol]], the 16-bit/dim Morton
  * interleave or Hilbert index from graftext.Bits — both hierarchical,
  * so a key PREFIX identifies a grid cell) and the bucket
  * ([[BCol]] = key >>> shift) are derived, materialized in the files,
  * and dropped by [[read]]. The layout descriptor rides as the
  * carried table property `zlayout=<curve>:<shift>:<dims>`; the curve
  * and dimension list are IMMUTABLE (they define what the key MEANS),
  * but the SHIFT — the cell granularity — EVOLVES like the sibling
  * bucketed tables' layouts: [[evolveShift]] is a METADATA-ONLY
  * commit, per-file write epochs ride as `#filez:<shift>:<rel>`
  * lines, [[merge]]/[[delete]] pick their rewrite sets by PER-EPOCH
  * prefix arithmetic (cells of the update batch at each epoch's
  * shift — one tiny job per epoch, manifest-matched), rewritten rows
  * restage at the CURRENT shift (touched data migrates as a side
  * effect), and [[compact]] is the migrator for the rest. Stats-based
  * BOX PRUNING is deliberately epoch-INDEPENDENT: per-dimension
  * min/max boxes discriminate identically at any cell granularity.
  *
  * Grid contract: dimension columns are LongType on the 16-bit grid
  * `[0, 65536)` (scale/bucket upstream — q112's `pmod` discipline).
  * Out-of-grid values only DEGRADE clustering (the key masks), never
  * correctness: pruning decisions come from the dimensions' own
  * recorded min/max, and residual filters are exact.
  *
  * Scale: everything here is [[Snapshots]] machinery — one hash
  * repartition + local sort per write, merge/delete cost ∝ touched
  * cells (× epochs for the tiny cell jobs), planning is manifest-only.
  * At 100 TB pick `shift` so a cell ≈ one task's worth of rows
  * (cells = 2^(keyBits − shift)) and coarsen/refine later with
  * [[evolveShift]] + [[compact]].
  */
object ZOrderTable {

  /** The materialized curve-key column (dropped by [[read]]). */
  val ZCol = "__gzkey"

  /** The derived curve-prefix bucket column (dropped by [[read]]). */
  val BCol = "__gzbucket"

  private val PropKey = "zlayout"

  /** One table's clustering descriptor. */
  final case class ZLayout(curve: String, shift: Int, dims: Seq[String]) {
    require(curve == "z" || curve == "h",
      s"curve must be z (Morton) or h (Hilbert), got '$curve'")
    require(dims.size == 2 || dims.size == 3,
      s"z-order tables cluster on 2 or 3 dimensions, got ${dims.size}")
    require(dims.forall(d => d.nonEmpty && !d.contains(":") && !d.contains(",")),
      s"invalid dimension names: $dims")
    /** Total key bits: 16 per dimension. */
    def keyBits: Int = dims.size * 16
    require(shift > 0 && shift < keyBits,
      s"shift must be in (0, $keyBits) for ${dims.size} dims, got $shift")
    def propValue: String = s"$curve:$shift:${dims.mkString(",")}"
  }

  private def parseLayout(s: String): ZLayout = {
    val Array(c, sh, ds) = s.split(":", 3)
    ZLayout(c, sh.toInt, ds.split(",").toSeq)
  }

  /** The layout version `v` was written under (from the carried
    * `#prop:zlayout` line). */
  def layoutAt(spark: SparkSession, dir: String, v: Long): ZLayout =
    Snapshots.propsAt(spark, dir, v).get(PropKey).map(parseLayout)
      .getOrElse(throw new IllegalArgumentException(
        s"$dir version $v is not a z-order table (no zlayout property)"))

  /** The layout currently in force. */
  def currentLayout(spark: SparkSession, dir: String): ZLayout =
    layoutAt(spark, dir, Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots")))

  /** Per-file write-epoch SHIFTS of version `v` (manifest-only). */
  def fileShifts(spark: SparkSession, dir: String, v: Long): Map[String, Int] =
    fileShifts(Snapshots.committedManifest(spark, dir, v))

  /** The same epoch census off an in-hand manifest — the ONE parse of
    * the `#filez` line grammar (deleteVectored's candidate lambda
    * reads the manifest it is handed, race-consistently). */
  private[operators] def fileShifts(m: Snapshots.Manifest): Map[String, Int] =
    m.metaValues("filez").flatMap {
      s => s.split(":", 2) match {
        case Array(n, rel) => Some(rel -> n.toInt)
        case _ => None
      }
    }.toMap

  private def filezLines(rels: Seq[String], shift: Int): Seq[String] =
    rels.map(r => s"filez:$shift:$r")

  private def carriedMeta(pm: Snapshots.Manifest, kept: Set[String]) = {
    // stat:<key>:<rows>:<min>:<max>:<rel> / stat2: 7 fields / ndv: 4 /
    // fsize + filez: 3 — the path is always the last field
    val stats = pm.statLines.filter(l => kept.contains(l.split(":", 6).last))
    val stats2 = pm.stat2Lines.filter(l =>
      kept.contains(Snapshots.statRelOf(l)))
    val ndv = pm.ndvLines.filter(l => kept.contains(l.split(":", 4).last))
    val sizes = pm.fsizeLines.filter(l => kept.contains(l.split(":", 3).last))
    val filez = pm.meta.filter(_.startsWith("#filez:")).map(_.stripPrefix("#"))
      .filter(l => kept.contains(l.split(":", 3).last))
    val dv = pm.dvLines.filter(l => kept.contains(Snapshots.dvRelOf(l)))
    pm.propLines ++ pm.statColsLines ++ pm.ndvColsLines ++
      filez ++ stats ++ stats2 ++ ndv ++ sizes ++ dv
  }

  private def keyExpr(l: ZLayout): Column = {
    import org.apache.spark.sql.graftext.Bits
    (l.curve, l.dims.map(col)) match {
      case ("z", Seq(x, y)) => Bits.zorder(x, y)
      case ("h", Seq(x, y)) => Bits.hilbert(x, y)
      case ("z", Seq(x, y, z)) => Bits.zorder3(x, y, z)
      case ("h", Seq(x, y, z)) => Bits.hilbert3(x, y, z)
      case _ => throw new IllegalArgumentException(s"unsupported layout $l")
    }
  }

  private def withLayout(df: DataFrame, l: ZLayout): DataFrame = {
    l.dims.foreach { d =>
      require(df.columns.contains(d), s"missing layout dimension column $d")
      require(df.schema(d).dataType == LongType,
        s"layout dimension $d must be LongType on the 16-bit grid " +
          s"(got ${df.schema(d).dataType}) — scale upstream")
    }
    require(!df.columns.contains(ZCol) && !df.columns.contains(BCol),
      s"column names $ZCol/$BCol are reserved for the z-order layout")
    df.withColumn(ZCol, keyExpr(l))
      .withColumn(BCol, shiftrightunsigned(col(ZCol), l.shift))
  }

  /** Publish the first version clustered on `dims` (2 or 3 LongType
    * grid columns): bucket = curve-key prefix (`2^(16·d − shift)`
    * cells), within-bucket sort = the full key (tight row groups),
    * per-dimension typed stats auto-declared. */
  def publish(df: DataFrame, dir: String, dims: Seq[String], shift: Int,
              curve: String = "z", blockSize: Long = 128L * 1024 * 1024,
              numTasks: Int = 32, extraStatsCols: Seq[String] = Nil,
              ndvCols: Seq[String] = Nil, meta: Seq[String] = Nil): Long = {
    val l = ZLayout(curve, shift, dims)
    val spark = df.sparkSession
    Snapshots.resolveForWrite(spark, dir)
    require(Snapshots.latest(spark, dir).isEmpty,
      s"$dir already has snapshots — use append")
    val statsCols = (dims ++ extraStatsCols).distinct
    val st = Snapshots.stage(withLayout(df, l), dir, BCol, Seq(ZCol),
      blockSize, numTasks, stat2Cols = statsCols, ndvCols = ndvCols)
    val v = Snapshots.claimAbove(spark, dir, 0L)
    Snapshots.commit(spark, dir, v, st.rels,
      meta ++ Seq("format:2", s"schema:${st.schemaJson}",
        s"prop:$PropKey=${l.propValue}",
        s"statcols:${statsCols.mkString(",")}") ++
        (if (ndvCols.isEmpty) Nil else Seq(s"ndvcols:${ndvCols.mkString(",")}")) ++
        filezLines(st.rels, l.shift) ++ st.statLines ++ st.stat2Lines ++
        st.ndvLines ++ st.sizeLines)
    v
  }

  /** Incremental load under the table's OWN layout (re-derived from
    * the manifest — new rows land in their CURRENT-shift cells; files
    * from earlier epochs coexist untouched). */
  def append(df: DataFrame, dir: String,
             blockSize: Long = 128L * 1024 * 1024,
             numTasks: Int = 32): Long = {
    val spark = df.sparkSession
    Snapshots.resolveForWrite(spark, dir)
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots — use publish"))
    val pm = Snapshots.committedManifest(spark, dir, prev)
    val l = layoutAt(spark, dir, prev)
    val laid = withLayout(df, l)
    val st = Snapshots.stage(laid, dir, BCol, Seq(ZCol), blockSize, numTasks,
      stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
    val schema = pm.schemaOpt match {
      case Some(ps) => Snapshots.mergeSchemas(ps,
        Snapshots.nullable(laid.schema)).json
      case None => st.schemaJson
    }
    val v = Snapshots.claimAbove(spark, dir, prev)
    Snapshots.commit(spark, dir, v, pm.files ++ st.rels,
      Seq("format:2", s"schema:$schema") ++ Snapshots.carriedBatch(pm) ++
        carriedMeta(pm, pm.files.toSet) ++ filezLines(st.rels, l.shift) ++
        st.statLines ++ st.stat2Lines ++ st.ndvLines ++ st.sizeLines)
    v
  }

  /** Change the CELL GRANULARITY — a METADATA-ONLY commit (same
    * files, same epochs, only the `zlayout` property's shift
    * changes). New writes land at the new shift; earlier epochs
    * coexist and migrate when touched (or via [[compact]]). The
    * curve and dimensions are immutable — they define the key. */
  def evolveShift(spark: SparkSession, dir: String, newShift: Int): Long = {
    Snapshots.resolveForWrite(spark, dir)
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = Snapshots.committedManifest(spark, dir, prev)
    val old = layoutAt(spark, dir, prev)
    val l = ZLayout(old.curve, newShift, old.dims) // validates the range
    require(newShift != old.shift, s"table is already at shift $newShift")
    val schema = pm.schemaOpt.map(Snapshots.nullable(_).json).getOrElse(
      throw new IllegalArgumentException(s"$dir has no recorded schema"))
    val v = Snapshots.claimAbove(spark, dir, prev)
    // carriedMeta copies the OLD zlayout prop line — drop it first
    val carried = carriedMeta(pm, pm.files.toSet)
      .filterNot(_.startsWith(s"prop:$PropKey="))
    Snapshots.commit(spark, dir, v, pm.files,
      Seq("format:2", s"schema:$schema", s"prop:$PropKey=${l.propValue}") ++
        Snapshots.carriedBatch(pm) ++ carried)
    v
  }

  /** The files any of `rowsWithDims`'s rows can live in, per EPOCH,
    * by curve-prefix arithmetic: the batch's cells at each epoch's
    * shift (one tiny distinct job per epoch), matched against the
    * files' path buckets. Zero data-file opens. */
  private def touchedFiles(spark: SparkSession, pm: Snapshots.Manifest,
                           epochs: Map[String, Int], l: ZLayout,
                           rowsWithDims: DataFrame): Seq[String] =
    touchedFilesCounted(spark, pm, epochs, l, rowsWithDims, lit(0L))._1

  /** The per-epoch touched-file decision from ONE grouped fold
    * (guide §1.2 — this ran one distinct+collect job PER EPOCH): the
    * batch's cells fold once at the FINEST positive shift, and every
    * coarser epoch's cell set derives by a further right shift on
    * the driver (exact: `zkey >>> sh == (zkey >>> minShift) >>>
    * (sh − minShift)` for sh ≥ minShift). The same fold carries a
    * caller-supplied row marker sum (the [[Snapshots.mergeImpl]]
    * trick) — applyImpl passes the update-side flag so a non-empty
    * update side skips the merged-frame emptiness probe without an
    * extra take(1) action. */
  private def touchedFilesCounted(spark: SparkSession,
      pm: Snapshots.Manifest, epochs: Map[String, Int], l: ZLayout,
      rowsWithDims: DataFrame, marker: Column): (Seq[String], Long) = {
    val byEpoch = pm.files.groupBy(f => epochs.getOrElse(f, -1))
    val zkey = keyExpr(l)
    val shifts = byEpoch.keys.filter(_ > 0)
    if (shifts.isEmpty)
      return (pm.files, -1L) // all epochs unknown: conservative, no fold ran
    val minShift = shifts.min
    val folded = rowsWithDims
      .select(shiftrightunsigned(zkey, minShift).as("c"), marker.as("u"))
      .groupBy(col("c")).agg(sum(col("u")).as("u"))
      .collect()
    val fine = folded.map(_.getLong(0))
    val markerSum = folded.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
    val files = byEpoch.toSeq.flatMap { case (sh, files) =>
      if (sh <= 0) files // unknown epoch: conservative, rewrite/read it
      else {
        val cells = fine.map(_ >>> (sh - minShift)).toSet
        files.filter(f => Snapshots.fileBucket(f).exists(cells.contains))
      }
    }
    (files, markerSum)
  }

  /** Upsert by `keyCols` — the PRUNED path (cost ∝ touched cells),
    * which is only sound when the key DETERMINES the cell: the
    * dimension columns must be part of the key (a spatial entity
    * keyed by its grid position, a fact keyed on source × day × id
    * grid columns). With attribute dims a row's cell can MOVE under
    * an update and the pruned merge would leave the old row alive in
    * its untouched cell — refused here; use [[mergeMoving]].
    * Rewrite sets span EPOCHS (per-epoch prefix arithmetic);
    * rewritten rows restage at the current shift. */
  def merge(updates: DataFrame, dir: String, keyCols: Seq[String],
            blockSize: Long = 128L * 1024 * 1024,
            numTasks: Int = 32): Long = {
    val spark = updates.sparkSession
    val l = currentLayout(spark, dir)
    require(l.dims.forall(keyCols.contains),
      s"merge by $keyCols cannot prune safely: the layout dims ${l.dims} " +
        "are not all key columns, so an update may MOVE a row's cell and " +
        "orphan the old copy — use mergeMoving (one locate scan)")
    applyImpl(Some(updates), None, dir, keyCols, blockSize, numTasks)
  }

  /** Delete by key — `keys` must carry `keyCols` AND the dimension
    * columns with the rows' CURRENT values (cells are located without
    * scanning the table). COPY-ON-WRITE: every touched cell rewrites
    * — for a SCATTERED erasure (a few keys per cell across many
    * cells, the GDPR shape) use [[deleteVectored]] instead, which
    * commits metadata-only. */
  def delete(keys: DataFrame, dir: String, keyCols: Seq[String],
             blockSize: Long = 128L * 1024 * 1024,
             numTasks: Int = 32): Long =
    applyImpl(None, Some(keys), dir, keyCols, blockSize, numTasks)

  /** MERGE-ON-READ delete on a z-table ([[Snapshots.deleteVectored]]
    * through THIS layout's cell arithmetic): matched rows' positions
    * commit as `#dv` lines — ZERO files rewritten, however many cells
    * the keys scatter over (the shape [[delete]]'s copy-on-write
    * rewrites the table for). Candidate files are located per EPOCH
    * (the keys' cells at each epoch's shift — exactly [[merge]]'s
    * pruning), so any shift-evolution mix is correct. `keys` carries
    * `keyCols` plus the dimension columns with the rows' CURRENT
    * values — RAW values on a quantile-mapped table (codes re-derive
    * from the stored `zmap.*` cuts). Reads apply the vectors, the
    * feed emits the deletes, [[compact]]/rewrites materialize. */
  def deleteVectored(keys: DataFrame, dir: String,
                     keyCols: Seq[String]): Long = {
    val spark = keys.sparkSession
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val l = layoutAt(spark, dir, prev)
    val rawOf = l.dims.map(d => d -> d.stripPrefix(MapPrefix)).toMap
    rawOf.values.foreach(d => require(keys.columns.contains(d),
      s"delete keys must carry the layout dimension $d with the rows' " +
        "current values (cells are located without scanning the table)"))
    // mapped dims: derive the grid codes from the STORED cuts — same
    // cells as the data's, whoever writes
    val props = Snapshots.propsAt(spark, dir, prev)
    val keyed = l.dims.filter(_.startsWith(MapPrefix)).foldLeft(keys) {
      (acc, d) =>
        val raw = rawOf(d)
        val zm = parseZMap(props.getOrElse(mapPropKey(raw),
          throw new IllegalArgumentException(
            s"$dir carries no zmap.$raw property — not a mapped dimension")))
        acc.withColumn(d, codeExpr(col(raw), keys.schema(raw).dataType, zm))
    }
    Snapshots.deleteVectoredBy(keys, dir, keyCols, pm =>
      touchedFiles(spark, pm, fileShifts(pm), l,
        keyed.select(l.dims.map(col): _*)))
  }

  /** Upsert by `keyCols` when the dims are ATTRIBUTES (an update may
    * move a row across cells): the keys' CURRENT rows are located
    * with one table scan filtered by a BROADCAST semi join (no
    * shuffle of the table), then old positions drop and new rows
    * land in ONE commit — rewrite cost still ∝ touched cells; the
    * locate scan is the honest price of key-moving upserts without a
    * key index. Same-key delete+insert here is the upsert itself
    * (every dropped key re-inserts from `updates`). */
  def mergeMoving(updates: DataFrame, dir: String, keyCols: Seq[String],
                  blockSize: Long = 128L * 1024 * 1024,
                  numTasks: Int = 32): Long = {
    val spark = updates.sparkSession
    val l = currentLayout(spark, dir)
    val oldPositions = Snapshots.read(spark, dir).drop(ZCol, BCol)
      .join(broadcast(updates.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi")
      .select((keyCols ++ l.dims).distinct.map(col): _*)
    applyImpl(Some(updates), Some(oldPositions), dir, keyCols, blockSize,
      numTasks)
  }

  private def applyImpl(updatesOpt: Option[DataFrame],
                        deletesOpt: Option[DataFrame], dir: String,
                        keyCols: Seq[String], blockSize: Long,
                        numTasks: Int, meta: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "merge/delete needs key columns")
    val spark = updatesOpt.orElse(deletesOpt).get.sparkSession
    Snapshots.resolveForWrite(spark, dir)
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots — use publish"))
    val pm = Snapshots.committedManifest(spark, dir, prev)
    val l = layoutAt(spark, dir, prev)
    val epochs = fileShifts(spark, dir, prev)
    (updatesOpt.toSeq ++ deletesOpt.toSeq).foreach { f =>
      l.dims.foreach(d => require(f.columns.contains(d),
        s"update/delete rows must carry the layout dimension $d"))
    }
    // MATERIALIZE each side once on the TWO-SIDED (CDC) shape (guide
    // §5 — the [[Snapshots.mergeImpl]] discipline and gate): with
    // deletes present the sides feed the per-epoch cell folds, the
    // emptiness probe and the staging write as INDEPENDENT actions; a
    // streaming microbatch's DAG (changed-file read + net() shuffle)
    // would otherwise recompute per action. Updates-only merges skip
    // the persist (one fold + one write; the materialization tax
    // measured larger than the recompute). Batches are churn-sized;
    // caller-persisted frames are left alone.
    import org.apache.spark.storage.StorageLevel
    val wantPersist = deletesOpt.isDefined
    def materialize(df: DataFrame): (DataFrame, Boolean) =
      if (!wantPersist || df.storageLevel != StorageLevel.NONE) (df, false)
      else (df.persist(StorageLevel.MEMORY_AND_DISK), true)
    val (updatesP, updOwned) = updatesOpt.map(materialize)
      .map(t => (Some(t._1), t._2)).getOrElse((None, false))
    val (deletesP, delOwned) = deletesOpt.map(materialize)
      .map(t => (Some(t._1), t._2)).getOrElse((None, false))
    try {
      // cells are located from BOTH sides' dims (an update's target cell
      // and a delete's current cell), per epoch — ONE grouped fold for
      // every epoch, carrying an update-side row marker so the
      // emptiness probe below can be skipped without its own action
      val allDims = (updatesP.toSeq.map(_.select(l.dims.map(col): _*)
          .withColumn("__gz_upd", lit(1L))) ++
        deletesP.toSeq.map(_.select(l.dims.map(col): _*)
          .withColumn("__gz_upd", lit(0L)))).reduce(_.unionByName(_))
      val dropKeys = (updatesP.toSeq ++ deletesP.toSeq)
        .map(_.select(keyCols.map(col): _*)).reduce(_.unionByName(_))
      val (touched, updRows) = graft.Prof(s"zmerge.cells $dir")(
        touchedFilesCounted(spark, pm, epochs, l, allDims,
          col("__gz_upd")))
      if (touched.isEmpty && updatesP.isEmpty) return prev
      val mergedRows =
        if (touched.isEmpty) updatesP.get
        else {
          val existing = Snapshots.readFiles(spark, dir, touched.sorted,
            pm.schemaOpt, pm.colMap, pm.fileSizes,
            dv = Snapshots.resolveDv(spark, dir, pm)).drop(ZCol, BCol)
          updatesP match {
            case Some(updates) =>
              val (ex, up) = Snapshots.mergeAlign(existing, updates)
              ex.join(dropKeys, keyCols, "left_anti").unionByName(up)
            case None =>
              existing.join(dropKeys, keyCols, "left_anti")
          }
        }
      // a delete can empty its cells entirely: commit kept files only.
      // The probe only fires when it CAN be empty — a non-empty update
      // side unions in and survives. The cell fold above already
      // counted the update rows, so no extra action decides; only the
      // all-unknown-epoch path (updRows == -1, no fold ran) falls back
      // to a take(1) on the materialized side.
      val updNonEmpty = updRows > 0L ||
        (updRows == -1L && updatesP.exists(!_.isEmpty))
      val st =
        if (deletesOpt.isDefined && !updNonEmpty && mergedRows.isEmpty)
          Snapshots.Staged(Nil, pm.schemaOpt.map(Snapshots.nullable(_).json)
            .getOrElse(Snapshots.nullable(mergedRows.schema).json), Nil)
        else Snapshots.stage(withLayout(mergedRows, l), dir, BCol, Seq(ZCol),
          blockSize, numTasks, stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
      val touchedSet = touched.toSet
      val kept = pm.files.filterNot(touchedSet)
      val schema = pm.schemaOpt match {
        case Some(ps) if updatesP.isEmpty => Snapshots.nullable(ps).json
        case Some(ps) => Snapshots.mergeSchemas(ps,
          Snapshots.nullable(withLayout(mergedRows, l).schema)).json
        case None => st.schemaJson
      }
      val v = Snapshots.claimAbove(spark, dir, prev)
      Snapshots.commit(spark, dir, v, kept ++ st.rels,
        meta ++ Seq("format:2", s"schema:$schema") ++
          Snapshots.carriedBatch(pm, meta) ++
          carriedMeta(pm, kept.toSet) ++ filezLines(st.rels, l.shift) ++
          st.statLines ++ st.stat2Lines ++ st.ndvLines ++ st.sizeLines)
      v
    } finally {
      if (updOwned) updatesP.foreach(_.unpersist(false))
      if (delOwned) deletesP.foreach(_.unpersist(false))
    }
  }

  /** Idempotent batch upsert into a z-table — the EXACTLY-ONCE
    * streaming sink discipline ([[Snapshots.mergeBatch]]) over the
    * clustered layout: the applied batch id rides in the committed
    * manifest, a replayed id is a no-op, the BOOTSTRAP batch creates
    * the table under `bootstrap`'s layout (ledger-stamped like any
    * other batch), and every applied batch lands in its curve cells
    * (pruned path — `keyCols` must include the dims, the [[merge]]
    * contract; pass `deletes` for a two-sided CDC batch). Single
    * streaming writer per table, as for the flat sink. */
  def mergeBatch(batchId: Long, updates: DataFrame, dir: String,
                 keyCols: Seq[String], bootstrap: ZLayout,
                 blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32,
                 deletes: Option[DataFrame] = None): Long = {
    val spark = updates.sparkSession
    require(bootstrap.dims.forall(keyCols.contains),
      s"mergeBatch by $keyCols cannot prune safely: the layout dims " +
        s"${bootstrap.dims} must be key columns (the merge contract)")
    if (Snapshots.lastAppliedBatch(spark, dir).exists(batchId <= _))
      Snapshots.latest(spark, dir).get // re-delivery: already applied
    else Snapshots.latest(spark, dir) match {
      case None =>
        publish(updates, dir, bootstrap.dims, bootstrap.shift,
          bootstrap.curve, blockSize, numTasks,
          meta = Seq(s"batch:$batchId"))
      case Some(v) =>
        // re-validate against the table's ACTUAL layout, not the
        // caller-supplied bootstrap: a sink mis-wired to an existing
        // table whose real dims are NOT all key columns would
        // otherwise take the pruned path silently, and an update that
        // moves a row's cell would leave the old copy alive in its
        // untouched cell — exactly the duplication merge refuses up
        // front. The curve/dims identity check catches the mis-wiring
        // itself (same failure, one step earlier); shift may differ —
        // it evolves.
        val actual = layoutAt(spark, dir, v)
        require(actual.curve == bootstrap.curve &&
          actual.dims == bootstrap.dims,
          s"mergeBatch bootstrap layout (${bootstrap.curve}:" +
            s"${bootstrap.dims.mkString(",")}) does not match the " +
            s"table's (${actual.curve}:${actual.dims.mkString(",")}) — " +
            "this sink is wired to the wrong table")
        require(actual.dims.forall(keyCols.contains),
          s"mergeBatch by $keyCols cannot prune safely: the table's " +
            s"layout dims ${actual.dims} are not all key columns — an " +
            "update could move a row's cell and orphan the old copy")
        applyImpl(Some(updates), deletes, dir, keyCols, blockSize,
          numTasks, meta = Seq(s"batch:$batchId"))
    }
  }

  /** [[mergeBatch]] curried for `writeStream.foreachBatch`. */
  def foreachBatchMerge(dir: String, keyCols: Seq[String],
                        bootstrap: ZLayout): (DataFrame, Long) => Unit =
    (batchDf, batchId) => {
      mergeBatch(batchId, batchDf, dir, keyCols, bootstrap)
      ()
    }

  /** Compaction = the epoch MIGRATOR: rewrite every stale-epoch file,
    * every current-epoch file in a cell the migrating rows land in
    * (landing cells computed from the STORED keys of the stale files
    * alone — `ZCol >>> shift`, no curve recompute, data being
    * rewritten anyway), and every fragmented cell (2+ files).
    * Returns the previous version when there is nothing to do. */
  def compact(spark: SparkSession, dir: String,
              blockSize: Long = 128L * 1024 * 1024): Long = {
    Snapshots.resolveForWrite(spark, dir)
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = Snapshots.committedManifest(spark, dir, prev)
    val l = layoutAt(spark, dir, prev)
    val epochs = fileShifts(spark, dir, prev)
    val fullDv = Snapshots.resolveDv(spark, dir, pm)
    val stale = pm.files.filter(f => !epochs.get(f).contains(l.shift))
    val current = pm.files.filterNot(stale.contains)
    val landing: Set[Long] =
      if (stale.isEmpty) Set.empty
      else Snapshots.readFiles(spark, dir, stale, pm.schemaOpt, pm.colMap,
        pm.fileSizes, dv = fullDv)
        .select(shiftrightunsigned(col(ZCol), l.shift).as("c"))
        .distinct().collect().map(_.getLong(0)).toSet
    val conflict = current.filter(f =>
      Snapshots.fileBucket(f).exists(landing.contains))
    val frag = current.groupBy(f => Snapshots.fileBucket(f).getOrElse(-1L))
      .filter(_._2.size >= 2).values.flatten.toSeq
    // DV-bearing files rewrite too (materialize + drop the line)
    val dvFiles = pm.files.filter(fullDv.contains)
    val rewrite = (stale ++ conflict ++ frag ++ dvFiles).distinct.sorted
    if (rewrite.isEmpty) return prev
    val df = Snapshots.readFiles(spark, dir, rewrite, pm.schemaOpt,
        pm.colMap, pm.fileSizes, dv = fullDv)
      .drop(ZCol, BCol)
    val st = Snapshots.stage(withLayout(df, l), dir, BCol, Seq(ZCol),
      blockSize, math.max(rewrite.size, 1), stat2Cols = pm.statCols,
      ndvCols = pm.ndvCols)
    val kept = pm.files.filterNot(rewrite.contains)
    val schema = pm.schemaOpt.map(Snapshots.nullable(_).json)
      .getOrElse(st.schemaJson)
    val v = Snapshots.claimAbove(spark, dir, prev)
    Snapshots.commit(spark, dir, v, kept ++ st.rels,
      Seq("format:2", s"schema:$schema") ++ Snapshots.carriedBatch(pm) ++
        carriedMeta(pm, kept.toSet) ++ filezLines(st.rels, l.shift) ++
        st.statLines ++ st.stat2Lines ++ st.ndvLines ++ st.sizeLines)
    v
  }

  /** Props-driven maintenance for z-tables ([[Snapshots.maintain]]'s
    * core with THIS layout's compactor — the epoch migrator): compact
    * stale/fragmented cells, `retainversions` retention vacuum,
    * checkpoint refresh. */
  def maintain(spark: SparkSession, dir: String,
               retainMs: Long = Snapshots.DefaultRetainMs,
               blockSize: Long = 128L * 1024 * 1024): Snapshots.Maintenance =
    Snapshots.maintainImpl(spark, dir, retainMs,
      () => compact(spark, dir, blockSize))

  // -----------------------------------------------------------------
  // Quantile-MAPPED layouts — clustering on ARBITRARY column types
  // (the Delta OPTIMIZE ZORDER BY ergonomics: real tables cluster on
  // timestamp/double/string-adjacent columns, not pre-scaled 16-bit
  // grids). Each raw dimension gets K quantile cut points derived
  // ONCE at publish (the Profile.exactQuantiles histogram discipline
  // — shuffle carries distinct values, never rows) and carried as a
  // `zmap.<dim>` table property, so every later write RE-DERIVES THE
  // SAME mapping from the manifest — no drift between writers. The
  // grid code = (count of cuts ≤ value) × (65536/K): monotone, so
  // per-file raw-value min/max stay tight per curve cell and BOX
  // PRUNING works directly on RAW predicates via the auto-declared
  // typed stats. Out-of-range values CLAMP to the edge codes and
  // nulls land in cell 0 — clustering degrades, answers never change
  // (pruning decisions come from recorded raw min/max, residuals are
  // exact — the established out-of-grid stance).
  // -----------------------------------------------------------------

  /** Derived grid-code column prefix for mapped dimensions (dropped
    * by [[read]]/[[readAt]]/[[box]] like the key columns). */
  val MapPrefix = "__gzm_"

  private def mapPropKey(dim: String) = s"zmap.$dim"

  /** One mapped dimension's stored quantile mapping. */
  private final case class ZMap(kind: String, buckets: Int,
                                cuts: Array[String])

  /** Normalize a raw column to its orderable comparison space:
    * integer family / date / timestamp → long ("i", micros for
    * timestamps — matching the typed-stats encoding), float/double →
    * double ("d"). */
  private def normExpr(c: Column,
                       dt: org.apache.spark.sql.types.DataType): (Column, String) = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | TimestampNTZType =>
        (unix_micros(c.cast("timestamp")), "i")
      case DateType => (unix_date(c).cast("long"), "i")
      case ByteType | ShortType | IntegerType | LongType =>
        (c.cast("long"), "i")
      case FloatType | DoubleType => (c.cast("double"), "d")
      case other => throw new IllegalArgumentException(
        s"zmap dimensions must be integer/date/timestamp/float/double " +
          s"columns (got ${other.simpleString}) — strings have no " +
          "meaningful quantile grid here; hash-bucket them instead")
    }
  }

  /** Codegen-friendly count of sorted `cuts` elements ≤ v — a nested
    * CASE binary search of depth ⌈log₂ n⌉ instead of `size∘filter`
    * over an array literal: the higher-order function evaluates an
    * INTERPRETED lambda per array element per row (guide §4 — the
    * publish/append write job paid 2.1 s per 150K-row pass at 255
    * cuts where the binary search pays 0.37 s; `ZmapProbe`, value
    * mismatches 0 on the real dims). Value-identical by construction:
    * the insertion point of an upper-bound binary search over a
    * sorted (duplicates allowed) array IS the ≤-count. A NaN value
    * sorts above every double in Spark's comparisons, so it passes
    * every `v >= cut` and lands at the high edge, `cuts.length`; only
    * a NULL value fails every comparison and falls through to the low
    * edge, 0 — in both cases exactly what the filter-size path
    * produced. */
  private def upperBoundCount(v: Column, cuts: Array[Column]): Column = {
    def f(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(v >= cuts(mid), f(mid + 1, hi)).otherwise(f(lo, mid))
      }
    f(0, cuts.length)
  }

  /** The 16-bit grid code of a raw value under a stored mapping:
    * count of cut points ≤ value, scaled to the grid; nulls → 0. */
  private def codeExpr(raw: Column,
                       dt: org.apache.spark.sql.types.DataType,
                       zm: ZMap): Column = {
    val (v, kind) = normExpr(raw, dt)
    require(kind == zm.kind,
      s"stored zmap kind ${zm.kind} does not match the column's $kind — " +
        "the dimension's type changed incompatibly since publish")
    val cutCols: Array[Column] =
      if (zm.kind == "i") zm.cuts.map(c => lit(c.toLong))
      else zm.cuts.map(c => lit(c.toDouble))
    val idx = upperBoundCount(v, cutCols)
    coalesce(idx * lit((65536 / zm.buckets).toLong), lit(0L))
  }

  /** Floor on the banded cut derivation's parallelism (see
    * [[cutsFrame]]); the effective band count also scales with the
    * session's shuffle-partition setting. */
  private val CutBandsFloor = 64

  /** The exact-K-quantile cut computation as a FRAME (collect-free —
    * the spec's plan-assertion seam): same integer cut rule as
    * `Profile.exactQuantiles` (cum·K ≥ d·N) over the normalized
    * comparison space, computed as a BANDED two-phase prefix sum:
    *
    *  1. ONE value-histogram aggregate (distinct values through the
    *     shuffle, never rows — the q113 discipline);
    *  2. approximate value-space percentiles split the histogram into
    *     order-preserving BANDS — approximation affects LOAD BALANCE
    *     only, never the result;
    *  3. per-band totals (≤ bands rows to the driver) become exact
    *     exclusive offsets, and the running count is `offset +
    *     in-band prefix sum` under a Window PARTITIONED by band —
    *     never a global unpartitioned window: on a continuous
    *     double/timestamp dimension the histogram is row-count-sized,
    *     and a global `Window.orderBy` would sort all of it on ONE
    *     reducer (the r11 `weak`);
    *  4. each histogram row KNOWS which cut indices it owns — the
    *     integer-exact interval ((cum−c)·K, cum·K] partitions
    *     (0, N·K], so `d ∈ [(cum−c)·K div N + 1, cum·K div N]` —
    *     emitted by one `sequence`+`explode`, no join, no groupBy,
    *     exactly K−1 output rows.
    *
    * Cuts are bit-identical to the former global-window derivation
    * (exact arithmetic end to end); only the execution shape changed.
    *
    * The third element is the PERSISTED value histogram the frame
    * reads from — the caller MUST `unpersist()` it after its action
    * (mirror [[deriveCuts]]'s try/finally), or a row-count-sized
    * cached frame leaks per call on continuous dimensions. */
  private[graft] def cutsFrame(df: DataFrame, dim: String,
      buckets: Int): (DataFrame, String, DataFrame) =
    cutsFrameHist(df, dim, buckets)

  private def cutsFrameHist(df: DataFrame, dim: String,
      buckets: Int): (DataFrame, String, DataFrame) = {
    val (v, kind) = normExpr(col(dim), df.schema(dim).dataType)
    // the histogram feeds THREE actions (band bounds, band totals,
    // the cuts collect) — persist it so the source scans once, not
    // three times per dimension; [[deriveCuts]] releases it
    val hist = df.select(v.as("v")).filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = math.max(CutBandsFloor, scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(CutBandsFloor))
    val bounds = graft.Prof(s"cuts.bounds $dim")(scala.util.Try(
      hist.stat.approxQuantile("v",
        (1 until bands).map(_.toDouble / bands).toArray, 0.01))
      .getOrElse(Array.empty[Double]).distinct.sorted)
    // band assignment by the same codegen binary search as codeExpr —
    // the histogram is row-count-sized on continuous dimensions, so an
    // interpreted per-element lambda here is the same §4 tax
    val banded = hist.withColumn("band",
      upperBoundCount(col("v").cast("double"),
        bounds.map(b => lit(b))).cast("int"))
    val totalMap = graft.Prof(s"cuts.bandTotals $dim")(
      banded.groupBy(col("band")).agg(sum(col("c")).as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val offsets = new Array[Long](bounds.length + 1)
    var acc = 0L
    var i = 0
    while (i < offsets.length) {
      offsets(i) = acc
      acc += totalMap.getOrElse(i, 0L)
      i += 1
    }
    val n = acc
    val offArr = typedlit(offsets.toSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val frame = banded
      .withColumn("cum",
        sum(col("c")).over(w) + element_at(offArr, col("band") + 1))
      .withColumn("dmin",
        expr(s"(cum - c) * ${buckets}L div ${math.max(n, 1L)}L + 1L"))
      .withColumn("dmax", expr(s"cum * ${buckets}L div ${math.max(n, 1L)}L"))
      .withColumn("d", explode(when(col("dmax") >= col("dmin"),
        sequence(col("dmin"), col("dmax")))
        .otherwise(typedlit(Seq.empty[Long]))))
      .filter(col("d") >= 1 && col("d") <= lit((buckets - 1).toLong))
      .select(col("d"), col("v").as("cut"))
    (frame, kind, hist)
  }

  /** Exact K-quantile cut points of a raw dimension — [[cutsFrame]]
    * collected (≤ K−1 rows), in cut-index order; the persisted
    * histogram released after. */
  private def deriveCuts(df: DataFrame, dim: String, buckets: Int): ZMap = {
    val (frame, kind, hist) = cutsFrameHist(df, dim, buckets)
    val cuts =
      try graft.Prof(s"cuts.collect $dim")(
        frame.orderBy(col("d")).select("cut").collect()
          .map(_.get(0).toString))
      finally hist.unpersist()
    ZMap(kind, buckets, cuts)
  }

  /** [[deriveCuts]] for every dimension, the independent derivations
    * submitted CONCURRENTLY from a small driver pool (guide §2.6 —
    * each dimension's derivation is 2-3 tiny jobs whose wall time is
    * scheduling overhead, so running dims back to back serializes
    * idle time; the scheduler back-fills the executors across them).
    * Results are identical per dimension — the derivations share
    * nothing but the read-only input frame. */
  private def deriveCutsAll(df: DataFrame, rawDims: Seq[String],
                            buckets: Int): Map[String, ZMap] =
    if (rawDims.size <= 1)
      rawDims.map(d => d -> deriveCuts(df, d, buckets)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(rawDims.size)
      try rawDims.map(d => d -> pool.submit(
          new java.util.concurrent.Callable[ZMap] {
            override def call(): ZMap = deriveCuts(df, d, buckets)
          })).map { case (d, f) =>
            // surface the derivation's OWN exception (e.g. the string-
            // dim refusal), not the pool's ExecutionException wrapper
            d -> (try f.get() catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            })
          }.toMap
      finally pool.shutdown()
    }

  private def parseZMap(s: String): ZMap = {
    val Array(kind, k, cuts) = s.split(":", 3)
    ZMap(kind, k.toInt,
      if (cuts.isEmpty) Array.empty else cuts.split(",", -1))
  }

  /** Publish the first version clustered on RAW dimensions of
    * arbitrary orderable types (timestamp, date, double, integers):
    * derives each dimension's K quantile cuts, materializes the
    * mapped grid codes ([[MapPrefix]] columns), stores the mapping as
    * carried `zmap.<dim>` properties (every later write re-derives
    * identical codes from the manifest), and auto-declares typed
    * stats on the RAW dimensions so [[box]]-style pruning works on
    * raw predicates ([[Snapshots.prunedScanAtBox]]). `buckets` must
    * divide 65536 (codes scale onto the 16-bit grid). */
  def publishMapped(df: DataFrame, dir: String, rawDims: Seq[String],
                    shift: Int, curve: String = "z", buckets: Int = 256,
                    blockSize: Long = 128L * 1024 * 1024, numTasks: Int = 32,
                    extraStatsCols: Seq[String] = Nil,
                    ndvCols: Seq[String] = Nil): Long = {
    require(buckets >= 2 && buckets <= 65536 && 65536 % buckets == 0,
      s"buckets must divide the 16-bit grid (got $buckets)")
    rawDims.foreach(d => require(df.columns.contains(d),
      s"missing mapped dimension column $d"))
    val maps = deriveCutsAll(df, rawDims, buckets)
    val withCodes = rawDims.foldLeft(df)((acc, d) =>
      acc.withColumn(MapPrefix + d,
        codeExpr(col(d), df.schema(d).dataType, maps(d))))
    publish(withCodes, dir, rawDims.map(MapPrefix + _), shift, curve,
      blockSize, numTasks,
      extraStatsCols = (rawDims ++ extraStatsCols).distinct,
      ndvCols = ndvCols,
      meta = rawDims.map { d =>
        val m = maps(d)
        s"prop:${mapPropKey(d)}=${m.kind}:${m.buckets}:${m.cuts.mkString(",")}"
      })
  }

  /** Incremental load into a MAPPED table: the grid codes re-derive
    * from the STORED `zmap.<dim>` properties — same cuts, same codes,
    * whoever writes. Out-of-range new values clamp to the edge cells
    * (re-derive the mapping via a fresh [[publishMapped]] +
    * [[compact]] migration when drift warrants re-clustering). */
  def appendMapped(df: DataFrame, dir: String,
                   blockSize: Long = 128L * 1024 * 1024,
                   numTasks: Int = 32): Long = {
    val spark = df.sparkSession
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots — use publishMapped"))
    val l = layoutAt(spark, dir, prev)
    require(l.dims.forall(_.startsWith(MapPrefix)),
      s"$dir is not a quantile-mapped z-table (dims ${l.dims})")
    val props = Snapshots.propsAt(spark, dir, prev)
    val withCodes = l.dims.map(_.stripPrefix(MapPrefix)).foldLeft(df) {
      (acc, d) =>
        val zm = parseZMap(props.getOrElse(mapPropKey(d),
          throw new IllegalArgumentException(
            s"$dir carries no zmap.$d property — not a mapped dimension")))
        acc.withColumn(MapPrefix + d,
          codeExpr(col(d), df.schema(d).dataType, zm))
    }
    append(withCodes, dir, blockSize, numTasks)
  }

  /** RE-DERIVE a mapped table's quantile cuts from its CURRENT
    * content and re-cluster in one commit — the drift-repair path:
    * appends whose values fall outside the published cuts CLAMP to
    * the edge cells (answers stay exact, clustering degrades); once
    * enough drift accumulates, remap rewrites every row under cuts
    * derived from today's distribution and REPLACES the `zmap.<dim>`
    * properties. One full rewrite by construction (the codes are
    * data columns — every row's cell can move); earlier versions
    * keep reading under THEIR OWN carried mapping, so time travel
    * stays consistent, and [[Snapshots.vacuum]] reclaims the old
    * files once retention passes them. WHEN to remap is the caller's
    * judgment (e.g. when the edge cells' file share grows) — this
    * always rewrites when called. */
  def remapMapped(spark: SparkSession, dir: String, buckets: Int = 256,
                  blockSize: Long = 128L * 1024 * 1024,
                  numTasks: Int = 32): Long = {
    require(buckets >= 2 && buckets <= 65536 && 65536 % buckets == 0,
      s"buckets must divide the 16-bit grid (got $buckets)")
    Snapshots.resolveForWrite(spark, dir)
    val prev = Snapshots.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"$dir has no snapshots"))
    val pm = Snapshots.committedManifest(spark, dir, prev)
    val l = layoutAt(spark, dir, prev)
    require(l.dims.forall(_.startsWith(MapPrefix)),
      s"$dir is not a quantile-mapped z-table (dims ${l.dims})")
    val rawDims = l.dims.map(_.stripPrefix(MapPrefix))
    val raw = read(spark, dir) // current content, mapped columns dropped
    val maps = deriveCutsAll(raw, rawDims, buckets)
    val withCodes = rawDims.foldLeft(raw)((acc, d) =>
      acc.withColumn(MapPrefix + d,
        codeExpr(col(d), raw.schema(d).dataType, maps(d))))
    val st = Snapshots.stage(withLayout(withCodes, l), dir, BCol, Seq(ZCol),
      blockSize, numTasks, stat2Cols = pm.statCols, ndvCols = pm.ndvCols)
    val keptProps = pm.propLines.filterNot(p =>
      rawDims.exists(d => p.startsWith(s"prop:${mapPropKey(d)}=")))
    val schema = pm.schemaOpt.map(Snapshots.nullable(_).json)
      .getOrElse(st.schemaJson)
    val v = Snapshots.claimAbove(spark, dir, prev)
    Snapshots.commit(spark, dir, v, st.rels,
      Seq("format:2", s"schema:$schema") ++ Snapshots.carriedBatch(pm) ++
        keptProps ++
        rawDims.map { d =>
          val m = maps(d)
          s"prop:${mapPropKey(d)}=${m.kind}:${m.buckets}:${m.cuts.mkString(",")}"
        } ++
        pm.statColsLines ++ pm.ndvColsLines ++
        filezLines(st.rels, l.shift) ++
        st.statLines ++ st.stat2Lines ++ st.ndvLines ++ st.sizeLines)
    v
  }

  /** Manifest-pruned box scan on RAW mapped-dimension predicates,
    * `[lo, hi)` each — bounds typed per the stats encoding (micros
    * Longs for timestamps, Doubles for float/double, Longs for the
    * integer family; see [[Snapshots.prunedScanAtBy]]). Equals the
    * full-scan filter always; reads ~the intersecting curve cells
    * (the quantile mapping is monotone, so per-file raw min/max are
    * tight per cell). */
  def boxBy(spark: SparkSession, dir: String, v: Long,
            preds: Seq[(String, Any, Any)]): DataFrame =
    dropDerived(Snapshots.prunedScanAtBox(spark, dir, v, preds))

  private def dropDerived(df: DataFrame): DataFrame = {
    val d = df.drop(ZCol, BCol)
    d.drop(d.columns.filter(_.startsWith(MapPrefix)): _*)
  }

  /** The table surface (derived layout + mapped grid columns dropped). */
  def read(spark: SparkSession, dir: String): DataFrame =
    dropDerived(Snapshots.read(spark, dir))

  /** Time travel (derived layout + mapped grid columns dropped). */
  def readAt(spark: SparkSession, dir: String, v: Long): DataFrame =
    dropDerived(Snapshots.readAt(spark, dir, v))

  /** Manifest-pruned BOX scan: `[lo, hi)` per dimension, reading only
    * the files whose curve cell intersects the box (+ exact residual).
    * Equals the full-scan filter always, at ANY epoch mix (the
    * per-dimension min/max stats are epoch-independent). */
  def box(spark: SparkSession, dir: String, v: Long,
          preds: Seq[(String, Long, Long)]): DataFrame =
    dropDerived(Snapshots.prunedScanAtBox(spark, dir, v,
      preds.map { case (c, lo, hi) => (c, lo: Any, hi: Any) }))

  /** The box pruning DECISION (files to read) — for gates/benchmarks. */
  def boxFiles(spark: SparkSession, dir: String, v: Long,
               preds: Seq[(String, Long, Long)]): Seq[String] =
    Snapshots.prunedFilesBox(spark, dir, v,
      preds.map { case (c, lo, hi) => (c, lo: Any, hi: Any) })
}
