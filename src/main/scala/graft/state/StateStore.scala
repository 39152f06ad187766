package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

/** MERGE-style keyed state — the Spark-native replacement for the
  * reference's dom-storage/json-storage KV ledger (etl.js:14-19).
  *
  * Key families the reference stores (etl.js:9,10,33-39,183-190,224-232)
  * map to rows `(entity_kind, entity_id, payload, migration, field_cache)`:
  * `card:<id>`, `checkItem:<id>`, `meta:card:<id>`, ... become
  * (kind, id) pairs instead of string-concatenated keys, so the schema —
  * not call-site discipline — guarantees shape (the reference writes the
  * wrong value type at etl.js:117,127,140; a typed table cannot).
  *
  * All operations are pure DataFrame → DataFrame: change-set extraction
  * is a left join + value inequality filter (the reference's per-field
  * change detection, etl.js:113-146), application is anti-join + union.
  * At scale both shuffle once on the key; persist the state table
  * bucketed by the key to make the MERGE co-partitioned.
  */
object StateStore {

  /** Migration levels (etl.js:3-4): checkpoint phases of an entity. */
  val MCreated = 0
  val MLists = 1

  /** Rows of `desired` that are new or differ from `written` on any of
    * `valueCols` — the minimal sink write set (J9). Output columns:
    * key cols, valueCols (desired values), `change_type`.
    *
    * Comparison is null-safe (`NOT (a <=> b)`): a value transitioning
    * to or from NULL is a real update, where plain `=!=` would evaluate
    * to NULL and silently drop the row. Row existence in `written` is
    * detected with an explicit marker column, not null-ness of a value
    * column — a stored row whose first value is legitimately NULL must
    * classify as `update`, never `insert`. */
  def changeSet(
      desired: DataFrame,
      written: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val w = valueCols.foldLeft(written)((df, c) => df.withColumnRenamed(c, s"__w_$c"))
      .select((keyCols ++ valueCols.map(c => s"__w_$c")).map(col): _*)
      .withColumn("__w_exists", lit(true))
    val joined = desired.join(w, keyCols, "left")
    val anyMissing = col("__w_exists").isNull
    val anyDiff = valueCols
      .map(c => !(col(c) <=> col(s"__w_$c")))
      .reduce(_ || _)
    joined
      .filter(anyMissing || anyDiff)
      .withColumn("change_type", when(anyMissing, "insert").otherwise("update"))
      .select((keyCols ++ valueCols :+ "change_type").map(col): _*)
  }

  /** Apply a change set: changed/new rows replace, untouched rows kept. */
  def merge(state: DataFrame, changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    val incoming = changes.select(state.columns.toIndexedSeq.map(col): _*)
    state.join(incoming, keyCols, "left_anti").unionByName(incoming)
  }

  // ---------------------------------------------------------------
  // durable round-trip — the reference's db.json persists between
  // runs (etl.js:14-19); these give the batch ledgers the same
  // restart semantics: run → save, load → re-run sends nothing.
  // ---------------------------------------------------------------

  /** Persist a ledger as parquet, atomically: the frame fully
    * materializes into a sibling temp dir FIRST, then a rename swaps
    * it in (with the superseded generation renamed aside and deleted
    * last). The atomicity comes from the directory-level renames, NOT
    * from a single file — so the write itself stays parallel: the
    * ledger is entity-count-sized (one row per migrated entity,
    * forever), and at scale a single-task write would serialize it.
    * Pass `bucketCols` (the ledger key) to hash-partition the WRITE by
    * key — each key's rows land in one file, which bounds the files a
    * keyed reader must touch. (Plain parquet carries no bucketing
    * metadata, so a reload still reports unknown partitioning to
    * Spark; full join co-partitioning would need `bucketBy` +
    * `saveAsTable`. What this buys is write parallelism and a stable
    * key→file layout, not a shuffle-free reload join.) AQE sizes the
    * bucket count to the data (a small ledger collapses to one file, a
    * 100×-scale one fans out).
    *
    * Because the temp write completes before `path` is touched, saving
    * a frame that was itself LOADED from `path` is safe
    * (self-overwrite). A crash mid-swap leaves only `.tmp-*`/`.old-*`
    * generations; [[load]] (and the next [[save]]) runs [[recover]],
    * which rolls the newest committed generation back in — readers see
    * the old ledger or the new one, never a half-written directory and
    * never a silently-empty one. */
  def save(ledger: DataFrame, path: String, bucketCols: Seq[String] = Nil): Unit =
    swapIn(ledger.sparkSession, path) { (_, tmp) =>
      bucketed(ledger, bucketCols).write.mode("overwrite").parquet(tmp.toString)
    }

  /** Load a ledger saved by [[save]]; an absent path is an empty
    * ledger (first run — the reference's missing db.json). Runs
    * [[recover]] first, so a crash between [[save]]'s stage-out and
    * commit renames does NOT read as a first run (which would re-send
    * every external mutation). */
  def load(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val dest = new Path(path)
    val fs = fsOf(spark, dest)
    // a recovery rename replaces dest's files under a path this session
    // may have scanned before — drop the cached listing or the next
    // plan reads deleted part files (FileNotFoundException)
    if (recover(fs, dest)) spark.catalog.refreshByPath(path)
    // an empty LocalRelation, which Catalyst folds out of a join or a
    // union at plan time; an empty RDD would still launch a job
    if (fs.exists(dest)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  // ---------------------------------------------------------------
  // append-only ledgers ("logs"): a directory of `base/` plus one
  // `delta-<12-digit id>/` per append, each its own [[save]]
  // generation, so an append writes O(delta) bytes, unshuffled (only
  // base is bucketed, at compaction). Loads read base plus only the
  // deltas whose id EXCEEDS base's newest stamp, which base's parquet
  // footers record, as ONE scan whose plan keeps its shape however
  // many deltas are live; a compaction cut between its base commit and
  // its sweep leaves stale deltas that every load ignores (and deletes).
  // ---------------------------------------------------------------

  /** The stamp column of a log row: the id of the append that folded
    * it in. A schema without it gets it appended on load. */
  val Stamp = "added_batch"

  /** Deltas a log accumulates before an append folds them into base
    * (the only O(ledger) write, amortized over this many appends). */
  val CompactEvery = 8

  /** A loaded log: its live rows (base ∪ the live deltas, stamped) and
    * the newest fold id, -1 for an empty log. */
  final case class Log(path: String, rows: DataFrame, newest: Long)

  private def basePath(p: String) = s"$p/base"
  private def deltaPath(p: String, id: Long) = f"$p/delta-$id%012d"
  private val DeltaName = """^delta-(\d{12})$""".r
  /** A `.tmp-*`/`.old-*` generation an interrupted delta swap left. */
  private val DeltaStray = """^delta-(\d{12})\.(tmp|old)-.*$""".r

  private def deltaIds(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case DeltaName(id) => id.toLong
    }.sorted

  /** Bring a log to a readable state: [[recover]] an interrupted
    * [[refresh]] (a swap of the whole directory); move a flat ledger
    * (parquet files directly at `path`, the layout before logs) into
    * `base/` — else it would read as EMPTY and the append guard would
    * never fire — through a `.mig-flat` staging dir a crash leaves for
    * the next call to roll forward; and recover each delta's own
    * interrupted swap, so no committed append is left in a
    * `.tmp-*`/`.old-*` generation. */
  private def settle(spark: SparkSession, path: String): Unit = {
    val dir = new Path(path)
    val fs = fsOf(spark, dir)
    var moved = recover(fs, dir)
    val staging = new Path(path + ".mig-flat")
    val entries =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath.getName) else Seq.empty
    // part files, not `_SUCCESS`: a refreshed log keeps its commit
    // marker at the root while its base may be mid-swap
    val flat = !entries.exists(n => n == "base" || DeltaName.matches(n)) &&
      entries.exists(_.startsWith("part-"))
    if (flat) require(fs.rename(dir, staging), s"cannot stage flat layout at $path")
    if (flat || fs.exists(staging)) {
      if (!fs.exists(dir)) require(fs.mkdirs(dir), s"cannot recreate $dir")
      require(fs.rename(staging, new Path(basePath(path))),
        s"cannot finish flat-layout migration at $path")
      moved = true
    }
    entries.collect { case DeltaStray(id, _) => id.toLong }.distinct.foreach { id =>
      moved |= recover(fs, new Path(deltaPath(path, id)))
    }
    if (moved) spark.catalog.refreshByPath(path)
  }

  /** Load a log written by [[append]], [[compact]] or [[refresh]] (or
    * a flat ledger [[save]]d at `path`, which moves into `base/`); an
    * absent path is an empty log. Base's newest stamp comes from its
    * parquet footers ([[footerNewest]], no Spark job); the deltas' ids
    * come from their names, since delta rows carry `Stamp == their
    * directory id` by construction. Deltas at or below base's newest
    * stamp are already in base: they are ignored and deleted. Base and
    * the live deltas are read as one scan, so the plan, and the code
    * whole-stage codegen generates for it, is the same whether 0 or 7
    * deltas are live. */
  def loadLog(spark: SparkSession, path: String, schema: StructType): Log = {
    settle(spark, path)
    val full = if (schema.fieldNames.contains(Stamp)) schema else schema.add(Stamp, LongType)
    val dir = new Path(path)
    val fs = fsOf(spark, dir)
    val base = new Path(basePath(path))
    if (recover(fs, base)) spark.catalog.refreshByPath(base.toString)
    val hasBase = fs.exists(base)
    val baseNewest = if (hasBase) footerNewest(spark, fs, base) else -1L
    val (stale, live) = deltaIds(fs, dir).partition(_ <= baseNewest)
    stale.foreach(id => fs.delete(new Path(deltaPath(path, id)), true))
    val paths = (if (hasBase) Seq(base.toString) else Nil) ++ live.map(deltaPath(path, _))
    val rows = if (paths.isEmpty) load(spark, base.toString, full)
      else spark.read.schema(full).parquet(paths: _*)
    Log(path, rows, math.max(baseNewest, live.lastOption.getOrElse(-1L)))
  }

  /** The largest [[Stamp]] in the min/max statistics of `base`'s
    * parquet footers, -1 when no row group holds a stamp (a file with
    * no row groups, a flat ledger saved without the column). Spark's
    * parquet writer records them for every INT64 column chunk; a chunk
    * written without them falls back to one aggregation job. */
  private def footerNewest(spark: SparkSession, fs: FileSystem, base: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = fs.listStatus(base).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == Stamp).map(_.getStatistics))
        finally reader.close()
      }
    if (stats.exists(_.isEmpty))
      spark.read.schema(s"$Stamp BIGINT").parquet(base.toString).agg(max(Stamp)).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
    else stats.filter(_.hasNonNullValue).map(_.genericGetMax match {
      case n: java.lang.Number => n.longValue
    }).foldLeft(-1L)(math.max)
  }

  /** Fold `delta`, stamped `id`, into `log` as its own `delta-<id>`
    * generation, written as `delta` is partitioned (a batch-sized
    * write gains nothing from a shuffle); every [[CompactEvery]] deltas
    * the log is [[compact]]ed, which buckets base by `bucketCols`.
    * A stream fold appends under its batch id: an id EQUAL to the
    * newest fold is a replay and overwrites its own delta with the same
    * rows, an id BELOW it (a stream restarted with a fresh checkpoint
    * against an accumulated log, which would re-read it as empty) fails
    * loud. A fold that is idempotent by a key anti-join appends under
    * `log.newest + 1`, so it never overwrites an earlier delta. */
  def append(log: Log, delta: DataFrame, id: Long, bucketCols: Seq[String] = Nil): Unit = {
    require(id >= log.newest,
      s"ledger at ${log.path} was folded up to ${log.newest} " +
        s"but this append is at $id — restarted with a fresh checkpoint? " +
        "Reuse the original checkpoint or rebuild the ledger.")
    val spark = delta.sparkSession
    save(delta.withColumn(Stamp, lit(id)), deltaPath(log.path, id))
    if (deltaIds(fsOf(spark, new Path(log.path)), new Path(log.path)).size >= CompactEvery)
      compact(spark, log.path, log.rows.schema, bucketCols)
  }

  /** Fold a log's deltas into base (the amortized O(ledger) write,
    * bucketed by `bucketCols`), then sweep the absorbed deltas. The
    * sweep set is the delta ids snapshotted before the fold, not a
    * stamp comparison, which would never sweep an EMPTY delta (an
    * append with no rows) and let trailing empties trip a compaction on
    * every append. The loaded log is saved unpinned: [[save]] writes
    * the whole new base into its `.tmp-*` generation before it touches
    * the base the scan reads. Safe at any moment: a crash after the
    * base commit leaves deltas whose rows base already holds, which
    * loads ignore by stamp. */
  def compact(spark: SparkSession, path: String, schema: StructType,
      bucketCols: Seq[String] = Nil): Unit = {
    val dir = new Path(path)
    val fs = fsOf(spark, dir)
    val ids = deltaIds(fs, dir) // snapshot BEFORE the fold
    if (ids.isEmpty) return
    save(loadLog(spark, path, schema).rows, basePath(path), bucketCols)
    ids.foreach(id => fs.delete(new Path(deltaPath(path, id)), true))
  }

  /** Replace a whole log with `rows`, stamped 0, as its only base — a
    * full rebuild that supersedes every earlier delta. The new
    * directory (base plus a `_SUCCESS` commit marker) is swapped in
    * like a [[save]] generation, so a crash at any point leaves the
    * old log or the new one and no earlier delta can come back. */
  def refresh(rows: DataFrame, path: String, bucketCols: Seq[String] = Nil): Unit = {
    val spark = rows.sparkSession
    settle(spark, path)
    swapIn(spark, path) { (fs, tmp) =>
      bucketed(rows.withColumn(Stamp, lit(0L)), bucketCols)
        .write.parquet(basePath(tmp.toString))
      fs.create(new Path(tmp, "_SUCCESS")).close()
    }
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketed(df: DataFrame, bucketCols: Seq[String]): DataFrame =
    if (bucketCols.nonEmpty) df.repartition(bucketCols.map(col): _*) else df

  /** The generation swap behind [[save]] and [[refresh]]: recover any
    * interrupted swap, `write` the new generation into a fresh `.tmp-*`
    * sibling (it must leave a `_SUCCESS` marker there — the commit
    * point), stage the live generation out to `.old-*`, rename the new
    * one in, delete the old one. */
  private def swapIn(spark: SparkSession, path: String)(
      write: (FileSystem, Path) => Unit): Unit = {
    val dest = new Path(path)
    val fs = fsOf(spark, dest)
    if (recover(fs, dest)) spark.catalog.refreshByPath(path)
    val stamp = nextStamp()
    val tmp = new Path(path + s".tmp-$stamp")
    val old = new Path(path + s".old-$stamp")
    write(fs, tmp)
    val hadPrev = fs.exists(dest)
    if (hadPrev) require(fs.rename(dest, old), s"could not stage out $dest")
    require(fs.rename(tmp, dest), s"could not commit $tmp -> $dest")
    if (hadPrev) fs.delete(old, true)
    // frames loaded from `path` BEFORE this swap hold the old file
    // list — drop the cached metadata; callers re-load after a swap
    spark.catalog.refreshByPath(path)
  }

  /** Generation stamps must ORDER, not just differ: recover picks the
    * newest committed generation, and filesystem mtime has 1 s
    * granularity on some filesystems — rapid crash-retry cycles tie
    * and `maxBy(mtime)` then resolves arbitrarily. The stamp is
    * zero-padded wall-clock millis (comparable ACROSS JVM restarts,
    * unlike nanoTime whose origin is per-JVM) plus a per-JVM counter
    * (strict order WITHIN a JVM); lexicographic compare == temporal. */
  private val stampSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextStamp(): String =
    f"${System.currentTimeMillis()}%013d-${stampSeq.incrementAndGet()}%06d"
  private def stampOf(p: Path, marker: String): String = {
    val n = p.getName
    n.substring(n.indexOf(marker) + marker.length)
  }
  /** Pre-millis-stamp generations carry random 8-hex-char stamps; a
    * hex LETTER sorts above every digit, so during an upgrade window a
    * stranded legacy generation would lexicographically outrank every
    * new wall-clock stamp and recovery would prefer stale state. Rank:
    * wall-clock-format stamps order among themselves lexicographically
    * (== temporally) and ALWAYS beat legacy stamps; legacy stamps fall
    * back to mtime order among themselves (the best signal they have). */
  private val WallClockStamp = """\d{13}-\d{6}""".r
  private def stampKey(fs: FileSystem, p: Path, marker: String): (Int, String) =
    stampOf(p, marker) match {
      case s @ WallClockStamp() => (1, s)
      case _ => (0, f"${fs.getFileStatus(p).getModificationTime}%020d")
    }

  /** Roll an interrupted [[save]] forward (or back) and sweep strays.
    *
    * If sibling generations exist, a save crashed mid-swap. The commit
    * point is the `_SUCCESS` marker: a `.tmp-*` carrying one holds a
    * fully-written NEW generation whose recorded mutations were
    * already sent, so it rolls FORWARD over whatever `dest` holds
    * (re-reading the superseded generation would re-send them). With
    * no committed tmp, an absent `dest` is restored from the newest
    * `.old-*` (the staged-out previous generation) — never silently
    * read as an empty first run. Everything else — incomplete tmp
    * writes, superseded old generations — is deleted once `dest` is
    * settled.
    *
    * Returns true when anything under `dest`'s parent changed — the
    * caller must then invalidate Spark's cached file listing for the
    * path (a rename swaps part files a live session may have scanned). */
  private def recover(fs: FileSystem, dest: Path): Boolean = {
    val parent = dest.getParent
    if (parent == null || !fs.exists(parent)) return false
    val name = dest.getName
    def generations(): (Array[Path], Array[Path]) = {
      val sibs = fs.listStatus(parent).map(_.getPath)
      (sibs.filter(_.getName.startsWith(name + ".tmp-")),
        sibs.filter(_.getName.startsWith(name + ".old-")))
    }
    val (tmps, olds) = generations()
    if (tmps.isEmpty && olds.isEmpty) return false
    def newest(ps: Array[Path], marker: String): Option[Path] =
      if (ps.isEmpty) None
      else Some(ps.maxBy(p => stampKey(fs, p, marker)))
    newest(tmps.filter(p => fs.exists(new Path(p, "_SUCCESS"))), ".tmp-") match {
      case Some(committed) =>
        if (fs.exists(dest))
          require(fs.delete(dest, true), s"could not clear superseded $dest")
        require(fs.rename(committed, dest), s"could not recover $committed -> $dest")
      case None if !fs.exists(dest) =>
        newest(olds, ".old-").foreach { g =>
          require(fs.rename(g, dest), s"could not recover $g -> $dest")
        }
      case None => // dest is the live generation; only strays remain
    }
    val (strayTmps, strayOlds) = generations()
    (strayTmps ++ strayOlds).foreach(p => fs.delete(p, true))
    true
  }
}
