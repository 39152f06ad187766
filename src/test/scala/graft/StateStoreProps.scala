package graft

import graft.state.StateStore
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Durability state machine for the generation store: for ANY sequence
  * of saves, each interrupted at ANY point of the swap protocol, a
  * subsequent load returns exactly the last COMMITTED generation —
  * where "committed" means the parquet write finished (`_SUCCESS`), the
  * recover() roll-forward rule. Never an empty ledger, never a torn
  * one, and the directory is swept clean afterwards. The same holds for
  * the append-only log built from those generations: every committed
  * row, exactly once, whatever step was cut where.
  */
object StateStoreProps extends Properties("state-store-durability") {

  private lazy val spark = SparkSpecBase.session

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false)))

  /** Crash points of save()'s protocol, in step order. */
  sealed trait CrashPoint
  case object BeforeWrite extends CrashPoint // tmp never completes
  case object AfterWrite extends CrashPoint // tmp committed, no renames
  case object AfterStageOut extends CrashPoint // dest renamed aside, commit rename missed
  case object BeforeOldDelete extends CrashPoint // committed, stale .old-* remains
  case object Clean extends CrashPoint // the full, uninterrupted save

  private val opGen: Gen[CrashPoint] = Gen.oneOf(
    BeforeWrite, AfterWrite, AfterStageOut, BeforeOldDelete, Clean)

  private def write(ids: Seq[Long], dir: String): Unit = {
    import spark.implicits._
    ids.toDF("id").repartition(2).write.parquet(dir)
  }

  /** Re-enact save(generation k) interrupted at `crash`, mimicking the
    * exact rename protocol; returns the ids a reader SHOULD now see. */
  private def enact(path: String, gen: Int, crash: CrashPoint,
      committed: Option[Seq[Long]]): Option[Seq[Long]] = {
    val ids = (0L until 3L).map(_ + gen * 10L)
    val f = new java.io.File(path)
    crash match {
      case BeforeWrite =>
        // torn write: a tmp dir with junk and NO _SUCCESS
        val half = new java.io.File(s"$path.tmp-g$gen")
        assert(half.mkdir())
        java.nio.file.Files.write(half.toPath.resolve("part-00000.parquet"),
          Array[Byte](9, 9, 9))
        committed // nothing committed
      case AfterWrite =>
        write(ids, s"$path.tmp-g$gen")
        Some(ids) // _SUCCESS present: recover rolls FORWARD
      case AfterStageOut =>
        write(ids, s"$path.tmp-g$gen")
        if (f.exists()) assert(f.renameTo(new java.io.File(s"$path.old-g$gen")))
        Some(ids)
      case BeforeOldDelete =>
        write(ids, s"$path.tmp-g$gen")
        if (f.exists()) assert(f.renameTo(new java.io.File(s"$path.old-g$gen")))
        assert(new java.io.File(s"$path.tmp-g$gen").renameTo(f))
        Some(ids)
      case Clean =>
        import spark.implicits._
        StateStore.save(ids.toDF("id"), path, bucketCols = Seq("id"))
        Some(ids)
    }
  }

  property("load always returns the last committed generation and sweeps strays") =
    forAll(Gen.nonEmptyListOf(opGen).map(_.take(4))) { ops =>
      val dir = java.nio.file.Files.createTempDirectory("graft-ssp").toString
      val path = s"$dir/ledger"
      try {
        var committed: Option[Seq[Long]] = None
        ops.zipWithIndex.forall { case (crash, gen) =>
          committed = enact(path, gen, crash, committed)
          val got = StateStore.load(spark, path, schema)
            .collect().map(_.getLong(0)).sorted.toSeq
          val want = committed.map(_.sorted).getOrElse(Seq.empty)
          // after load, recovery has settled dest and swept every stray
          val strays = new java.io.File(dir).listFiles()
            .map(_.getName).filterNot(_ == "ledger")
          got == want && strays.isEmpty
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

  // ---- the log: appends, same-id replays, compactions, refreshes ----

  private val logSchema = StructType(Seq(StructField("v", LongType, nullable = false)))

  sealed trait LogOp
  case object Append extends LogOp // a fresh append at newest + 1
  case object Replay extends LogOp // the newest append again, same id and rows
  case object Compact extends LogOp
  case object CompactUnswept extends LogOp // cut after the new base commits, before the sweep
  case object Refresh extends LogOp // a full rebuild (DedupIndex.build)

  private val swapCuts = Seq(BeforeWrite, AfterWrite, AfterStageOut, BeforeOldDelete, Clean)
  private val logOpGen: Gen[(LogOp, CrashPoint)] = Gen.frequency(
    3 -> Gen.oneOf(swapCuts).map(c => (Append: LogOp, c)),
    1 -> Gen.oneOf(swapCuts).map(c => (Replay: LogOp, c)),
    1 -> Gen.oneOf(swapCuts).map(c => (Compact: LogOp, c)),
    1 -> Gen.const((CompactUnswept: LogOp, Clean: CrashPoint)),
    1 -> Gen.oneOf(swapCuts).map(c => (Refresh: LogOp, c)))

  /** The rows append id `id` folds in — none for every third id, the
    * zero-survivor batch a stream fold appends as an empty delta. */
  private def appendRows(id: Long): Seq[Long] = (0L until id % 3).map(id * 100 + _)

  /** Re-enact a generation swap of `dest` whose new generation
    * `write(dir)` fills, cut at `crash`; true when that generation
    * committed (its `_SUCCESS` marker was written). */
  private def cutSwap(dest: String, gen: Int, crash: CrashPoint,
      write: String => Unit): Boolean = {
    val f = new java.io.File(dest)
    val tmp = s"$dest.tmp-g$gen"
    def stageOut(): Unit =
      if (f.exists()) assert(f.renameTo(new java.io.File(s"$dest.old-g$gen")))
    crash match {
      case BeforeWrite =>
        val half = new java.io.File(tmp)
        assert(half.mkdirs())
        java.nio.file.Files.write(half.toPath.resolve("part-00000.parquet"),
          Array[Byte](9, 9, 9))
        false
      case AfterWrite => write(tmp); true
      case AfterStageOut => write(tmp); stageOut(); true
      case BeforeOldDelete =>
        write(tmp); stageOut(); assert(new java.io.File(tmp).renameTo(f)); true
      case other => sys.error(s"$other is not a swap cut")
    }
  }

  private def stamped(rows: Seq[Long], stamp: Long) = {
    import spark.implicits._
    rows.toDF("v").withColumn(StateStore.Stamp, org.apache.spark.sql.functions.lit(stamp))
  }

  property("a log load returns every committed row exactly once and sweeps strays, " +
      "for appends, replays, compactions and refreshes cut at any point") =
    forAll(Gen.nonEmptyListOf(logOpGen).map(_.take(6))) { ops =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-ssp-log").toString
      val path = s"$dir/log"
      def deltaPath(id: Long) = f"$path/delta-$id%012d"
      try {
        var log = StateStore.loadLog(spark, path, logSchema)
        var committed = Seq.empty[Long]
        ops.zipWithIndex.forall { case ((op, crash), gen) =>
          op match {
            case Append | Replay =>
              val fresh = op == Append || log.newest < 0
              val id = if (fresh) log.newest + 1 else log.newest
              val ok = crash match {
                case Clean =>
                  StateStore.append(log, appendRows(id).toDF("v"), id); true
                case _ => cutSwap(deltaPath(id), gen, crash,
                  d => stamped(appendRows(id), id).repartition(2).write.parquet(d))
              }
              // a replay re-folds rows the log already holds (or, at an
              // id base already covers, is ignored): nothing changes
              if (ok && fresh) committed ++= appendRows(id)
            case Compact | CompactUnswept =>
              val all = log.rows.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
              (op, crash) match {
                case (CompactUnswept, _) =>
                  StateStore.save(all.toDF("v", StateStore.Stamp), s"$path/base")
                case (_, Clean) => StateStore.compact(spark, path, logSchema)
                case _ => cutSwap(s"$path/base", gen, crash,
                  d => all.toDF("v", StateStore.Stamp).write.parquet(d))
              }
            case Refresh =>
              val rows = (0L until gen % 3).map(1000000L + gen * 10 + _)
              val ok = crash match {
                case Clean => StateStore.refresh(rows.toDF("v"), path); true
                case _ => cutSwap(path, gen, crash, { d =>
                  stamped(rows, 0L).write.parquet(s"$d/base")
                  assert(new java.io.File(d, "_SUCCESS").createNewFile())
                })
              }
              if (ok) committed = rows
          }
          log = StateStore.loadLog(spark, path, logSchema)
          val got = log.rows.collect().map(_.getLong(0)).sorted.toSeq
          // after a load, no generation of any swap is left over, and
          // no delta that base already covers
          def names(f: java.io.File): Seq[String] =
            Option(f.listFiles()).toSeq.flatten.flatMap(c => c.getName +: names(c))
          val strays = names(new java.io.File(dir)).filter(n =>
            n.contains(".tmp-") || n.contains(".old-") || n.contains(".mig-flat"))
          val base = new java.io.File(s"$path/base")
          val baseNewest =
            if (!base.exists()) -1L
            else spark.read.schema(s"v LONG, ${StateStore.Stamp} LONG").parquet(base.toString).agg(
              org.apache.spark.sql.functions.max(StateStore.Stamp)).head() match {
              case r if r.isNullAt(0) => -1L
              case r => r.getLong(0)
            }
          val staleDeltas = Option(new java.io.File(path).listFiles()).toSeq.flatten
            .map(_.getName).collect { case n if n.matches("delta-\\d{12}") => n.drop(6).toLong }
            .filter(_ <= baseNewest)
          got == committed.sorted && strays.isEmpty && staleDeltas.isEmpty
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

  property("a compaction cut at every step of its base swap, saving the unpinned log " +
      "over the base it scans, loads every committed row exactly once") =
    org.scalacheck.Prop.secure(swapCuts.zipWithIndex.forall { case (crash, gen) =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-ssp-compact").toString
      val path = s"$dir/log"
      try {
        // a base of ids 0..2 plus deltas 1..5, every third one empty
        StateStore.refresh(appendRows(2).toDF("v"), path)
        (1L to 5L).foreach(id =>
          StateStore.append(StateStore.loadLog(spark, path, logSchema), appendRows(id).toDF("v"), id))
        val committed = appendRows(2) ++ (1L to 5L).flatMap(appendRows)
        crash match {
          case Clean => StateStore.compact(spark, path, logSchema)
          case _ => cutSwap(s"$path/base", gen, crash,
            d => StateStore.loadLog(spark, path, logSchema).rows.write.parquet(d))
        }
        val log = StateStore.loadLog(spark, path, logSchema)
        val names = new java.io.File(path).listFiles().map(_.getName).toSeq
        // a committed base covers every delta: the load swept them all
        log.rows.collect().map(_.getLong(0)).sorted.toSeq == committed.sorted && log.newest == 5L &&
          names.exists(_.startsWith("delta-")) == (crash == BeforeWrite) &&
          !names.exists(n => n.contains(".tmp-") || n.contains(".old-"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    })

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)
}
