package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet star schema (TESTDATA.md).
  *
  * All reads go through [[Tables.load]] so every query gets the same
  * vectorized parquet scan; Catalyst prunes columns / pushes filters per
  * query. At 100 TB the same API holds — `dir` becomes an object-store
  * prefix and the scans keep partition pruning + predicate pushdown.
  *
  * Schema memo: `spark.read.parquet` without a schema reads a footer
  * in a Spark job of its own, on every load. Each load therefore lists
  * the table's files once and keys its inferred schema on the
  * qualified path plus the session's values of [[FooterConfs]]; the
  * entry holds the schema together with the listing's fingerprint
  * (every file's name, length and modification time). A later load
  * whose listing has the same fingerprint reads with that schema and
  * launches no job. A rewritten, added or removed file changes the
  * fingerprint, so that load infers the schema again and replaces the
  * entry: the memo never hands out a stale schema, and
  * [[schemaDrift]] still sees what is on disk. A missing path or a
  * directory without data files is never memoized; it goes to
  * `spark.read.parquet` as before and raises the same
  * `AnalysisException`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Session confs that change how a parquet footer converts to Spark
    * types. `nanosAsLong` is set by the events fallback below. */
  private val FooterConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type Fingerprint = Seq[(String, Long, Long)]

  /** (qualified path, footer conf values) → (fingerprint, schema): one
    * entry per table and conf setting, replaced when the files change */
  private val schemaMemo =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Fingerprint, StructType)]()

  /** `spark.read.parquet(path)` with the schema memoized by the path's
    * file listing (see the object doc). */
  private def readParquet(s: SparkSession, path: String): DataFrame =
    listing(s, path) match {
      case None => s.read.parquet(path)
      case Some((qualified, files)) =>
        val key = (qualified, FooterConfs.map(s.conf.getOption))
        Option(schemaMemo.get(key)) match {
          case Some((`files`, schema)) => s.read.schema(schema).parquet(path)
          case _ =>
            val df = s.read.parquet(path)
            schemaMemo.put(key, (files, df.schema))
            df
        }
    }

  /** The qualified path and the fingerprint of every file under it;
    * None when the path is missing or holds no data file (every file
    * sits under a `_` or `.` name, which the parquet reader skips). */
  private def listing(s: SparkSession, path: String): Option[(String, Fingerprint)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      def walk(f: FileStatus): Seq[FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(walk) else Seq(f)
      val top = fs.getFileStatus(p)
      val root = top.getPath.toString
      val files = walk(top).map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      val data = files.exists { case (name, _, _) =>
        !name.stripPrefix(root).split('/').exists(n => n.startsWith("_") || n.startsWith("."))
      }
      if (data) Some((root, files.sorted)) else None
    } catch {
      case _: java.io.IOException => None
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has drifted across generator versions: parquet
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    * as long via the legacy conf, then `div 1000` to micros) and plain
    * micro-precision TIMESTAMP (isAdjustedToUTC=false → Spark infers
    * TIMESTAMP_NTZ). Never assume the physical encoding: load, inspect
    * the landed dtype, and normalize to session-TZ TimestampType either
    * way so every downstream query and the DuckDB oracle see identical
    * micros (session TZ is UTC everywhere in this repo). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(loadEventsRaw(s, s"$d/events.parquet"))

  /** Raw events load with the TIMESTAMP(NANOS) legacy fallback — ONE
    * definition shared by the batch reader above and the streaming
    * schema probe ([[graft.streaming.EventsStreaming]]), so the two
    * paths cannot drift. The catch is narrowed to the illegal-NANOS
    * footer error (verified live: `PARQUET_TYPE_ILLEGAL`); any other
    * analysis failure (missing path, empty dir) propagates for the
    * caller to handle.
    *
    * SESSION-WIDE SIDE EFFECT, deliberate: the NANOS fallback sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the shared session
    * and leaves it set. Save/restore around the retry would be wrong —
    * the returned frame is lazy and the conf is consulted again when
    * the scan actually executes, so restoring it here would re-raise
    * the NANOS error at action time. Consequence: after a NANOS-encoded
    * events file is probed (including Verify's startup schemaDrift
    * sweep), any OTHER NANOS-annotated parquet read in the same session
    * also lands as int64 instead of erroring. Acceptable here because
    * `events` is the only NANOS-prone table in the contract and
    * [[normalizeEventsTs]] branches on the landed dtype either way. */
  private[graft] def loadEventsRaw(s: SparkSession, path: String): DataFrame =
    try readParquet(s, path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if String.valueOf(e.getMessage).contains("Illegal Parquet type") ||
            String.valueOf(e.getMessage).contains("PARQUET_TYPE_ILLEGAL") =>
        // TIMESTAMP(NANOS) footer: reread nanos as plain int64
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        readParquet(s, path)
    }

  /** Normalize a loaded events frame's `ts` to TimestampType regardless
    * of the physical encoding it arrived in. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        // epoch nanos as int64. Integer `div`, NOT `/`: epoch nanos
        // (~1.7e18) overflow double's 53-bit exact integer range, so fp
        // division is off by ±1 µs.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        // same wall-clock micros reinterpreted in the session TZ (UTC)
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as $other — expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Pinned logical schemas (post-normalization) for the driver's 10
    * parquet tables — the contract every query in the battery compiles
    * against. The round-11 incident: the generator silently switched
    * `events.ts` from INT64 TIMESTAMP(NANOS) to plain TIMESTAMP and 8
    * queries + 9 tests went red with an opaque analysis error. This pin
    * turns the next drift into one named diff.
    *
    * `events` is pinned AFTER [[normalizeEventsTs]] — the reader is
    * deliberately encoding-adaptive, so the contract is the logical
    * schema downstream queries see, not the file's physical one. */
  val expectedSchemas: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  /** Diff every table's loaded schema against [[expectedSchemas]];
    * returns one human-readable line per drifted table (empty = clean).
    * Footer-only reads — cheap enough to run at every Verify startup. */
  def schemaDrift(spark: SparkSession, dir: String): Seq[String] =
    names.flatMap { n =>
      val found =
        try {
          val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
          df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
        } catch {
          // String.valueOf: getMessage may be null (bare IOException)
          case e: Exception => Seq("<unreadable>" -> String.valueOf(e.getMessage).take(120))
        }
      val want = expectedSchemas(n)
      if (found == want) None
      else Some(
        s"$n: expected [${want.map { case (c, t) => s"$c $t" }.mkString(", ")}]" +
          s" found [${found.map { case (c, t) => s"$c $t" }.mkString(", ")}]")
    }

  /** Hard assertion form of [[schemaDrift]] for specs. */
  def assertSchemas(spark: SparkSession, dir: String): Unit = {
    val drift = schemaDrift(spark, dir)
    require(drift.isEmpty, "testdata schema drift detected —\n" + drift.mkString("\n"))
  }

  /** Decouple compute parallelism from input splits before CPU-heavy
    * per-row work (crypto hashing, shingle explosion, k-gram rolling
    * hashes). Parquet is splittable only at row-group boundaries, so a
    * compact file (one row group) feeds at most ONE task no matter how
    * many cores the cluster has — the test corpus's single-row-group
    * `documents.parquet` serialized the whole MinHash pipeline onto 1–2
    * of 32 cores. At 100 TB the same hazard appears as a few giant
    * row groups or heavily-compacted inputs: hash cost is O(bytes ×
    * hashes), orders of magnitude above the one narrow exchange of raw
    * text this adds, so the round-robin fan-out is the right trade at
    * every scale. Not applied to scan→filter→agg queries, where the
    * shuffle would cost more than it buys. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
}
