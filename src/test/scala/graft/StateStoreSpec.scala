package graft

import graft.operators.DedupIndex
import graft.state.StateStore
import graft.streaming.{DedupStream, MediaDedupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** MERGE semantics + upsert idempotence (SURVEY.md §5.3). */
class StateStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def desired = Seq(
    ("card", "c1", "title-a", 10.0),
    ("card", "c2", "title-b", 20.0),
    ("card", "c3", "title-c", 30.0)).toDF("kind", "id", "title", "price")

  private def written = Seq(
    ("card", "c1", "title-a", 10.0),   // unchanged
    ("card", "c2", "title-OLD", 20.0)) // differs
    .toDF("kind", "id", "title", "price")

  test("changeSet = inserts + updates, unchanged rows excluded") {
    val cs = StateStore.changeSet(desired, written,
      keyCols = Seq("kind", "id"), valueCols = Seq("title", "price"))
      .orderBy("id").collect()
    assert(cs.map(r => (r.getAs[String]("id"), r.getAs[String]("change_type"))).toSeq
      == Seq(("c2", "update"), ("c3", "insert")))
  }

  test("changeSet is null-safe: to-NULL and from-NULL transitions are updates, " +
      "a stored NULL first value is not an insert") {
    val d = Seq(
      ("card", "c1", Option.empty[String], Option(10.0)), // title -> NULL : update
      ("card", "c2", Option("t2"), Option(20.0)),         // title from NULL : update
      ("card", "c3", Option.empty[String], Option(30.0))) // stored title NULL, equal: no-op
      .toDF("kind", "id", "title", "price")
    val w = Seq(
      ("card", "c1", Option("t1"), Option(10.0)),
      ("card", "c2", Option.empty[String], Option(20.0)),
      ("card", "c3", Option.empty[String], Option(30.0)))
      .toDF("kind", "id", "title", "price")
    val cs = StateStore.changeSet(d, w, Seq("kind", "id"), Seq("title", "price"))
      .orderBy("id").collect()
    assert(cs.map(r => (r.getAs[String]("id"), r.getAs[String]("change_type"))).toSeq
      == Seq(("c1", "update"), ("c2", "update")))
  }

  test("merge applies the change set; second apply is a no-op (idempotent)") {
    val cs = StateStore.changeSet(desired, written, Seq("kind", "id"), Seq("title", "price"))
      .drop("change_type")
      .withColumn("migration", org.apache.spark.sql.functions.lit(0))
    val state0 = written.withColumn("migration", org.apache.spark.sql.functions.lit(0))
    val once = StateStore.merge(state0, cs, Seq("kind", "id"))
    val twice = StateStore.merge(once, cs, Seq("kind", "id"))
    assert(once.count() == 3)
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
    assert(once.filter($"id" === "c2").select("title").head().getString(0) == "title-b")
  }

  // ---------------------------------------------------------------
  // durable persistence: parallel write + crash-window recovery
  // ---------------------------------------------------------------

  private def withLedgerDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ss").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def bigLedger = spark.range(0, 200)
    .selectExpr("'card' AS kind", "concat('c', id) AS id",
      "concat('t', id) AS title", "cast(id as double) AS price")

  private def partFiles(path: String): Seq[java.io.File] = {
    val d = new java.io.File(path)
    if (!d.exists()) Nil
    else d.listFiles().toSeq.filter(_.getName.startsWith("part-"))
  }

  private def idsAt(path: String): Seq[String] = {
    val schema = bigLedger.schema
    StateStore.load(spark, path, schema)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
  }

  test("save is a parallel multi-file write when bucketed by key " +
      "(the dir-level rename swap supplies atomicity, not a single file)") {
    // AQE would coalesce a 200-row ledger into one bucket; without it
    // the key repartition writes one file per shuffle partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try withLedgerDir { dir =>
      val path = s"$dir/ledger"
      StateStore.save(bigLedger, path, bucketCols = Seq("kind", "id"))
      assert(partFiles(path).size > 1,
        s"expected a multi-file ledger, got ${partFiles(path).map(_.getName)}")
      assert(idsAt(path) == bigLedger.select("id")
        .collect().map(_.getString(0)).sorted.toSeq)
    } finally spark.conf.set(coalesce, was)
  }

  test("load recovers a crash between stage-out and commit: committed " +
      ".tmp-* rolls forward, .old-* and strays are swept") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      StateStore.save(bigLedger.limit(10), path, bucketCols = Seq("kind", "id"))
      // simulate save(v2) crashing after the tmp write + stage-out
      // renames but before the commit rename: dest is ABSENT, the v2
      // generation sits complete (with _SUCCESS) in .tmp-*, v1 in .old-*
      val v2 = bigLedger.filter($"id".isin("c100", "c101", "c102"))
      v2.write.parquet(s"$path.tmp-crash1")
      assert(new java.io.File(s"$path.tmp-crash1/_SUCCESS").exists())
      assert(new java.io.File(path).renameTo(new java.io.File(s"$path.old-crash1")))
      assert(!new java.io.File(path).exists())

      assert(idsAt(path) == Seq("c100", "c101", "c102")) // v2, NOT empty, NOT v1
      assert(new java.io.File(path).exists())
      assert(!new java.io.File(s"$path.tmp-crash1").exists())
      assert(!new java.io.File(s"$path.old-crash1").exists())
    }
  }

  test("load recovers a crash after stage-out with NO committed tmp: " +
      ".old-* rolls back instead of reading an empty first run") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      StateStore.save(bigLedger.limit(10), path, bucketCols = Seq("kind", "id"))
      val expected = idsAt(path)
      // dest staged out; the replacement tmp never finished (no _SUCCESS)
      assert(new java.io.File(path).renameTo(new java.io.File(s"$path.old-crash2")))
      val half = new java.io.File(s"$path.tmp-crash2")
      assert(half.mkdir())
      java.nio.file.Files.write(half.toPath.resolve("part-00000.parquet"),
        Array[Byte](1, 2, 3)) // torn write, never committed
      assert(idsAt(path) == expected)
      assert(!new java.io.File(s"$path.old-crash2").exists())
      assert(!new java.io.File(s"$path.tmp-crash2").exists())
    }
  }

  test("a committed tmp rolls forward even over an intact dest " +
      "(crash between tmp write and stage-out)") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      StateStore.save(bigLedger.limit(10), path, bucketCols = Seq("kind", "id"))
      val v2 = bigLedger.filter($"id".isin("c42"))
      v2.write.parquet(s"$path.tmp-crash3")
      assert(idsAt(path) == Seq("c42"))
      assert(!new java.io.File(s"$path.tmp-crash3").exists())
    }
  }

  test("mixed stamp formats: a stranded legacy hex-stamped generation " +
      "never outranks a wall-clock-stamped one (hex letters sort above digits)") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      // stale pre-upgrade generation, committed, with a random-hex stamp
      // whose leading letter lexicographically beats any digit
      bigLedger.filter($"id".isin("c7")).write.parquet(s"$path.tmp-fa1b2c3d")
      assert(new java.io.File(s"$path.tmp-fa1b2c3d/_SUCCESS").exists())
      // newer generation committed under the current millis-counter
      // format — EXACTLY nextStamp()'s \d{13}-\d{6} shape (a stray
      // extra digit would classify as legacy and this test would pass
      // through the mtime fallback instead of the format rank)
      bigLedger.filter($"id".isin("c150", "c151"))
        .write.parquet(s"$path.tmp-1755086400000-000001")
      // make the LEGACY dir the newer write by mtime, so only the
      // wall-clock-beats-legacy rank (not mtime order) can pick right
      val legacyDir = new java.io.File(s"$path.tmp-fa1b2c3d")
      val wallDir = new java.io.File(s"$path.tmp-1755086400000-000001")
      assert(legacyDir.setLastModified(wallDir.lastModified() + 10000))
      assert(idsAt(path) == Seq("c150", "c151"),
        "recovery preferred a stale legacy-stamped generation")
      assert(new java.io.File(dir).listFiles().map(_.getName).toSeq == Seq("ledger"))
    }
  }

  test("legacy-only stamps fall back to mtime order among themselves") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      bigLedger.filter($"id".isin("c1")).write.parquet(s"$path.tmp-deadbeef")
      bigLedger.filter($"id".isin("c2", "c3")).write.parquet(s"$path.tmp-0badcafe")
      // make the lexicographically SMALLER stamp the newer write
      val older = new java.io.File(s"$path.tmp-deadbeef")
      val newer = new java.io.File(s"$path.tmp-0badcafe")
      assert(older.setLastModified(newer.lastModified() - 10000))
      assert(idsAt(path) == Seq("c2", "c3"),
        "legacy recovery ordered by stamp string instead of mtime")
    }
  }

  test("save after an interrupted save recovers first, then commits " +
      "its own generation; load sees only the newest") {
    withLedgerDir { dir =>
      val path = s"$dir/ledger"
      StateStore.save(bigLedger.limit(10), path, bucketCols = Seq("kind", "id"))
      assert(new java.io.File(path).renameTo(new java.io.File(s"$path.old-crash4")))
      StateStore.save(bigLedger.limit(3), path, bucketCols = Seq("kind", "id"))
      assert(idsAt(path) == Seq("c0", "c1", "c2"))
      assert(new java.io.File(dir).listFiles().map(_.getName).toSeq == Seq("ledger"))
    }
  }

  test("a non-compaction append writes O(delta) bytes on every log ledger: " +
      "delta sizes stay flat while the log grows") {
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length() else f.listFiles().map(dirBytes).sum
    // one equal-size batch per append id, in the schema of each ledger
    // that folds through StateStore.append
    val n = 40
    val ledgers = Seq[(String, StructType, Long => DataFrame)](
      ("stream-bands", DedupStream.bandsSchema,
        id => (0 until n).map(i => (id * 1000 + i, f"b$id%03d-$i%03d")).toDF("doc_id", "band")),
      ("stream-media", MediaDedupStream.ledgerSchema,
        id => (0 until n).map(i => (id * 1000 + i, "image", i, i + 1, i + 2, i + 3))
          .toDF("doc_id", "modality", "h0", "h1", "h2", "h3")),
      ("acked-keys", StructType(Seq(StructField("entity_id", StringType))),
        id => (0 until n).map(i => f"e$id%03d-$i%03d").toDF("entity_id")),
      ("dedup-index", DedupIndex.indexSchema,
        id => (0 until n).map(i => (id * 1000 + i, Seq(f"s$id%03d $i%03d"), Seq(f"h$id%03d$i%03d")))
          .toDF("doc_id", "sd", "sig")))
    withLedgerDir { dir =>
      ledgers.foreach { case (name, schema, batch) =>
        val path = s"$dir/$name"
        // 7 appends: below CompactEvery, so each is a pure delta write
        val sizes = (0L until 7L).map { id =>
          StateStore.append(StateStore.loadLog(spark, path, schema), batch(id), id)
          dirBytes(new java.io.File(f"$path/delta-$id%012d"))
        }
        assert(sizes.max <= 3 * sizes.min, s"$name delta sizes grow with the log: $sizes")
        assert(StateStore.loadLog(spark, path, schema).rows.count() == 7 * n)
      }
    }
  }

  test("load of a missing path is an empty LocalRelation that a join " +
      "folds at plan time; loadLog with no base/ still returns its deltas") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    withLedgerDir { dir =>
      val missing = StateStore.load(spark, s"$dir/none", bigLedger.schema)
      missing.queryExecution.optimizedPlan match {
        case l: LocalRelation => assert(l.data.isEmpty)
        case p => fail(s"expected an empty LocalRelation, got\n$p")
      }
      val joined = bigLedger.join(missing.select("kind", "id"), Seq("kind", "id"))
      assert(jobsIn(assert(joined.collect().isEmpty)) == 0)

      // a log whose only generation is one delta: base/ was never written
      val schema = StructType(Seq(StructField("entity_id", StringType)))
      val path = s"$dir/log"
      StateStore.append(StateStore.loadLog(spark, path, schema),
        Seq("e1", "e2").toDF("entity_id"), 0L)
      assert(!new java.io.File(s"$path/base").exists())
      val log = StateStore.loadLog(spark, path, schema)
      assert(log.newest == 0L)
      assert(log.rows.select("entity_id").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("e1", "e2"))
    }
  }

  test("loadLog reads base and every live delta as one file scan: one relation " +
      "with 0, 1 and 7 live deltas, none for an empty log") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    withLedgerDir { dir =>
      val schema = StructType(Seq(StructField("entity_id", StringType)))
      val path = s"$dir/log"
      def scans(log: StateStore.Log) =
        log.rows.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r }.size
      assert(scans(StateStore.loadLog(spark, path, schema)) == 0)
      StateStore.refresh(Seq("b1", "b2").toDF("entity_id"), path)
      (0 to 7).foreach { id =>
        val log = StateStore.loadLog(spark, path, schema)
        assert(log.newest == id.toLong)
        if (Set(0, 1, 7)(id)) assert(scans(log) == 1, s"$id live deltas:\n${log.rows.queryExecution.optimizedPlan}")
        assert(log.rows.count() == 2 + 3 * id)
        if (id < 7) StateStore.append(log, Seq("x", "y", "z").map(v => s"$v${id + 1}").toDF("entity_id"), id + 1L)
      }
    }
  }

  test("loadLog finds base's newest stamp in its parquet footers, without a Spark job") {
    withLedgerDir { dir =>
      val schema = StructType(Seq(StructField("entity_id", StringType)))
      def newestOf(path: String) = {
        var log: StateStore.Log = null
        assert(jobsIn { log = StateStore.loadLog(spark, path, schema) } == 0)
        log.newest
      }
      // a compacted base holds stamps 0..3 over several files
      val path = s"$dir/log"
      (0L to 3L).foreach(id => StateStore.append(StateStore.loadLog(spark, path, schema),
        Seq(s"e$id", s"f$id").toDF("entity_id"), id))
      StateStore.compact(spark, path, schema, Seq("entity_id"))
      assert(!new java.io.File(f"$path/delta-${3L}%012d").exists())
      assert(newestOf(path) == 3L)
      // a base of files with no row groups holds no stamp
      val empty = s"$dir/empty"
      StateStore.refresh(Seq.empty[String].toDF("entity_id"), empty)
      assert(newestOf(empty) == -1L)
      // a flat ledger saved without the stamp column holds none either
      val flat = s"$dir/flat"
      StateStore.save(Seq("a", "b").toDF("entity_id"), flat)
      assert(newestOf(flat) == -1L)
      assert(StateStore.loadLog(spark, flat, schema).rows.count() == 2)
    }
  }
}
