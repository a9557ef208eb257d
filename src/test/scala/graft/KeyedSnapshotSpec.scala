package graft

import graft.sources.{GraftCatalog, KeyedSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The snapshot log on `graft-keyed` (r15.2 — the Iceberg snapshot
  * model folded into the WAP commit): time travel (`asOf` /
  * `VERSION AS OF`), metadata-grain DELETE (tombstones — zero data
  * bytes moved), retention/expiry (`retain`), and the GraftCatalog
  * SQL door (CREATE/SELECT/INSERT OVERWRITE/DELETE FROM/DROP). */
class KeyedSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"
  private val cat = "gsnap"
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)

  private def df(n: Long, srcTag: String = "s") =
    (0L until n).map(i => (i % 4L, i, s"$srcTag${i % 3L}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")

  private def readKeyed(dir: String, asOf: Option[Long] = None) = {
    val r = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
    asOf.fold(r)(v => r.option("asOf", v.toString)).load()
  }

  private def scanOf(q: DataFrame) =
    q.queryExecution.sparkPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head

  private def plannedPartitions(q: DataFrame): Int =
    scanOf(q).scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length

  private def genDirs(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))

  private def registerTable(name: String, dir: String, retain: Int = 1): String = {
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(
      s"""CREATE TABLE $cat.$name (kb BIGINT, doc_id BIGINT, source STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb', 'sortBy'='doc_id', 'retain'='$retain')"""
        .stripMargin)
    s"$cat.$name"
  }

  test("time travel: retain=2 keeps the superseded snapshot readable (asOf + VERSION AS OF)") {
    val dir = graft.io.TempDirs.scratch("graft_snap_tt_") + "/t"
    KeyedSource.stageKeyed(spark, df(40L, "old"), dir, "kb",
      sortBy = Seq("doc_id"), retain = 2)
    val v1 = readKeyed(dir).orderBy("doc_id").collect()
    KeyedSource.stageKeyed(spark, df(24L, "new"), dir, "kb",
      sortBy = Seq("doc_id"), retain = 2)
    // both generations on disk; head reads the new one
    assert(genDirs(dir).length == 2, "retain=2 must keep the superseded generation")
    assert(readKeyed(dir).count() == 24L)
    // asOf pins the retained snapshot, bit-for-bit
    assert(readKeyed(dir, asOf = Some(1L)).orderBy("doc_id").collect()
      .sameElements(v1))
    // the catalog door: VERSION AS OF resolves the same snapshot
    val t = registerTable("tt", dir, retain = 2)
    assert(spark.sql(s"SELECT * FROM $t").count() == 24L)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").count() == 40L)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").orderBy("doc_id")
      .collect().sameElements(v1))
    // snapshots are sequence-numbered, not wall-clock stamped
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t TIMESTAMP AS OF '2026-01-01'").collect()
    }
    assert(e.getMessage.contains("VERSION AS OF"), e.getMessage)
    // a snapshot pin is read-only: writes and deletes refuse
    val w = intercept[Exception] {
      df(8L).write.format("graft-keyed").option("schema", ddl)
        .option("key", "kb").option("asOf", "1").mode("overwrite").save(dir)
    }
    assert(w.getMessage.contains("snapshot pin"), w.getMessage)
  }

  test("retention: default retain=1 expires the superseded snapshot; expired asOf fails loudly") {
    val dir = graft.io.TempDirs.scratch("graft_snap_ret_") + "/t"
    KeyedSource.stageKeyed(spark, df(40L, "old"), dir, "kb")
    KeyedSource.stageKeyed(spark, df(24L, "new"), dir, "kb")
    assert(genDirs(dir).length == 1,
      "retain=1 must delete the superseded generation inside the commit")
    val e = intercept[Exception] { readKeyed(dir, asOf = Some(1L)).collect() }
    assert(e.getMessage.contains("not retained") &&
      e.getMessage.contains("retained seqs: 2"), e.getMessage)
    assert(readKeyed(dir, asOf = Some(2L)).count() == 24L,
      "the head seq stays addressable explicitly")
  }

  test("metadata-grain DELETE: tombstones hide keys on every read surface, zero data bytes moved") {
    val dir = graft.io.TempDirs.scratch("graft_snap_del_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 2)
    val gen = new java.io.File(KeyedSource.committedRoot(spark, dir))
    def dataFiles() = gen.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("k="))
      .flatMap(_.listFiles()).filter(_.isFile)
      .map(f => (f.getPath, f.length)).sortBy(_._1).toSeq
    val before = dataFiles()

    val t = registerTable("del", dir, retain = 2)
    spark.sql(s"DELETE FROM $t WHERE kb IN (1, 3)")

    // zero data movement: same generation, same files, same bytes
    assert(KeyedSource.committedRoot(spark, dir) == gen.getPath,
      "a metadata delete must not produce a new generation")
    assert(dataFiles() == before, "a metadata delete must not touch data files")

    // row scan: values, planned partitions, plan description
    val expect = df(64L).filter(col("kb") === 0L || col("kb") === 2L)
    val q = readKeyed(dir)
    assert(q.orderBy("doc_id").collect()
      .sameElements(expect.orderBy("doc_id").collect()))
    assert(plannedPartitions(q) == 2, "tombstoned directories must not plan")
    assert(scanOf(q).scan.description().contains("tombstones=2"))

    // metadata aggregates: the sidecar answer prunes tombstoned entries
    val agg = spark.sql(s"SELECT kb, count(*) AS n FROM $t GROUP BY kb ORDER BY kb")
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      "the stats fast path must survive tombstones")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 16L), (2L, 16L)))

    // reported statistics: surviving rows only
    val stats = scanOf(q).scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 32L)

    // pushed TopN: budget walks only surviving directories
    val top = readKeyed(dir).orderBy("kb", "doc_id").limit(5)
    assert(top.queryExecution.executedPlan.toString.contains("topN=5"))
    assert(top.collect().toSeq ==
      expect.orderBy("kb", "doc_id").limit(5).collect().toSeq)

    // idempotent re-delete: no snapshot burned — and OR-of-equalities
    // is consumable (arrives as Or, not In)
    val hconf = spark.sessionState.newHadoopConf()
    val seqBefore = KeyedSource.readCommitLog(dir, hconf).get.head.seq
    spark.sql(s"DELETE FROM $t WHERE kb = 3 OR kb = 1")
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.seq == seqBefore,
      "re-deleting dead keys must not commit a new snapshot")

    // the purge is auditable: the pre-delete snapshot still sees the keys
    assert(readKeyed(dir, asOf = Some(1L)).count() == 64L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1")
      .head().getLong(0) == 64L)

    // … and the snapshots METADATA TABLE reports the before/after pair
    val meta = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
      .option("metadata", "snapshots").load().orderBy("seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(meta.toSeq == Seq((1L, 4L, 0L, 64L), (2L, 2L, 2L, 32L)), meta.toSeq)
    // zero data files: the executed plan is the metadata scan
    val mplan = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
      .option("metadata", "snapshots").load()
      .queryExecution.executedPlan.toString
    assert(mplan.contains("GraftKeyedSnapshots"), mplan)
    // unknown metadata tables refuse with the supported list
    val um = intercept[Exception] {
      spark.read.format("graft-keyed").option("path", dir)
        .option("schema", ddl).option("key", "kb")
        .option("metadata", "files").load()
    }
    assert(um.getMessage.contains("snapshots"), um.getMessage)
  }

  test("unconstrained DELETE empties the table, still metadata-only") {
    val dir = graft.io.TempDirs.scratch("graft_snap_trunc_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb", retain = 2)
    val t = registerTable("trunc", dir, retain = 2)
    // (row-grain predicates no longer refuse: since r16 they take the
    // copy-on-write path — KeyedRowLevelSpec owns those legs)
    // unconstrained delete: every key tombstoned, still metadata-only
    spark.sql(s"DELETE FROM $t")
    assert(readKeyed(dir).count() == 0L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 0L,
      "the zero-survivor sentinel rides the same sidecar path")
    assert(readKeyed(dir, asOf = Some(1L)).count() == 32L,
      "the pre-truncate snapshot survives")
  }

  test("k= dirs with no commit log refuse read and DELETE with the restage message") {
    val dir = graft.io.TempDirs.scratch("graft_snap_nolog_") + "/t"
    KeyedSource.stageKeyed(spark, df(16L), dir, "kb")
    // move the generation's contents to the root and drop the log
    val gen = new java.io.File(KeyedSource.committedRoot(spark, dir))
    gen.listFiles().foreach { f =>
      java.nio.file.Files.move(f.toPath, java.nio.file.Path.of(dir, f.getName))
    }
    java.nio.file.Files.delete(gen.toPath)
    new java.io.File(dir).listFiles()
      .filter(_.getName.contains(KeyedSource.CommitFile)).foreach(_.delete())
    val r = intercept[Exception](readKeyed(dir).count())
    assert(r.getMessage.contains("restage"), r.getMessage)
    val t = registerTable("nolog", dir)
    val e = intercept[Exception] { spark.sql(s"DELETE FROM $t WHERE kb = 1") }
    assert(e.getMessage.contains("restage"), e.getMessage)
    // an empty path, by contrast, is an empty table
    val empty = graft.io.TempDirs.scratch("graft_snap_empty_") + "/t"
    assert(readKeyed(empty).count() == 0L)
  }

  test("catalog DDL/DML: INSERT OVERWRITE commits, INSERT INTO refuses, DROP leaves bytes") {
    val dir = graft.io.TempDirs.scratch("graft_snap_cat_") + "/t"
    new java.io.File(dir).mkdirs()
    val t = registerTable("w", dir)
    // first commit THROUGH SQL: the WAP writer behind INSERT OVERWRITE
    spark.sql(
      s"""INSERT OVERWRITE $t
         |SELECT id % 4 AS kb, id AS doc_id,
         |  concat('s', CAST(id % 3 AS STRING)) AS source,
         |  (id * 7) % 101 AS n_chars FROM range(48)""".stripMargin)
    assert(spark.sql(s"SELECT * FROM $t").count() == 48L)
    val hconf = spark.sessionState.newHadoopConf()
    assert(KeyedSource.readCommitLog(dir, hconf).isDefined)
    // INSERT INTO appends as a per-key edit commit (r16)
    spark.sql(s"INSERT INTO $t SELECT 1L, 99L, 'x', 7L")
    assert(spark.sql(s"SELECT * FROM $t").count() == 49L)
    assert(spark.sql(s"SELECT n_chars FROM $t WHERE doc_id = 99")
      .collect().head.getLong(0) == 7L)
    // DROP is external-table semantics: the mapping goes, the bytes stay
    spark.sql(s"DROP TABLE $t")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $t").collect()
    }
    assert(KeyedSource.readCommitLog(dir, hconf).isDefined,
      "DROP must leave the layout bytes untouched")
    assert(readKeyed(dir).count() == 49L, "the path-based read still works")
  }

  test("a delete that changes nothing visible burns no snapshot; log-framing strings never reach the log") {
    // never-stored keys: a no-op that must not consume a retention slot
    // (burning one would expire the very history the window keeps)
    val dir = graft.io.TempDirs.scratch("graft_snap_noop_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb", retain = 2)
    val t = registerTable("noop", dir, retain = 2)
    val hconf = spark.sessionState.newHadoopConf()
    val seq0 = KeyedSource.readCommitLog(dir, hconf).get.head.seq
    spark.sql(s"DELETE FROM $t WHERE kb = 99")
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.seq == seq0,
      "deleting a never-stored key must not commit a snapshot")
    assert(readKeyed(dir).count() == 32L)
    // string-keyed layout: values containing the log's own framing
    // bytes (',' joins tombstones, US/newline frame the file) match no
    // stored row — the writer's dirname alphabet refused them at stage
    // time — so they are dropped EXACTLY, never written into metadata
    val sdir = graft.io.TempDirs.scratch("graft_snap_str_") + "/t"
    val sddl = "lang STRING, doc_id BIGINT"
    KeyedSource.stageKeyed(spark,
      (0L until 20L).map(i => (s"l${i % 3}", i)).toDF("lang", "doc_id"),
      sdir, "lang", retain = 2)
    spark.sql(s"DROP TABLE IF EXISTS $cat.strdel")
    spark.sql(s"CREATE TABLE $cat.strdel (lang STRING, doc_id BIGINT) " +
      s"USING `graft-keyed` LOCATION '$sdir' TBLPROPERTIES('key'='lang')")
    spark.sql(s"DELETE FROM $cat.strdel WHERE lang = 'l0,l1'")
    spark.sql(s"DELETE FROM $cat.strdel WHERE lang = 'x\ny'")
    // the log still parses and nothing was deleted (neither value can
    // name a stored directory)
    val sr = spark.read.format("graft-keyed").option("path", sdir)
      .option("schema", sddl).option("key", "lang").load()
    assert(sr.count() == 20L)
    assert(KeyedSource.readCommitLog(sdir, hconf).get.head.tombstones.isEmpty)
    // a real string delete still works
    spark.sql(s"DELETE FROM $cat.strdel WHERE lang = 'l1'")
    assert(spark.read.format("graft-keyed").option("path", sdir)
      .option("schema", sddl).option("key", "lang").load().count() == 13L)
  }

  test("a catalog table with retain=2 over a retain=1 layout: DELETE widens, never shrinks") {
    val dir = graft.io.TempDirs.scratch("graft_snap_widen_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb") // log retain = 1
    val t = registerTable("widen", dir, retain = 2)
    spark.sql(s"DELETE FROM $t WHERE kb = 1")
    // the pre-delete snapshot survives: the catalog's declared window
    // governs the delete commit (max of log retain and table retain)
    assert(readKeyed(dir, asOf = Some(1L)).count() == 32L)
    assert(readKeyed(dir).count() == 24L)
  }

  test("CREATE TABLE refuses a foreign provider at DDL time") {
    val dir = graft.io.TempDirs.scratch("graft_snap_prov_") + "/t"
    spark.sql(s"DROP TABLE IF EXISTS $cat.foreign")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.foreign (kb BIGINT) USING parquet " +
        s"LOCATION '$dir' TBLPROPERTIES('key'='kb')")
    }
    assert(e.getMessage.contains("USING graft-keyed"), e.getMessage)
  }

  test("retention is the in-flight-reader grace period: a racing commit cannot tear a resolved plan") {
    val dir = graft.io.TempDirs.scratch("graft_snap_race_") + "/t"
    KeyedSource.stageKeyed(spark, df(40L, "old"), dir, "kb", retain = 2)
    // resolve the plan against the current head (snapshot resolution
    // happens at scan BUILD; files are opened at execution) — a
    // Dataset's queryExecution is per-Dataset, so the SAME Dataset
    // must carry through the race (deriving a new one re-resolves)
    val resolved = readKeyed(dir).orderBy("doc_id")
    resolved.queryExecution.executedPlan // force planning now
    val expected = df(40L, "old").orderBy("doc_id").collect()
    // a commit races in between planning and execution
    KeyedSource.stageKeyed(spark, df(24L, "new"), dir, "kb", retain = 2)
    // the resolved plan still reads its snapshot's generation — alive
    // because the retention window kept it (retain=1 would have
    // deleted the directory under the reader; the window IS the
    // snapshot-GC grace period, which is why it exists)
    assert(resolved.collect().sameElements(expected))
    assert(readKeyed(dir).count() == 24L, "new readers resolve the new head")
  }

  test("two-session coherence: committed DELETE/OVERWRITE agree through the layout's own log (r16)") {
    // GraftCatalog METADATA is session-scoped by design (the durable
    // truth about a layout is the layout itself: commit log, sidecar,
    // order marker — a metastore-backed catalog would persist exactly
    // the Spec quadruple, GraftCatalog scaladoc). Two sessions (or a
    // restart) operating on the same LOCATION must therefore agree
    // through the LOG, not through any shared in-memory state: every
    // scan build resolves the log fresh, and commits CAS-serialize.
    val dir = graft.io.TempDirs.scratch("graft_snap_2sess_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 3)
    val tA = registerTable("sessA", dir, retain = 3)
    spark.sql(s"DELETE FROM $tA WHERE kb = 1")

    // session B: own SQLConf + catalog instances, shared context —
    // a fresh CREATE over the same LOCATION (what a restart does)
    val b = spark.newSession()
    b.conf.set(s"spark.sql.catalog.gsnapb", classOf[GraftCatalog].getName)
    b.sql("CREATE TABLE gsnapb.t (kb BIGINT, doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) USING `graft-keyed` LOCATION '$dir' " +
      "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='3')")
    assert(b.sql("SELECT count(*) AS n FROM gsnapb.t").head().getLong(0) == 24L,
      "session B must see session A's committed DELETE through the log")

    // A overwrites; B's NEXT scan resolves the new head (no restart,
    // no re-CREATE — snapshot resolution is per scan build)
    spark.sql(s"INSERT OVERWRITE $tA SELECT id % 4, id, 'w', id * 3 FROM range(40)")
    assert(b.sql("SELECT count(*) AS n FROM gsnapb.t").head().getLong(0) == 40L,
      "session B must see session A's overwrite without re-registering")

    // and the other direction: B deletes, A sees it
    b.sql("DELETE FROM gsnapb.t WHERE kb IN (0, 2)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $tA").head().getLong(0) == 20L,
      "session A must see session B's tombstone commit")
  }

  test("expiry composes with shared-generation delete commits") {
    val dir = graft.io.TempDirs.scratch("graft_snap_exp_") + "/t"
    KeyedSource.stageKeyed(spark, df(40L, "a"), dir, "kb", retain = 2) // seq 1, genA
    val genA = new java.io.File(KeyedSource.committedRoot(spark, dir)).getName
    KeyedSource.stageKeyed(spark, df(24L, "b"), dir, "kb", retain = 2) // seq 2, genB
    assert(genDirs(dir).length == 2)
    val t = registerTable("exp", dir, retain = 2)
    spark.sql(s"DELETE FROM $t WHERE kb = 0") // seq 3, genB + tombstones
    // retained window is now {2, 3}: both name genB, genA expired
    assert(genDirs(dir).map(_.getName).toSet == Set(
      new java.io.File(KeyedSource.committedRoot(spark, dir)).getName))
    assert(!genDirs(dir).map(_.getName).contains(genA), "genA must be expired")
    val e = intercept[Exception] { readKeyed(dir, asOf = Some(1L)).collect() }
    assert(e.getMessage.contains("retained seqs: 2,3"), e.getMessage)
    // seq 2: genB before the delete — all 24 rows
    assert(readKeyed(dir, asOf = Some(2L)).count() == 24L)
    // seq 3 (head): the delete applied — kb=0 gone
    assert(readKeyed(dir).count() ==
      df(24L).filter(col("kb") =!= 0L).count())
  }
}
