package graft

import graft.sources.{KeyedCompact, KeyedSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Bucket-count / key-derivation evolution (r17 —
  * [[KeyedCompact.rebucket]]). Pins:
  * (1) DOUBLING the fan-out (`% 16` → `% 32`): one-pass split, every
  *     old bucket read once into exactly two new directories; a point
  *     lookup then plans the NEW grain (one pruned directory, the q55
  *     shape) and time travel pre-evolution still reads the old grain;
  * (2) HOT-BUCKET SPLIT (skew repair): rewriting one key leaves every
  *     other directory byte-identical — rewrite only what changes,
  *     carry the rest by reference;
  * (3) rows moving INTO an existing key append after its files;
  * (4) an assignment-preserving derivation is a no-op (no snapshot);
  * (5) a racing commit fails the evolution loudly (serializable);
  * (6) the re-bucketing's audit: the head view's stats (sidecar + KMV
  *     table line) equal a direct aggregate of the rows read back. */
class KeyedRebucketSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, n_chars BIGINT"
  private val schema = StructType.fromDDL(ddl)
  private def hconf = spark.sessionState.newHadoopConf()

  private def df16(n: Long) =
    (0L until n).map(i => (i % 16L, i, (i * 7L) % 101L))
      .toDF("kb", "doc_id", "n_chars")

  private def readKeyed(dir: String, asOf: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
    asOf.fold(r)(v => r.option("asOf", v.toString)).load()
  }

  private def liveDirs(dir: String): Set[String] = {
    KeyedSource.resolveView(dir, hconf, None).liveKeyDirs(hconf).map(_._1).toSet
  }

  private def dataFiles(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
      .flatMap(_.listFiles().filter(d => d.isDirectory && d.getName.startsWith("k=")))
      .flatMap(_.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      .map(f => f.getPath -> f.length).toMap

  private def scanOf(df: DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .head.scan

  test("doubling the fan-out: one-pass split to the new grain; point lookup plans one directory; time travel keeps the old grain") {
    val dir = graft.io.TempDirs.scratch("graft_rebkt_") + "/t"
    KeyedSource.stageKeyed(spark, df16(128L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    assert(liveDirs(dir).size == 16)

    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      col("doc_id") % 32) == 16)

    // the evolved layout serves 32 directories with consistent key data
    assert(liveDirs(dir).size == 32)
    val rows = readKeyed(dir).collect()
    assert(rows.length == 128)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) % 32L),
      "stored key values must match the evolved derivation")
    // point lookup (the q55 shape) prunes to exactly ONE directory of
    // the NEW grain
    val point = readKeyed(dir).where($"kb" === 19L)
    assert(scanOf(point).description().contains("keys=[19]"),
      scanOf(point).description())
    assert(point.collect().map(_.getLong(1)).toSet ==
      (0L until 128L).filter(_ % 32L == 19L).toSet)
    // metadata aggregates answer at the new grain (fresh sidecar)
    val agg = readKeyed(dir).groupBy("kb").count()
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKeyedStats"))
    assert(agg.collect().forall(_.getLong(1) == 4L))
    // time travel: the pre-evolution snapshot reads the OLD grain
    val old = readKeyed(dir, asOf = Some(1L))
    assert(old.count() == 128L)
    assert(old.collect().forall(r => r.getLong(0) == r.getLong(1) % 16L))
  }

  test("hot-bucket split rewrites one key; every other directory byte-identical; append into existing key composes") {
    val dir = graft.io.TempDirs.scratch("graft_rebkt_hot_") + "/t"
    KeyedSource.stageKeyed(spark, df16(128L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val before = dataFiles(dir)

    // split ONLY bucket 7 by the finer derivation: rows go to 7 or 23
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      expr("CASE WHEN kb = 7 THEN doc_id % 32 ELSE kb END")) == 1)
    assert(liveDirs(dir) == ((0L until 16L).map(_.toString).toSet + "23"))
    // every directory except 7's rewrite is byte-identical
    val untouched = before.filter(!_._1.contains("/k=7/"))
    untouched.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"untouched file $p changed")
    }
    assert(readKeyed(dir).count() == 128L)
    assert(readKeyed(dir).where($"kb" === 23L).collect()
      .map(_.getLong(1)).toSet == (0L until 128L)
      .filter(i => i % 16L == 7L && i % 32L == 23L).toSet)

    // now merge 23 INTO the existing key 3: its rows append after 3's
    // standing file (no rewrite of 3's bytes)
    val file3 = dataFiles(dir).filter(_._1.contains("/k=3/"))
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      expr("CASE WHEN kb = 23 THEN 3 ELSE kb END")) == 1)
    file3.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"append target's file $p changed")
    }
    assert(!liveDirs(dir).contains("23"), "a fully-moved key tombstones")
    assert(readKeyed(dir).where($"kb" === 3L).count() ==
      8L + 4L) // 3's own rows + 23's merged rows
    assert(readKeyed(dir).count() == 128L)
  }

  test("assignment-preserving derivation is a no-op; a racing commit fails the evolution loudly") {
    val dir = graft.io.TempDirs.scratch("graft_rebkt_race_") + "/t"
    KeyedSource.stageKeyed(spark, df16(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      col("doc_id") % 16) == 0)
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.seq == 1L,
      "a no-op evolution must not burn a snapshot")

    KeyedSource.raceHook.set(() =>
      df16(4L).selectExpr("kb", "doc_id + 900 AS doc_id", "n_chars")
        .write.format("graft-keyed").option("schema", ddl).option("key", "kb")
        .mode("append").save(dir))
    val e = intercept[IllegalStateException] {
      KeyedCompact.rebucket(spark, dir, schema, "kb", col("doc_id") % 32)
    }
    assert(e.getMessage.contains("conflicts with a concurrent commit"),
      e.getMessage)
    // nothing lost: base + racing append both live, old grain intact
    assert(readKeyed(dir).count() == 68L)
    // the re-run against the fresh head succeeds
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      col("doc_id") % 32) == 16)
    assert(readKeyed(dir).collect().forall(r => r.getLong(0) == r.getLong(1) % 32L))
  }

  test("a partial-CASE derivation (NULL assignment) refuses loudly, layout untouched") {
    val dir = graft.io.TempDirs.scratch("graft_rebkt_null_") + "/t"
    KeyedSource.stageKeyed(spark, df16(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 2)
    // a CASE with no ELSE assigns NULL everywhere kb != 3 — without the
    // guard those rows would silently keep their old bucket instead of
    // moving or failing
    val e = intercept[IllegalArgumentException] {
      KeyedCompact.rebucket(spark, dir, schema, "kb",
        expr("CASE WHEN kb = 3 THEN CAST(16 AS BIGINT) END"))
    }
    assert(e.getMessage.contains("NULL") && e.getMessage.contains("ELSE"),
      e.getMessage)
    // refused before any commit: no snapshot burned, old grain intact
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.seq == 1L)
    assert(readKeyed(dir).count() == 32L)
  }

  test("re-bucketing writes audited stats: per-key sidecar and table line match the rows") {
    val dir = graft.io.TempDirs.scratch("graft_rebkt_stats_") + "/t"
    KeyedSource.stageKeyed(spark, df16(128L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    def check(): Unit = {
      val (stats, tableCount) = KeyedStatsAudit.fromStats(spark, dir, schema, "kb")
      val (data, total) = KeyedStatsAudit.fromRows(readKeyed(dir), schema, "kb")
      assert(total == 128L)
      assert(stats == data, s"stats $stats vs rows $data")
      assert(tableCount.contains(total), s"table line count $tableCount vs $total rows")
    }
    // split one bucket (7 -> 7 and 23), then move 23 into the kept key
    // 3, whose entry then merges its base and re-bucketed generations
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      expr("CASE WHEN kb = 7 THEN doc_id % 32 ELSE kb END")) == 1)
    check()
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      expr("CASE WHEN kb = 23 THEN 3 ELSE kb END")) == 1)
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.edits("3").length == 2)
    check()
    // doubling the fan-out rewrites every key into one generation
    assert(KeyedCompact.rebucket(spark, dir, schema, "kb",
      col("doc_id") % 32) > 0)
    check()
  }
}
