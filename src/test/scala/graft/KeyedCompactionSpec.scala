package graft

import graft.sources.{KeyedCompact, KeyedSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Compaction / OPTIMIZE on `graft-keyed` (r16 — the maintenance
  * commit for append/MERGE fragmentation). Pins: (1) fragmented keys
  * (multi-file edit lists) collapse to one file each while data stays
  * IDENTICAL and base-generation bytes are untouched (rewrite by
  * reference everywhere else); (2) the stored-order claim lost to
  * appends RESURRECTS after compaction (single sorted file per key,
  * same marker); (3) time travel still reads the pre-compaction
  * fragmented form; (4) a fragmentation-free layout compacts as a
  * no-op — zero keys, no snapshot burned; (5) the changes table nets
  * a compaction interval to ZERO rows (maintenance commits are
  * invisible to CDC consumers); (6) a commit racing the compaction
  * fails it loudly (serializable, never rebase); (7) the compaction's
  * audit: the head view's stats (sidecar + KMV table line) equal a
  * direct aggregate of the rows read back. */
class KeyedCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"
  private val schema = StructType.fromDDL(ddl)

  private def df(n: Long, off: Long = 0L) =
    (0L until n).map(i => ((i + off) % 4L, i + off, s"s${i % 3L}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")

  private def readKeyed(dir: String, asOf: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
    asOf.fold(r)(v => r.option("asOf", v.toString)).load()
  }

  private def rows(d: DataFrame): Set[(Long, Long, String, Long)] =
    d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

  private def append(dir: String, d: DataFrame): Unit =
    d.write.format("graft-keyed").option("schema", ddl).option("key", "kb")
      .option("sortBy", "doc_id").mode("append").save(dir)

  /** (key dirname -> file count) over the LIVE view's serving dirs. */
  private def liveFileCounts(dir: String): Map[String, Int] = {
    val hconf = spark.sessionState.newHadoopConf()
    KeyedSource.resolveView(dir, hconf, None).liveKeyDirs(hconf)
      .map { case (k, dirs) => k -> dirs.map(d =>
        new java.io.File(new java.net.URI(
          if (d.startsWith("file:")) d else "file://" + d).getPath)
          .listFiles().count(f => f.isFile && !f.getName.startsWith("."))).sum
      }.toMap
  }

  test("compaction collapses fragmented keys; data identical; base bytes untouched; order claim resurrects") {
    val dir = graft.io.TempDirs.scratch("graft_compact_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    append(dir, df(8L, off = 100L)) // seq 2: kbs fragment (base + append file)
    append(dir, df(4L, off = 200L)) // seq 3: kb 0..3 now up to 3 files
    val hconf = spark.sessionState.newHadoopConf()
    val before = readKeyed(dir)
    val expected = rows(before)
    val fragBefore = liveFileCounts(dir)
    assert(fragBefore.values.exists(_ > 1), s"setup must fragment, got $fragBefore")
    // appends dropped the stored-order claim (multi-file keys)
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    assert(KeyedSource.readOrderMarkerView(
      KeyedSource.resolveView(dir, hconf, None), conf, schema, "kb").isEmpty)
    val baseGen = KeyedSource.readCommitLog(dir, hconf).get.head.gen
    val baseFiles = new java.io.File(s"$dir/$baseGen").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("k="))
      .flatMap(_.listFiles().filter(f => f.isFile && !f.getName.startsWith(".")))
      .map(f => f.getPath -> f.length).toMap

    val n = KeyedCompact.compact(spark, dir, schema, "kb")
    assert(n == 4, s"all four buckets were fragmented, compacted $n")

    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.seq == 4L && log.head.gen == baseGen)
    assert(log.head.edits.size == 4 &&
      log.head.edits.values.forall(_.length == 1),
      s"fragmented keys must collapse to one reference, got ${log.head.edits}")
    assert(rows(readKeyed(dir)) == expected, "compaction must not change data")
    assert(liveFileCounts(dir).values.forall(_ == 1))
    baseFiles.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"base file $p changed under compaction")
    }
    // single sorted file per key + identical marker ⇒ the claim is back
    assert(KeyedSource.readOrderMarkerView(
      KeyedSource.resolveView(dir, hconf, None), conf, schema, "kb")
      .contains(Seq("doc_id")))
    // physical order inside a compacted file really is doc_id-ascending
    val kb0 = readKeyed(dir).where($"kb" === 0L).collect().map(_.getLong(1))
    assert(kb0.sameElements(kb0.sorted))
  }

  test("time travel reads the pre-compaction fragmented form; CDC nets a compaction to zero") {
    val dir = graft.io.TempDirs.scratch("graft_compact_tt_") + "/t"
    KeyedSource.stageKeyed(spark, df(16L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 6)
    append(dir, df(4L, off = 50L)) // seq 2
    val hconf = spark.sessionState.newHadoopConf()
    val preCompact = rows(readKeyed(dir, asOf = Some(2L)))
    assert(KeyedCompact.compact(spark, dir, schema, "kb") > 0) // seq 3
    // the retained snapshot still serves the fragmented references
    val v2 = KeyedSource.readCommitLog(dir, hconf).get.snapshots
      .find(_.seq == 2L).get
    assert(v2.edits.values.exists(_.length > 1))
    assert(rows(readKeyed(dir, asOf = Some(2L))) == preCompact)
    // CDC: same content, different references — the net delta is EMPTY
    val chg = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
      .option("metadata", "changes")
      .option("changesFrom", "2").option("changesTo", "3").load()
    assert(chg.count() == 0,
      "a compaction interval must net to zero change rows")
  }

  test("no fragmentation: compact is a no-op, no snapshot burned") {
    val dir = graft.io.TempDirs.scratch("graft_compact_noop_") + "/t"
    KeyedSource.stageKeyed(spark, df(16L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 2)
    val hconf = spark.sessionState.newHadoopConf()
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 0)
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.seq == 1L)
  }

  test("a key with every live row DV-deleted compacts to a tombstone, not a permanent failure") {
    val dir = graft.io.TempDirs.scratch("graft_compact_empty_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 6)
    val cat = "gcmpe"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(
      s"""CREATE TABLE $cat.t (kb BIGINT, doc_id BIGINT, source STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb', 'sortBy'='doc_id', 'retain'='6',
         |'dmlMode'='mor')""".stripMargin)
    // delete EVERY row of kb=2 row-by-row (no key literal, so the
    // MOR path writes deletion vectors instead of a tombstone)
    spark.sql(s"DELETE FROM $cat.t WHERE doc_id % 4 = 2")
    val hconf = spark.sessionState.newHadoopConf()
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.dvs.keySet == Set("2"))
    assert(readKeyed(dir).count() == 24L)

    val expected = rows(readKeyed(dir))
    // compaction must not throw: the zero-live-row key tombstones
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 1)
    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.dvs.isEmpty, "compaction folds the deletion vectors")
    assert(log.head.tombstones == Set("2"),
      "a fully-deleted key becomes a tombstone")
    assert(!log.head.edits.contains("2"))
    assert(rows(readKeyed(dir)) == expected)
    // idempotent: nothing eligible remains
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 0)
    // new data landing in the tombstoned key reads back
    append(dir, Seq((2L, 9000L, "sX", 1L)).toDF("kb", "doc_id", "source", "n_chars"))
    assert(readKeyed(dir).where($"kb" === 2L).count() == 1L)
  }

  test("a racing commit fails the compaction loudly (serializable, never rebase)") {
    val dir = graft.io.TempDirs.scratch("graft_compact_race_") + "/t"
    KeyedSource.stageKeyed(spark, df(16L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    append(dir, df(4L, off = 50L)) // seq 2, fragmented
    // fire a racing append in the CAS window between the compaction's
    // read-build and its claim
    KeyedSource.raceHook.set(() =>
      append(dir, df(2L, off = 90L))) // seq 3 lands first
    val e = intercept[IllegalStateException] {
      KeyedCompact.compact(spark, dir, schema, "kb")
    }
    assert(e.getMessage.contains("conflicts with a concurrent commit"),
      e.getMessage)
    // nothing was lost: both appends' rows are live, layout readable
    assert(readKeyed(dir).count() == 16L + 4L + 2L)
    // and a re-run against the fresh head succeeds
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 4)
    assert(readKeyed(dir).count() == 22L)
  }

  test("compaction writes audited stats: per-key sidecar and table line match the rows") {
    val dir = graft.io.TempDirs.scratch("graft_compact_stats_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    append(dir, df(8L, off = 100L))
    append(dir, df(4L, off = 200L))
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 4)
    val hconf = spark.sessionState.newHadoopConf()
    val gen = KeyedSource.readCommitLog(dir, hconf).get.head.edits.values.flatten.toSet
    assert(gen.size == 1 && gen.head.startsWith("_gen-compact-"))
    // the compacted generation carries its own sidecar and KMV file
    Seq(graft.sources.KeyedStats.SidecarFile, graft.sources.KeyedStats.NdvFile)
      .foreach(f => assert(new java.io.File(s"$dir/${gen.head}/$f").isFile, f))
    val (stats, tableCount) = KeyedStatsAudit.fromStats(spark, dir, schema, "kb")
    val (data, total) = KeyedStatsAudit.fromRows(readKeyed(dir), schema, "kb")
    assert(total == 44L)
    assert(stats == data, s"stats $stats vs rows $data")
    assert(tableCount.contains(total), s"table line count $tableCount vs $total rows")
  }
}
