package graft

import graft.sources.{GraftCatalog, KeyedCompact, KeyedSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Merge-on-read deletion vectors (r16 — `dmlMode='mor'`, Iceberg v2
  * position deletes). Pins: (1) a row-grain DELETE writes DV files
  * only — ZERO data files rewritten (byte-identity), one CAS swap —
  * and reads exclude exactly the deleted rows; (2) a second delete on
  * the same key APPENDS dv refs and composes; (3) key-grain DELETE
  * still takes the tombstone path (no dvs, no rewrite); (4) metadata
  * answers SURVIVE dvs (r17): the DV commit's stats patch keeps
  * count/min/max/sum metadata-answered and exact; without a patch
  * (pre-r17 commits) every aggregate falls back to the DV-applying
  * data scan; (5) the `_graft_pos` metadata column is selectable
  * and deleted ordinals vanish from it; (6) CDC prices a MOR-delete
  * interval at the DELTA: one partition, only the newly-deleted rows,
  * tagged 'delete'; (7) compaction folds DVs into clean files —
  * vectors cleared, metadata answers restored, data identical;
  * (8) time travel still reads the pre-delete rows; (9) a commit
  * racing the DV commit fails it loudly; (10) after every MOR DELETE,
  * UPDATE and MERGE the head view's stats (sidecars + patches) equal a
  * direct aggregate of its rows, DOUBLE/FLOAT extremes included. */
class KeyedMorSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"
  private val schema = StructType.fromDDL(ddl)
  private val cat = "gmor"
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)

  private def df(n: Long) =
    (0L until n).map(i => (i % 4L, i, s"s${i % 3L}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")

  private def registerMor(name: String, dir: String, retain: Int = 4): String = {
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(
      s"""CREATE TABLE $cat.$name (kb BIGINT, doc_id BIGINT, source STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb', 'sortBy'='doc_id', 'retain'='$retain',
         |'dmlMode'='mor')""".stripMargin)
    s"$cat.$name"
  }

  private def readKeyed(dir: String, asOf: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
    asOf.fold(r)(v => r.option("asOf", v.toString)).load()
  }

  private def dataFiles(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
      .flatMap(_.listFiles().filter(d => d.isDirectory && d.getName.startsWith("k=")))
      .flatMap(_.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      .map(f => f.getPath -> f.length).toMap

  test("row-grain DELETE writes deletion vectors only: zero data files rewritten, reads exclude the rows") {
    val dir = graft.io.TempDirs.scratch("graft_mor_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("del", dir)
    val before = dataFiles(dir)
    val hconf = spark.sessionState.newHadoopConf()

    // doc_ids 5 and 21 live in kb=1 — row-grain, no key literal
    spark.sql(s"DELETE FROM $t WHERE doc_id IN (5, 21)")

    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.seq == 2L)
    // a log carrying deletion vectors DECLARES format v4 (a pre-r16
    // v3-only reader sees a version gap, not a generic corruption);
    // a log without dvs/tags still writes v3
    val headLog = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(KeyedSource.CommitFile))
      .maxBy(f => f.getName.stripPrefix(KeyedSource.CommitFile)
        .stripPrefix(".v").toLongOption.getOrElse(0L))
    assert(new String(java.nio.file.Files.readAllBytes(headLog.toPath))
      .startsWith("graft-keyed-commit v4"))
    assert(log.head.edits.isEmpty && log.head.tombstones.isEmpty,
      "a MOR delete must not rewrite or tombstone anything")
    assert(log.head.dvs.keySet == Set("1"),
      s"only kb=1 carries deletion vectors, got ${log.head.dvs}")
    // every dv ref carries its cardinality in the filename: 2 rows
    assert(log.head.dvs("1").map(KeyedSource.dvCountOf).sum == 2L)
    // DATA files: byte-identical, nothing added, nothing rewritten
    assert(dataFiles(dir) == before,
      "a deletion-vector commit must not touch data files")
    assert(readKeyed(dir).count() == 62L)
    assert(readKeyed(dir).where($"doc_id".isin(5L, 21L)).count() == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 62L)

    // a SECOND delete on the same key appends refs and composes
    spark.sql(s"DELETE FROM $t WHERE doc_id = 9") // kb=1 again
    val log2 = KeyedSource.readCommitLog(dir, hconf).get
    assert(log2.head.dvs("1").size > log.head.dvs("1").size)
    assert(readKeyed(dir).count() == 61L)
    // time travel: the pre-delete snapshot still reads all 64 rows
    assert(readKeyed(dir, asOf = Some(1L)).count() == 64L)

    // key-grain DELETE still routes to the zero-IO tombstone path
    spark.sql(s"DELETE FROM $t WHERE kb = 3")
    val log3 = KeyedSource.readCommitLog(dir, hconf).get
    assert(log3.head.tombstones == Set("3") && !log3.head.dvs.contains("3"))
    assert(readKeyed(dir).count() == 61L - 16L)
  }

  test("metadata answers survive dvs: the stats patch keeps min/max/sum exact; no patch = counts only") {
    val dir = graft.io.TempDirs.scratch("graft_mor_meta_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("meta", dir)
    val agg = () => spark.sql(s"SELECT kb, count(*) AS n FROM $t GROUP BY kb")
    assert(agg().queryExecution.executedPlan.toString.contains("GraftKeyedStats"))
    spark.sql(s"DELETE FROM $t WHERE doc_id = 6") // kb=2
    // COUNTS stay metadata-answered (dv filenames carry cardinality)
    val after = agg()
    assert(after.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      "count-only aggregates stay metadata-answered under deletion vectors")
    assert(after.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 8L, 1L -> 8L, 2L -> 7L, 3L -> 8L))
    // min/max/sum stay metadata-answered TOO (r17): the DV commit's
    // stats patch recomputed the affected key's exact post-delete
    // stats — zero data files opened at query time, values exact
    val q = () => spark.sql(
      s"SELECT kb, sum(n_chars) AS s, min(doc_id) AS mn, max(doc_id) AS mx " +
        s"FROM $t GROUP BY kb")
    val stats = q()
    assert(stats.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      "min/max/sum stay metadata-answered under a patched deletion vector")
    val expect = df(32L).where($"doc_id" =!= 6L).groupBy("kb")
      .agg(org.apache.spark.sql.functions.sum("n_chars"),
        org.apache.spark.sql.functions.min("doc_id"),
        org.apache.spark.sql.functions.max("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == expect)
    // the snapshots metadata table prices the deletion the same way
    val snaps = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
      .option("metadata", "snapshots").load()
      .orderBy("seq").collect()
    assert(snaps.map(_.getLong(3)).toSeq == Seq(32L, 31L))

    // WITHOUT the patch (a pre-r17 dv commit, modeled by deleting the
    // patch file): every aggregate falls back to the DV-applying data
    // scan — honestly, with identical values
    val hconf = spark.sessionState.newHadoopConf()
    val log = KeyedSource.readCommitLog(dir, hconf).get
    val dvGen = log.head.dvs("2").head.takeWhile(_ != '/')
    val patch = new java.io.File(s"$dir/$dvGen", "_graft_keyed_stats_patch")
    assert(patch.exists(), "the DV commit must write a stats patch")
    assert(patch.delete())
    new java.io.File(s"$dir/$dvGen", "._graft_keyed_stats_patch.crc").delete()
    val counts = agg()
    assert(!counts.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      "counts must refuse without a patch")
    assert(counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 8L, 1L -> 8L, 2L -> 7L, 3L -> 8L))
    val fallback = q()
    assert(!fallback.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      "min/max/sum must refuse without a patch")
    assert(fallback.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == expect)
  }

  test("_graft_pos is selectable; deleted ordinals vanish; CDC prices the MOR interval at the delta") {
    val dir = graft.io.TempDirs.scratch("graft_mor_cdc_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 6)
    val t = registerMor("cdc", dir, retain = 6)
    // position column: ordinals are dense per key before any delete
    val pos0 = spark.sql(
      s"SELECT kb, _graft_pos FROM $t WHERE kb = 2 ORDER BY _graft_pos")
      .collect().map(_.getLong(1)).toSeq
    assert(pos0 == (0L until 8L), s"dense ordinals expected, got $pos0")

    spark.sql(s"DELETE FROM $t WHERE doc_id IN (6, 14)") // kb=2, ordinals 1,3
    val pos1 = spark.sql(
      s"SELECT _graft_pos FROM $t WHERE kb = 2 ORDER BY _graft_pos")
      .collect().map(_.getLong(0)).toSeq
    assert(pos1 == Seq(0L, 2L, 4L, 5L, 6L, 7L),
      s"deleted ordinals must vanish, remaining keep theirs: $pos1")

    // CDC: the (1,2] interval is ONE partition emitting exactly the two
    // deleted rows, tagged 'delete' — the delta, not the key's content
    val chg = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb")
      .option("metadata", "changes")
      .option("changesFrom", "1").option("changesTo", "2").load()
    assert(chg.rdd.getNumPartitions == 1)
    val got = chg.collect()
      .map(r => (r.getLong(1), r.getString(4))).toSet
    assert(got == Set((6L, "delete"), (14L, "delete")))
  }

  test("compaction folds deletion vectors into clean files; metadata answers and columnar return") {
    val dir = graft.io.TempDirs.scratch("graft_mor_compact_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("fold", dir)
    spark.sql(s"DELETE FROM $t WHERE doc_id IN (6, 14)") // kb=2 dvs
    // DV'd scans read the DV-applied rows exactly
    val live = readKeyed(dir)
    val expected = live.collect().map(_.toSeq).toSet
    assert(expected.size == 30 && !expected.exists(r => r(1) == 6L || r(1) == 14L))
    val hconf = spark.sessionState.newHadoopConf()

    val n = KeyedCompact.compact(spark, dir, schema, "kb")
    assert(n == 1, s"only the DV'd key is eligible, compacted $n")
    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.dvs.isEmpty, "compaction must clear folded vectors")
    assert(log.head.edits.keySet == Set("2"))
    assert(readKeyed(dir).collect().map(_.toSeq).toSet == expected)
    // metadata answers return once the vectors are folded
    val agg = spark.sql(s"SELECT kb, count(*) AS n FROM $t GROUP BY kb")
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKeyedStats"))
    assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 8L, 1L -> 8L, 2L -> 6L, 3L -> 8L))
  }

  test("MOR UPDATE: old versions become deletion vectors, new versions append — zero rewrites") {
    val dir = graft.io.TempDirs.scratch("graft_mor_upd_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("upd", dir)
    val before = dataFiles(dir)
    val hconf = spark.sessionState.newHadoopConf()

    spark.sql(s"UPDATE $t SET n_chars = 999 WHERE doc_id IN (5, 21)") // kb=1

    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.seq == 2L)
    // old versions: deletion vectors on kb=1; new versions: an APPEND
    // edit on kb=1 — base files untouched
    assert(log.head.dvs.keySet == Set("1"))
    assert(log.head.dvs("1").map(KeyedSource.dvCountOf).sum == 2L)
    assert(log.head.edits.keySet == Set("1"))
    assert(log.head.edits("1").length == 2, "base-then-append expected")
    before.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"pre-existing file $p changed")
    }
    assert(readKeyed(dir).count() == 64L)
    assert(readKeyed(dir).where($"doc_id".isin(5L, 21L))
      .collect().map(_.getLong(3)).toSeq.sorted == Seq(999L, 999L))
    // time travel reads the pre-update values
    assert(readKeyed(dir, asOf = Some(1L)).where($"doc_id" === 5L)
      .collect().head.getLong(3) == 35L)

    // a KEY-MOVING update: the row leaves kb=1 (dv) and lands in kb=0
    // (append under the NEW key)
    spark.sql(s"UPDATE $t SET kb = 0 WHERE doc_id = 13") // was kb=1
    val log2 = KeyedSource.readCommitLog(dir, hconf).get
    assert(log2.head.edits.contains("0"))
    assert(readKeyed(dir).where($"doc_id" === 13L)
      .collect().head.getLong(0) == 0L)
    assert(readKeyed(dir).count() == 64L)

    // compaction folds both: vectors cleared, fragmented keys collapse
    val expected = readKeyed(dir).collect().map(_.toSeq).toSet
    assert(graft.sources.KeyedCompact.compact(spark, dir, schema, "kb") == 2)
    val log3 = KeyedSource.readCommitLog(dir, hconf).get
    assert(log3.head.dvs.isEmpty)
    assert(readKeyed(dir).collect().map(_.toSeq).toSet == expected)
  }

  test("MOR MERGE: matched rows become dv+append, not-matched rows append — zero rewrites") {
    val dir = graft.io.TempDirs.scratch("graft_mor_merge_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("mrg", dir)
    val before = dataFiles(dir)
    val hconf = spark.sessionState.newHadoopConf()

    // matched: doc_id % 8 = 5 (updates, n_chars := 777); not-matched:
    // +1000-shifted twins of every 16th doc (inserts)
    df(64L).where($"doc_id" % 8 === 5)
      .select($"kb", $"doc_id", $"source", org.apache.spark.sql.functions.lit(777L).as("n_chars"))
      .unionAll(df(64L).where($"doc_id" % 16 === 0)
        .selectExpr("(doc_id + 1000) % 4 AS kb", "doc_id + 1000 AS doc_id",
          "source", "CAST(55 AS BIGINT) AS n_chars"))
      .createOrReplaceTempView("mor_merge_src")
    spark.sql(
      s"""MERGE INTO $t AS t USING mor_merge_src AS s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT (kb, doc_id, source, n_chars)
         |  VALUES (s.kb, s.doc_id, s.source, s.n_chars)""".stripMargin)

    val log = KeyedSource.readCommitLog(dir, hconf).get
    // matched rows' old versions are deletion vectors; every new row
    // (updates + inserts) rides append edits — base files untouched
    assert(log.head.dvs.nonEmpty)
    assert(log.head.dvs.valuesIterator.flatten
      .map(KeyedSource.dvCountOf).sum == 8L) // 64/8 matched
    assert(log.head.edits.nonEmpty)
    before.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"pre-existing file $p changed")
    }
    assert(readKeyed(dir).count() == 64L + 4L)
    assert(readKeyed(dir).where($"doc_id" % 8 === 5 && $"doc_id" < 1000)
      .collect().map(_.getLong(3)).forall(_ == 777L))
    assert(readKeyed(dir).where($"doc_id" >= 1000)
      .collect().map(_.getLong(3)).forall(_ == 55L))
    // compaction folds the whole merge
    val expected = readKeyed(dir).collect().map(_.toSeq).toSet
    assert(graft.sources.KeyedCompact.compact(spark, dir, schema, "kb") > 0)
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.dvs.isEmpty)
    assert(readKeyed(dir).collect().map(_.toSeq).toSet == expected)
  }

  test("DV run-length encoding: contiguous ordinal runs write one range line, reads compose") {
    val dir = graft.io.TempDirs.scratch("graft_mor_rle_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("rle", dir)
    // kb=1 holds doc_ids 1,5,9,…,61 at ordinals 0..15; killing
    // doc_id 17..33 deletes the CONTIGUOUS ordinal run 4..8
    spark.sql(s"DELETE FROM $t WHERE kb = 1 AND doc_id BETWEEN 17 AND 33")
    val hconf = spark.sessionState.newHadoopConf()
    val log = KeyedSource.readCommitLog(dir, hconf).get
    val ref = log.head.dvs("1").head
    assert(KeyedSource.dvCountOf(ref) == 5L)
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ref)),
      java.nio.charset.StandardCharsets.US_ASCII).trim
    assert(content == "4-8",
      s"a contiguous run must write ONE range line, got '$content'")
    assert(readKeyed(dir).count() == 59L)
    assert(readKeyed(dir).where($"kb" === 1L)
      .collect().map(_.getLong(1)).toSet ==
      Set(1L, 5L, 9L, 13L, 37L, 41L, 45L, 49L, 53L, 57L, 61L))
  }

  test("dense scattered deletes write ONE bitmap container line; reads, stats, and compaction compose") {
    val dir = graft.io.TempDirs.scratch("graft_mor_bitmap_") + "/t"
    // one key, 4000 rows — every other row deleted = 1000 runs in kb=1,
    // far past the density threshold (runs > 64 and > maxOrd/32)
    val big = (0L until 16000L).map(i => (i % 4L, i, s"s${i % 3L}", i % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")
    KeyedSource.stageKeyed(spark, big, dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("bmp", dir)
    // kb=1 holds doc_id ≡ 1 (mod 4); delete those with doc_id % 8 == 1
    // (every other ordinal in that key's stream)
    spark.sql(s"DELETE FROM $t WHERE kb = 1 AND doc_id % 8 = 1")
    val hconf = spark.sessionState.newHadoopConf()
    val log = KeyedSource.readCommitLog(dir, hconf).get
    val ref = log.head.dvs("1").head
    assert(KeyedSource.dvCountOf(ref) == 2000L)
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ref)),
      java.nio.charset.StandardCharsets.US_ASCII).trim
    assert(content.startsWith("B") && !content.contains("\n"),
      s"a dense scattered vector must write ONE bitmap line, got " +
        s"${content.take(60)}… (${content.count(_ == '\n') + 1} lines)")
    // reads exclude exactly the deleted rows
    assert(readKeyed(dir).where($"kb" === 1L).count() == 2000L)
    assert(readKeyed(dir).where($"kb" === 1L && $"doc_id" % 8 === 1).count() == 0L)
    // the stats patch consumed its own bitmap: metadata sums exact
    val sums = spark.sql(s"SELECT kb, count(*) AS n, sum(n_chars) AS s FROM $t GROUP BY kb")
    assert(sums.queryExecution.executedPlan.toString.contains("GraftKeyedStats"))
    val expect = big.where(!($"kb" === 1L && $"doc_id" % 8 === 1))
      .groupBy("kb").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sums.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      == expect)
    // compaction folds the bitmap like any vector
    assert(KeyedCompact.compact(spark, dir, schema, "kb") == 1)
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.dvs.isEmpty)
    assert(readKeyed(dir).count() == 14000L)
  }

  test("COW MERGE inserting into an unaffected key carries that key's deletion vectors forward") {
    val dir = graft.io.TempDirs.scratch("graft_mor_dvcarry_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("dvcarry", dir)
    val hconf = spark.sessionState.newHadoopConf()
    spark.sql(s"DELETE FROM $t WHERE doc_id IN (5, 21)") // kb=1 → DVs on key 1
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.dvs.keySet == Set("1"))

    // the same location registered copy-on-write: its MERGE takes the
    // COW commit path against a log that already carries DVs
    spark.sql(s"DROP TABLE IF EXISTS $cat.dvcarrycow")
    spark.sql(
      s"""CREATE TABLE $cat.dvcarrycow (kb BIGINT, doc_id BIGINT, source STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb', 'sortBy'='doc_id', 'retain'='4')""".stripMargin)
    // insert-only MERGE into kb=1 (1001 % 4 = 1): no existing row
    // matches, so key 1 is WRITTEN (appended) but never SCANNED
    Seq((1L, 1001L, "s0", 7L)).toDF("kb", "doc_id", "source", "n_chars")
      .createOrReplaceTempView("cow_dv_src")
    spark.sql(
      s"""MERGE INTO $cat.dvcarrycow AS t USING cow_dv_src AS s
         |ON t.doc_id = s.doc_id
         |WHEN NOT MATCHED THEN INSERT (kb, doc_id, source, n_chars)
         |  VALUES (s.kb, s.doc_id, s.source, s.n_chars)""".stripMargin)

    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.dvs.contains("1"),
      "an append-only key must carry its deletion vectors forward")
    assert(readKeyed(dir).count() == 63L) // 64 - 2 deleted + 1 inserted
    assert(readKeyed(dir).where($"doc_id".isin(5L, 21L)).count() == 0L,
      "rows deleted under dmlMode='mor' must not resurrect after a COW append")
    assert(readKeyed(dir).where($"doc_id" === 1001L).count() == 1L)
  }

  test("a commit racing the deletion-vector commit fails it loudly") {
    val dir = graft.io.TempDirs.scratch("graft_mor_race_") + "/t"
    KeyedSource.stageKeyed(spark, df(32L), dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    val t = registerMor("race", dir)
    KeyedSource.raceHook.set(() =>
      df(4L).selectExpr("kb", "doc_id + 500 AS doc_id", "source", "n_chars")
        .write.format("graft-keyed").option("schema", ddl).option("key", "kb")
        .mode("append").save(dir))
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $t WHERE doc_id = 6")
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("conflicts with a concurrent commit") ||
        Option(e.getCause).exists(_.getMessage
          .contains("conflicts with a concurrent commit"))),
      s"got: ${e.getMessage} / ${Option(e.getCause).map(_.getMessage)}")
    // nothing lost: both the base rows and the racing append are live
    assert(readKeyed(dir).count() == 36L)
    // the re-run succeeds against the fresh head
    spark.sql(s"DELETE FROM $t WHERE doc_id = 6")
    assert(readKeyed(dir).count() == 35L)
  }

  test("INT columns ride MOR DML: UPDATE/MERGE buffering, row DELETE, and the stats patch stay exact") {
    // regression (r18 review): INT joined the storable set but the MOR
    // delta writer's row buffering and the DV commit's stats-patch job
    // still assumed BIGINT-or-STRING — an INT column crashed (or
    // corrupted) UPDATE and failed DELETE's patch aggregation
    val dir = graft.io.TempDirs.scratch("graft_mor_int_") + "/t"
    val iddl = "kb BIGINT, doc_id BIGINT, pop INT"
    val idf = (0L until 32L).map(i => (i % 4L, i, (i * 3 % 50).toInt))
      .toDF("kb", "doc_id", "pop")
    KeyedSource.stageKeyed(spark, idf, dir, "kb",
      sortBy = Seq("doc_id"), retain = 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.inty")
    spark.sql(s"CREATE TABLE $cat.inty (kb BIGINT, doc_id BIGINT, pop INT) " +
      s"USING `graft-keyed` LOCATION '$dir' " +
      "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='4','dmlMode'='mor')")

    // MOR UPDATE: the delta writer buffers INT values (dv + append)
    spark.sql(s"UPDATE $cat.inty SET pop = 777 WHERE doc_id % 8 = 2")
    // MOR row DELETE: the stats-patch job aggregates the INT column
    spark.sql(s"DELETE FROM $cat.inty WHERE doc_id IN (5, 13)")

    def read = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", iddl).option("key", "kb").load()
    val rows = read.collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(rows.size == 30 && rows(2L) == 777 && rows(10L) == 777 &&
      !rows.contains(5L) && !rows.contains(13L), rows)

    // metadata answers survive: min/max/sum of the INT column answer
    // from the patched sidecar with zero data files
    val agg = read.groupBy("kb").agg(
      org.apache.spark.sql.functions.max("pop"),
      org.apache.spark.sql.functions.sum("pop"))
    assert(agg.queryExecution.executedPlan.toString.contains("GraftKeyedStats"),
      agg.queryExecution.executedPlan.toString)
    val expect = idf
      .withColumn("pop", org.apache.spark.sql.functions.expr(
        "CASE WHEN doc_id % 8 = 2 THEN 777 ELSE pop END"))
      .where("doc_id NOT IN (5, 13)")
      .groupBy("kb").agg(
        org.apache.spark.sql.functions.max("pop"),
        org.apache.spark.sql.functions.sum("pop"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(agg.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
      == expect)
  }

  /** Runs each DML against a fresh merge-on-read table over `rows` and,
    * after each, checks the head view's stats (sidecars + patches)
    * against a direct aggregate of the rows it serves. */
  private def auditAfterEach(name: String, tddl: String, rows: DataFrame,
      dml: Seq[String]): Unit = {
    val dir = graft.io.TempDirs.scratch(s"graft_mor_audit_${name}_") + "/t"
    val tschema = StructType.fromDDL(tddl)
    KeyedSource.stageKeyed(spark, rows, dir, "kb", sortBy = Seq("doc_id"), retain = 8)
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"CREATE TABLE $cat.$name ($tddl) USING `graft-keyed` " +
      s"LOCATION '$dir' " +
      "TBLPROPERTIES('key'='kb','sortBy'='doc_id','retain'='8','dmlMode'='mor')")
    val hconf = spark.sessionState.newHadoopConf()
    dml.foreach { stmt =>
      spark.sql(stmt.replace("$t", s"$cat.$name"))
      val (stats, _) = KeyedStatsAudit.fromStats(spark, dir, tschema, "kb")
      val (data, _) = KeyedStatsAudit.fromRows(spark.read.format("graft-keyed")
        .option("path", dir).option("schema", tddl).option("key", "kb").load(),
        tschema, "kb")
      assert(stats == data, s"after '$stmt': stats $stats vs rows $data")
    }
    // every statement above committed deletion vectors
    assert(KeyedSource.readCommitLog(dir, hconf).get.head.dvs.nonEmpty)
  }

  test("the stats patch equals the surviving rows after MOR DELETE, UPDATE and MERGE") {
    df(64L).where($"doc_id" % 8 === 6)
      .select(($"doc_id" + 500L) % 4L as "kb", $"doc_id" + 500L as "doc_id",
        org.apache.spark.sql.functions.lit("a0") as "source", $"n_chars")
      .unionAll(df(64L).where($"doc_id" % 8 === 1)
        .select($"kb", $"doc_id", org.apache.spark.sql.functions.lit("zz") as "source",
          $"n_chars" + 900L as "n_chars"))
      .createOrReplaceTempView("mor_audit_src")
    auditAfterEach("audit", ddl, df(64L), Seq(
      "DELETE FROM $t WHERE doc_id % 5 = 1",
      "UPDATE $t SET source = 'a', n_chars = n_chars + 1000 WHERE doc_id % 7 = 2",
      """MERGE INTO $t AS t USING mor_audit_src AS s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET source = s.source, n_chars = s.n_chars
        |WHEN NOT MATCHED THEN INSERT (kb, doc_id, source, n_chars)
        |  VALUES (s.kb, s.doc_id, s.source, s.n_chars)""".stripMargin,
      // every row of kb=3 (doc_id % 4 = kb): a fully deleted key
      "DELETE FROM $t WHERE doc_id % 4 = 3"))
  }

  test("the stats patch keeps DOUBLE and FLOAT extremes exact through NaN and -0.0") {
    val fdf = (0L until 32L).map { i =>
      val d = i % 8 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 => Double.NegativeInfinity
        case _ => (i - 16L) * 1.25
      }
      (i % 4L, i, d, (if (i % 8 == 5) -0.0f else (16L - i) * 0.5f))
    }.toDF("kb", "doc_id", "score", "w")
    fdf.where($"doc_id" % 8 === 7).select($"kb", $"doc_id", -$"score" as "score",
      $"w" * 2.0f as "w").createOrReplaceTempView("mor_fp_src")
    auditAfterEach("fpaudit", "kb BIGINT, doc_id BIGINT, score DOUBLE, w FLOAT", fdf, Seq(
      // drops kb=0's NaN maxima and kb=3's -Infinity minima
      "DELETE FROM $t WHERE isnan(score) OR score < -1e300",
      "UPDATE $t SET score = CAST('NaN' AS DOUBLE), w = CAST('-0.0' AS FLOAT) " +
        "WHERE doc_id % 8 = 4",
      "UPDATE $t SET score = CAST('-0.0' AS DOUBLE) WHERE doc_id % 8 = 6",
      """MERGE INTO $t AS t USING mor_fp_src AS s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET score = s.score, w = s.w""".stripMargin,
      "DELETE FROM $t WHERE w > 5.0"))
  }
}
