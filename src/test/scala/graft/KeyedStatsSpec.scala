package graft

import graft.sources.{KeyedSource, KeyedStats}
import org.apache.spark.sql.functions._

/** Metadata-answered aggregates on `graft-keyed`
  * (sources/KeyedStats.scala): COUNT/MIN/MAX/SUM served from the
  * `_graft_keyed_stats` sidecar stageKeyed writes from the COMMITTED
  * layout — zero data files opened. Pins the pushdown legs (bare,
  * grouped-by-key, composed with pushed key filters), exact parity
  * with the fallback data scan on every leg, the zero-survivor
  * sentinel, every refusal leg (residual filter, non-key grouping,
  * unsupported aggregate, missing/mismatched sidecar), and loud
  * failure on sidecar body corruption. */
class KeyedStatsSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"

  private def stage(): String = {
    val df = (0L until 96L).map(i =>
        (i % 8L, i, s"src_${(i % 5L)}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")
    KeyedSource.stageKeyed(spark, df,
      graft.io.TempDirs.scratch("graft_kstats_") + "/docs", "kb")
  }
  private lazy val staged = stage()

  private def readKeyed(dir: String = staged) =
    spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb").load()

  private def statsScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .filter(_.scan.description().contains("GraftKeyedStats"))

  private def grouped(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("kb").agg(count(lit(1)).as("n"), min("n_chars").as("lo"),
      max("n_chars").as("hi"), sum("n_chars").as("s"),
      min("source").as("first_src"), max("doc_id").as("last_doc"))
      .orderBy("kb")

  test("stageKeyed writes the sidecar; parsed entries equal a direct computation") {
    val sidecar = KeyedStats.read(KeyedSource.committedRoot(spark, staged),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()),
      org.apache.spark.sql.types.StructType.fromDDL(ddl), "kb").get
    val entries = sidecar.entries
    assert(entries.length == 8)
    val direct = readKeyed().filter(col("kb") === 3L)
      .agg(count(lit(1)), min("n_chars").cast("string"),
        max("n_chars").cast("string"), sum("n_chars")).collect().head
    val e3 = entries.find(_.rawKey == "3").get
    assert(e3.count == direct.getLong(0))
    assert(e3.mins(3) == direct.getString(1) && e3.maxs(3) == direct.getString(2))
    assert(e3.sums(3) == direct.getLong(3))
    // the v2 table line: total count exact, per-column NDV exact below
    // the sketch size (96 rows, 8/96/5/? distincts — all < K)
    val t = sidecar.table.get
    assert(t.count == 96L)
    assert(t.ndvs(0) == 8L, s"kb NDV: ${t.ndvs(0)}")
    assert(t.ndvs(1) == 96L, s"doc_id NDV: ${t.ndvs(1)}")
    assert(t.ndvs(2) == 5L, s"source NDV: ${t.ndvs(2)}")
  }

  test("grouped count/min/max/sum plans the stats scan: zero data files opened") {
    val q = grouped(readKeyed())
    val scans = statsScans(q)
    assert(scans.length == 1, s"expected GraftKeyedStats, got\n${q.queryExecution.sparkPlan}")
    assert(scans.head.scan.description().contains("zero data files"))
    // parity against the fallback (sidecar deleted ⇒ ordinary scan)
    val noSidecar = stripSidecar(stage())
    assert(grouped(readKeyed(noSidecar)).collect()
      .sameElements(q.collect()))
  }

  test("bare aggregates push too, and count(col) ≡ count(*) on the no-null layout") {
    val q = readKeyed().agg(count(lit(1)).as("n"), count(col("source")).as("nc"),
      min("doc_id").as("lo"), max("doc_id").as("hi"), sum("n_chars").as("s"))
    assert(statsScans(q).length == 1)
    val r = q.collect().head
    val noSidecar = stripSidecar(stage())
    val f = readKeyed(noSidecar).agg(count(lit(1)), count(col("source")),
      min("doc_id"), max("doc_id"), sum("n_chars")).collect().head
    assert(r == f && r.getLong(0) == 96L && r.getLong(1) == 96L)
  }

  test("pushed key filter prunes sidecar entries: 3 of 8, values exact") {
    val q = grouped(readKeyed().filter(col("kb").isin(2L, 3L, 7L)))
    val scans = statsScans(q)
    assert(scans.length == 1 && scans.head.scan.description().contains("entries=3"),
      s"expected 3 surviving sidecar entries, got ${scans.map(_.scan.description())}")
    val noSidecar = stripSidecar(stage())
    assert(q.collect().sameElements(
      grouped(readKeyed(noSidecar).filter(col("kb").isin(2L, 3L, 7L))).collect()))
  }

  test("zero-survivor sentinel: bare aggregate over a missed key answers 0/NULL like the data scan") {
    val agg = (d: org.apache.spark.sql.DataFrame) => d.filter(col("kb") === 99L)
      .agg(count(lit(1)).as("n"), min("n_chars").as("lo"), sum("n_chars").as("s"))
    val q = agg(readKeyed())
    assert(statsScans(q).nonEmpty)
    val r = q.collect().head
    assert(!r.isNullAt(0) && r.getLong(0) == 0L && r.isNullAt(1) && r.isNullAt(2))
    val f = agg(readKeyed(stripSidecar(stage()))).collect().head
    assert(r == f)
    // grouped form over a miss: zero rows, like the data scan
    assert(grouped(readKeyed().filter(col("kb") === 99L)).collect().isEmpty)
  }

  test("refusal legs: residual filter, non-key grouping, unsupported aggregate") {
    // non-key filter survives as residual ⇒ metadata cannot answer
    val residual = readKeyed().filter(col("source") === "src_2")
      .agg(count(lit(1)).as("n"))
    assert(statsScans(residual).isEmpty)
    assert(residual.collect().head.getLong(0) ==
      readKeyed(stripSidecar(stage())).filter(col("source") === "src_2").count())
    // grouping by a non-key column ⇒ per-directory stats don't apply
    val byDim = readKeyed().groupBy("source").agg(count(lit(1)).as("n"))
    assert(statsScans(byDim).isEmpty)
    // AVG pushes DECOMPOSED: Spark rewrites it to sum/count under
    // partial pushdown, both of which the sidecar answers — so avg is
    // metadata-answerable too, exactly (integer sum and count merge
    // losslessly; the division happens once, in the final project)
    val a = readKeyed().agg(avg("n_chars").as("a"))
    assert(statsScans(a).nonEmpty,
      "avg must ride the sidecar via Spark's sum/count decomposition")
    assert(a.collect().head.getDouble(0) ==
      readKeyed(stripSidecar(stage())).agg(avg("n_chars")).collect().head.getDouble(0))
    // DISTINCT is not stats-answerable
    assert(statsScans(readKeyed().agg(countDistinct("source").as("d"))).isEmpty)
  }

  test("foreign layouts refuse: missing sidecar and mismatched header both fall back") {
    val noSidecar = stripSidecar(stage())
    assert(statsScans(grouped(readKeyed(noSidecar))).isEmpty,
      "no sidecar ⇒ no metadata answer, data scan plans")
    // doctored header (schema drift): refuse, don't guess — the
    // doctoring aims at the COMMITTED generation (committedRoot), the
    // only place the connector's metadata lives since the r15 WAP write
    val doctored = stage()
    val p = java.nio.file.Path.of(
      KeyedSource.committedRoot(spark, doctored), KeyedStats.SidecarFile)
    val body = java.nio.file.Files.readString(p)
    java.nio.file.Files.writeString(p,
      body.replaceFirst("kb BIGINT", "kb STRING"))
    val crc = new java.io.File(KeyedSource.committedRoot(spark, doctored),
      s".${KeyedStats.SidecarFile}.crc")
    if (crc.exists()) crc.delete()
    assert(statsScans(grouped(readKeyed(doctored))).isEmpty,
      "header/schema mismatch ⇒ sidecar untrusted, data scan plans")
    assert(grouped(readKeyed(doctored)).collect()
      .sameElements(grouped(readKeyed()).collect()))
  }

  test("sidecar body corruption fails loudly — this file belongs to the connector") {
    val dir = stage()
    val p = java.nio.file.Path.of(
      KeyedSource.committedRoot(spark, dir), KeyedStats.SidecarFile)
    val lines = java.nio.file.Files.readString(p).split("\n")
    java.nio.file.Files.writeString(p,
      (lines.head +: lines.tail.map(_.takeWhile(_ != '\u001F'))).mkString("\n"))
    val crc = new java.io.File(KeyedSource.committedRoot(spark, dir),
      s".${KeyedStats.SidecarFile}.crc")
    if (crc.exists()) crc.delete()
    val e = intercept[Exception] { grouped(readKeyed(dir)).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("stats sidecar corrupted")),
      s"expected the loud sidecar arity guard, got $e")
  }

  test("re-stage refreshes the stats: the sidecar answers the NEW layout") {
    val dir = graft.io.TempDirs.scratch("graft_kstats_restage_") + "/docs"
    def df(n: Long) = (0L until n).map(i => (i % 4L, i, s"s${i % 3L}", i * 2L))
      .toDF("kb", "doc_id", "source", "n_chars")
    KeyedSource.stageKeyed(spark, df(40L), dir, "kb")
    val first = readKeyed(dir).agg(count(lit(1)), max("doc_id")).collect().head
    assert(first.getLong(0) == 40L && first.getLong(1) == 39L)
    KeyedSource.stageKeyed(spark, df(52L), dir, "kb")
    val q = readKeyed(dir).agg(count(lit(1)), max("doc_id"))
    assert(statsScans(q).nonEmpty)
    val second = q.collect().head
    assert(second.getLong(0) == 52L && second.getLong(1) == 51L)
  }

  test("string-keyed layouts: grouped stats answer with UTF8String group keys") {
    val dir = graft.io.TempDirs.scratch("graft_kstats_str_") + "/docs"
    val df = (0L until 48L).map(i => (s"key_${i % 4L}", i, (i * 5L) % 53L))
      .toDF("kc", "doc_id", "n_chars")
    KeyedSource.stageKeyed(spark, df, dir, "kc")
    def read() = spark.read.format("graft-keyed").option("path", dir)
      .option("schema", "kc STRING, doc_id BIGINT, n_chars BIGINT")
      .option("key", "kc").load()
    val q = read().filter(col("kc").isin("key_1", "key_3"))
      .groupBy("kc").agg(count(lit(1)).as("n"), min("doc_id").as("lo"),
        max("n_chars").as("hi"), sum("n_chars").as("s"),
        max("kc").as("kmax")) // string min/max through the sidecar too
      .orderBy("kc")
    val scans = statsScans(q)
    assert(scans.length == 1 && scans.head.scan.description().contains("entries=2"),
      s"string-key pushdown + pruning must ride the sidecar, got ${scans.map(_.scan.description())}")
    val got = q.collect()
    val root = KeyedSource.committedRoot(spark, dir)
    val f = new java.io.File(root, KeyedStats.SidecarFile)
    f.delete(); new java.io.File(root, s".${KeyedStats.SidecarFile}.crc").delete()
    assert(got.sameElements(read().filter(col("kc").isin("key_1", "key_3"))
      .groupBy("kc").agg(count(lit(1)).as("n"), min("doc_id").as("lo"),
        max("n_chars").as("hi"), sum("n_chars").as("s"), max("kc").as("kmax"))
      .orderBy("kc").collect()))
    assert(got.length == 2 && got.head.getString(0) == "key_1")
  }

  /** Copy of a staged layout minus its sidecar — the fallback twin.
    * The sidecar lives in the COMMITTED generation (r15 WAP write). */
  test("table NDV survives DML: per-generation KMV sketches merge on edited views (r19)") {
    val dir = graft.io.TempDirs.scratch("graft_kndv_") + "/t"
    val df = (0L until 96L).map(i =>
        (i % 8L, i, s"src_${i % 5L}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")
    KeyedSource.stageKeyed(spark, df, dir, "kb", retain = 4)
    spark.conf.set("spark.sql.catalog.gndv",
      classOf[graft.sources.GraftCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS gndv.t")
    spark.sql(
      s"""CREATE TABLE gndv.t (kb BIGINT, doc_id BIGINT, source STRING,
         |n_chars BIGINT) USING `graft-keyed` LOCATION '$dir'
         |TBLPROPERTIES('key'='kb','retain'='4')""".stripMargin)
    // copy-on-write UPDATE: rewritten keys are served from a NEW
    // generation — the exact state readView used to drop NDV on
    spark.sql("UPDATE gndv.t SET n_chars = n_chars + 1000 WHERE doc_id % 7 = 1")

    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val view = KeyedSource.resolveView(dir, spark.sessionState.newHadoopConf(), None)
    assert(view.edits.nonEmpty, "the UPDATE must have produced edits")
    val sc = KeyedStats.readView(view, conf, schema, "kb").get
    val t = sc.table.getOrElse(fail("edited view must still carry table NDV"))
    assert(t.count == 96L)
    // sketch-union semantics: kb/doc_id/source distincts unchanged by
    // the update (exact below K); n_chars gains the rewritten values —
    // an upper bound of the live distinct count, never below it
    assert(t.ndvs(0) == 8L, s"kb NDV: ${t.ndvs(0)}")
    assert(t.ndvs(1) == 96L, s"doc_id NDV: ${t.ndvs(1)}")
    assert(t.ndvs(2) == 5L, s"source NDV: ${t.ndvs(2)}")
    // the union covers the serving generations' FILES: live values
    // plus the base copies of rewritten rows (sketches cannot
    // subtract) — exact below K, an upper bound of live NDV
    val liveNdv = readKeyed(dir).select("n_chars").distinct().count()
    val unionNdv = df.select("n_chars")
      .union(df.where("doc_id % 7 = 1").selectExpr("n_chars + 1000"))
      .distinct().count()
    assert(t.ndvs(3) == unionNdv && t.ndvs(3) >= liveNdv,
      s"n_chars NDV ${t.ndvs(3)} vs union $unionNdv / live $liveNdv")

    // the q59-shape consumer: the edited view still reports COLUMN
    // statistics to the planner (distinctCount present), so CBO-side
    // cardinality estimation keeps its inputs after an UPDATE
    val scan = readKeyed(dir).queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 96L)
    assert(!stats.columnStats().isEmpty,
      "edited view must keep reporting column statistics")

    // pre-r19 layouts degrade gracefully: strip one serving
    // generation's sketch file ⇒ NDV refuses (None), nothing breaks
    val editGen = view.edits.valuesIterator.flatten.toSeq.head
    val f = new java.io.File(view.genRoot(editGen), KeyedStats.NdvFile)
    assert(f.exists() && f.delete())
    new java.io.File(view.genRoot(editGen), s".${KeyedStats.NdvFile}.crc").delete()
    val sc2 = KeyedStats.readView(view, conf, schema, "kb").get
    assert(sc2.table.isEmpty, "a missing sketch must refuse NDV, not guess")
    assert(sc2.entries.map(_.count).sum == 96L)
  }

  private def stripSidecar(dir: String): String = {
    val root = KeyedSource.committedRoot(spark, dir)
    val f = new java.io.File(root, KeyedStats.SidecarFile)
    assert(f.exists(), "fixture must have been staged with a sidecar")
    f.delete()
    val crc = new java.io.File(root, s".${KeyedStats.SidecarFile}.crc")
    if (crc.exists()) crc.delete()
    dir
  }
}
