package graft

import graft.sources.{KeyedSource, PageSource, Tables}
import org.apache.spark.sql.functions._

/** The frame decode ([[graft.sources.PageReader]]) — the one reader of
  * the US-framed files behind both `graft-pages` and `graft-keyed`.
  * Pins (1) exact parity with the parquet source of truth, in full and
  * under pruning and reorder, (2) the contract legs of the frame
  * format — arity corruption fails loudly, trailing empty fields keep
  * arity, multi-byte UTF-8 survives, pushed LIMIT caps the per-page
  * decode, zero-column reads still count rows — and (3) that the
  * keyed SPJ and the pages count/prune pushdowns compose with it. The
  * test names date from a removed columnar twin of this decoder; the
  * legs they name are the ones both decoders shared. */
class VectorizedReadSpec extends SparkSpec {

  private def readPages(dir: String) =
    spark.read.format("graft-pages")
      .option("path", dir)
      .option("schema", PageSource.DDL)
      .load()

  private lazy val staged = PageSource.stageDocuments(spark, sf0001, pageSize = 8L)

  private def batchScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }

  test("parity: columnar == row decode == parquet, full schema") {
    val viaFrames = readPages(staged).orderBy("doc_id").collect()
    val direct = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
    assert(viaFrames.length == direct.length && direct.length > 0)
    assert(viaFrames.sameElements(direct))
  }

  test("parity under column pruning and projection reorder") {
    // required schema ORDER differs from the frame's field order —
    // the srcIdx indirection must hold
    val sel = Seq("n_chars", "doc_id", "lang")
    val viaFrames = readPages(staged).select(sel.map(col): _*)
      .orderBy("doc_id").collect()
    val direct = Tables.load(spark, sf0001, "documents").select(sel.map(col): _*)
      .orderBy("doc_id").collect()
    assert(viaFrames.sameElements(direct))
    // and the pruning still reaches the scan
    val scans = batchScans(readPages(staged).select(sel.map(col): _*))
    assert(scans.head.scan.readSchema().fieldNames.toSet == sel.toSet)
  }

  test("empty fields — including a record whose LAST field is empty — keep arity") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_vec_empty_")
    // source="" puts an empty field mid-record; a crafted frame below
    // pins the empty-LAST-field case the split contract protects
    Seq((1L, "", "en", "", 0L), (2L, "text", "de", "books", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val st = PageSource.stageDocuments(spark, dir, pageSize = 8L)
    val got = readPages(st).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, "", "en", "", 0L), (2L, "text", "de", "books", 4L)))
    // empty LAST field: schema where the final column is the empty one
    val ddl = "doc_id BIGINT, text STRING"
    val page = new java.io.File(st).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).head
    val part = page.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith(".")).head
    java.nio.file.Files.writeString(part.toPath, "7\n8x\n")
    new java.io.File(page, s".${part.getName}.crc").delete()
    val two = spark.read.format("graft-pages").option("path", st)
      .option("schema", ddl).load().orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(two.toSeq == Seq((7L, ""), (8L, "x")))
  }

  test("multi-byte UTF-8 text survives the byte-level decode intact") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_vec_utf8_")
    val t1 = "naïve 日本語 😀 tail"
    val t2 = "über-straße"
    Seq((1L, t1, "ja", "web", t1.length.toLong), (2L, t2, "de", "web", t2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val st = PageSource.stageDocuments(spark, dir, pageSize = 8L)
    val got = readPages(st).orderBy("doc_id").select("text").as[String].collect()
    assert(got.toSeq == Seq(t1, t2))
  }

  test("arity corruption fails the columnar read loudly, same contract as the row path") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_vec_corrupt_")
    Seq((1L, "txt", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val st = PageSource.stageDocuments(spark, dir, 8L)
    val page = new java.io.File(st).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).head
    val part = page.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith(".")).head
    java.nio.file.Files.writeString(part.toPath, "9onlytwo\n")
    new java.io.File(page, s".${part.getName}.crc").delete()
    val e = intercept[Exception] { readPages(st).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("frame corruption")),
      s"expected the arity guard, got $e")
  }

  test("pushed LIMIT caps the columnar decode per page (direct reader contract)") {
    val full = org.apache.spark.sql.types.StructType.fromDDL(PageSource.DDL)
    val pageDir = new java.io.File(staged).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).head.toString
    val factory = new graft.sources.PageReaderFactory(full, full,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), limit = 3)
    val reader = factory.createReader(graft.sources.PagePartition(pageDir))
    var n = 0L
    while (reader.next()) n += 1
    reader.close()
    assert(n == 3, s"capped reader must decode exactly the pushed limit, got $n")
    // end-to-end through the planner, values right
    assert(readPages(staged).select("doc_id").limit(3).collect().length == 3)
  }

  test("graft-keyed rides the same columnar decode; SPJ stays exchange-free") {
    import spark.implicits._
    val left = (0L until 64L).map(i => (i % 4L, i, i * 3L))
      .toDF("kb", "doc_id", "n_chars")
    val dirL = KeyedSource.stageKeyed(spark, left,
      graft.io.TempDirs.scratch("graft_vec_keyed_") + "/L", "kb")
    def readKeyed() =
      spark.read.format("graft-keyed").option("path", dirL)
        .option("schema", "kb BIGINT, doc_id BIGINT, n_chars BIGINT")
        .option("key", "kb").load()
    assert(readKeyed().orderBy("doc_id").collect()
      .sameElements(left.orderBy("doc_id").collect()))
    // the SPJ report is orthogonal to the decode: a co-keyed self-join
    // still plans zero Exchange
    val bucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val requireAll = spark.conf.getOption("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      // the q54 shape: co-keyed join FIRST (aggregates directly on a
      // keyed read would push to the stats sidecar instead — the
      // KeyedStatsSpec surface, deliberately not this test's)
      val left = readKeyed()
      val right = readKeyed().withColumnRenamed("n_chars", "n2")
      val joined = left.hint("merge").join(right.hint("merge"), Seq("kb", "doc_id"))
        .groupBy("kb").agg(sum("n_chars").as("s"), sum("n2").as("s2"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"keyed scan must keep the SPJ alignment, got $exchanges")
      assert(joined.collect().length == 4)
    } finally {
      bucketing.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        v => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v))
      requireAll.fold(spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition"))(
        v => spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", v))
    }
  }

  test("zero-column batches: a read pruned to NO fields still delivers row counts") {
    // pushed LIMIT blocks the count fast path, so the row count rides
    // the ordinary scan with EVERY column pruned away — the reader
    // must deliver counted, field-less rows
    assert(readPages(staged).limit(5).count() == 5L)
    // same shape via a literal projection over the full corpus
    val ones = readPages(staged).select(lit(1).as("one"))
    assert(ones.collect().forall(_.getInt(0) == 1))
  }

  test("count(*) pushdown and page pruning are untouched by the decode flag") {
    val counted = readPages(staged).agg(count(lit(1)).as("n"))
    assert(batchScans(counted).head.scan.description().contains("agg=count(*)"))
    val pruned = readPages(staged).filter(col("doc_id") >= 17L && col("doc_id") < 25L)
    assert(pruned.rdd.getNumPartitions == 2)
    val expect = Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") >= 17L && col("doc_id") < 25L)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
    assert(pruned.orderBy("doc_id").collect().sameElements(expect))
  }
}
