package graft

import graft.sources.{PageSource, Tables}
import org.apache.spark.sql.functions._

/** The `graft-pages` DSv2 connector (sources/PageSource.scala): the
  * paged-API twin read where each staged page is one InputPartition.
  * Pins the four contracts the q50 registration leans on — byte-faithful
  * round trip, page≙partition planning, column pruning reaching the
  * reader, and the write-time framing guard failing loudly instead of
  * corrupting arity. */
class PageSourceSpec extends SparkSpec {

  private def readPages(dir: String) =
    spark.read.format("graft-pages")
      .option("path", dir)
      .option("schema", PageSource.DDL)
      .load()

  private lazy val staged = PageSource.stageDocuments(spark, sf0001, pageSize = 8L)

  test("round trip: connector read == parquet read, full schema") {
    val viaPages = readPages(staged).orderBy("doc_id").collect()
    val direct = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
    assert(viaPages.length == direct.length && viaPages.length > 0)
    assert(viaPages.sameElements(direct))
  }

  test("page = input partition: partition count equals staged page count") {
    val pageDirs = new java.io.File(staged).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("page="))
    assert(pageDirs > 1, "fixture must span multiple pages to prove the split")
    assert(readPages(staged).rdd.getNumPartitions == pageDirs)
  }

  test("column pruning reaches the reader (q50's projection)") {
    val df = readPages(staged)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"))
    // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides
    // its children from collectLeaves (same dodge as PlanAuditSpec)
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.length == 1)
    assert(scans.head.scan.readSchema().fieldNames.toSet ==
      Set("text", "source", "n_chars"),
      s"pruned read must decode exactly the referenced fields, got ${scans.head.scan.readSchema()}")
  }

  test("doc_id range predicate prunes pages at plan time, answers stay exact") {
    val filtered = readPages(staged)
      .filter(col("doc_id") >= 17L && col("doc_id") < 25L)
    // pageSize=8 ⇒ the range [17,24] spans exactly pages 2 ([16,23])
    // and 3 ([24,31]); every other page must never be planned
    assert(filtered.rdd.getNumPartitions == 2,
      "page-grain pruning must plan only key-range-intersecting pages")
    val expect = Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") >= 17L && col("doc_id") < 25L)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
    assert(expect.nonEmpty)
    // residual re-check: rows OUTSIDE the range but INSIDE surviving
    // pages (16, 25..31) are filtered exactly, not just page-pruned
    assert(filtered.orderBy("doc_id").collect().sameElements(expect))
    val scans = filtered.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.head.scan.description().contains("keyrange=[17,24]"))
  }

  test("disjoint doc_id range plans zero pages") {
    val none = readPages(staged).filter(col("doc_id") > 1000000L)
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0L)
  }

  test("disjunctions prune pages: OR of points/ranges plans the union, unknown arms widen") {
    // pageSize=8: doc_id 5 lives in page 0 ([0,7]), 100 in page 12
    // ([96,103]) — two pages, not all of them
    val or = readPages(staged)
      .filter(col("doc_id") === 5L || col("doc_id") === 100L)
    assert(or.rdd.getNumPartitions == 2,
      "OR of two points must plan exactly their two pages")
    assert(or.orderBy("doc_id").collect().map(_.getLong(0)).toSeq == Seq(5L, 100L))
    val scans = or.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.head.scan.description().contains("keyranges="),
      scans.head.scan.description())
    // IN lists prune the same way
    val in = readPages(staged).filter(col("doc_id").isin(5L, 100L))
    assert(in.rdd.getNumPartitions == 2)
    assert(in.count() == 2L)
    // OR of two BETWEENs: [17,24] spans pages 2-3, [80,83] page 10
    val betw = readPages(staged).filter(
      (col("doc_id") >= 17L && col("doc_id") <= 24L) ||
        (col("doc_id") >= 80L && col("doc_id") <= 83L))
    assert(betw.rdd.getNumPartitions == 3)
    assert(betw.count() == Tables.load(spark, sf0001, "documents")
      .filter("(doc_id BETWEEN 17 AND 24) OR (doc_id BETWEEN 80 AND 83)").count())
    // an arm the interval model cannot answer widens ITS disjunct to
    // the full line: all pages planned, residual recheck exact
    val full = readPages(staged).rdd.getNumPartitions
    val mixed = readPages(staged)
      .filter(col("doc_id") === 5L || col("lang") === "en")
    assert(mixed.rdd.getNumPartitions == full,
      "an unknown OR arm must not prune any page")
    assert(mixed.count() == Tables.load(spark, sf0001, "documents")
      .filter("doc_id = 5 OR lang = 'en'").count())
    // contradictions now prune to zero pages (the interval set goes
    // empty; the old single-envelope model read pages the residual
    // then emptied)
    val contra = readPages(staged)
      .filter(col("doc_id") === 5L && col("doc_id") === 100L)
    assert(contra.rdd.getNumPartitions == 0 && contra.count() == 0L)
  }

  test("exact doc_id predicates are FULLY consumed: no residual Filter, LIMIT composes (r16)") {
    // exact interval predicates delete the Filter node entirely — the
    // readers evaluate the consumed set per record — so the pushed
    // LIMIT is no longer structurally blocked and the per-page cap
    // counts MATCHING rows
    val q = readPages(staged)
      .filter(col("doc_id") >= 17L && col("doc_id") <= 24L)
      .limit(3)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter "),
      s"an exactly-consumed predicate must leave no residual Filter:\n$plan")
    val scans = q.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    val desc = scans.head.scan.description()
    assert(desc.contains("keyrange=[17,24]") && desc.contains("limit=3") &&
      desc.contains("exactfilter"), desc)
    // q.rdd is the post-limit single-partition RDD; the SCAN's planned
    // pages carry the pruning evidence
    assert(scans.head.scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length == 2, "page pruning still applies")
    val got = q.collect().map(_.getLong(0))
    assert(got.length == 3 && got.forall(id => id >= 17L && id <= 24L),
      s"the capped decode must emit 3 MATCHING rows, got ${got.toSeq}")
    // values stay exact without the limit
    val all = readPages(staged)
      .filter(col("doc_id").isin(5L, 100L) || col("doc_id") === 23L)
    assert(all.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(5L, 23L, 100L))
    // a mixed AND keeps only the non-key arm as residual; the doc_id
    // arm is consumed and the answer stays exact
    val mixed = readPages(staged)
      .filter(col("doc_id") <= 24L && col("lang") =!= "zz")
    val mplan = mixed.queryExecution.executedPlan.toString
    assert(mplan.contains("Filter "), "the lang arm must stay residual")
    assert(!mplan.contains("doc_id#") ||
      !mplan.split("Filter ")(1).split("\n")(0).contains("doc_id"),
      s"the doc_id arm must be consumed out of the residual:\n$mplan")
    assert(mixed.count() == Tables.load(spark, sf0001, "documents")
      .filter("doc_id <= 24 AND lang <> 'zz'").count())
  }

  test("streaming leg prunes pages by the pushed interval set per micro-batch (r16)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val schema = org.apache.spark.sql.types.StructType.fromDDL(PageSource.DDL)
    val b = new graft.sources.PageScanBuilder(schema, staged, conf)
    b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array(5L, 100L))))
    val ms = b.build().asInstanceOf[graft.sources.PageScan]
      .toMicroBatchStream(graft.io.TempDirs.scratch("graft_stream_ck_"))
      .asInstanceOf[graft.sources.PageMicroBatchStream]
    val end = ms.latestOffset(ms.initialOffset(), ReadLimit.allAvailable())
    val parts = ms.planInputPartitions(ms.initialOffset(), end)
    // pageSize=8: doc 5 → page 0, doc 100 → page 12 — two pages, not
    // the whole [start, end) interval
    assert(parts.length == 2,
      s"the stream must plan only interval-matching pages, got ${parts.length}")
    // and the unfiltered stream still plans everything
    val b2 = new graft.sources.PageScanBuilder(schema, staged, conf)
    val ms2 = b2.build().asInstanceOf[graft.sources.PageScan]
      .toMicroBatchStream(graft.io.TempDirs.scratch("graft_stream_ck2_"))
      .asInstanceOf[graft.sources.PageMicroBatchStream]
    val end2 = ms2.latestOffset(ms2.initialOffset(), ReadLimit.allAvailable())
    val all = ms2.planInputPartitions(ms2.initialOffset(), end2).length
    assert(all > 2 && all == new java.io.File(staged).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("page=")))
    // end-to-end: a filtered streaming drain equals the filtered batch
    val outDir = graft.io.TempDirs.scratch("graft_stream_flt_")
    val sq = spark.readStream.format("graft-pages")
      .option("path", staged).option("schema", PageSource.DDL).load()
      .filter(col("doc_id").isin(5L, 100L))
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination(60000)
    val streamed = spark.read.schema(schema).parquet(s"$outDir/data")
      .orderBy("doc_id").collect()
    assert(streamed.map(_.getLong(0)).toSeq == Seq(5L, 100L))
  }

  test("declared schema is required — a paged API has no footer to infer from") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-pages").option("path", staged).load()
    }
    assert(e.getMessage.contains("DECLARED schema"))
  }

  test("framing guard: control chars in a framed field fail the stage write loudly") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_pages_bad_")
    Seq((1L, "fine", "en", "web", 4L), (2L, "has\nnewline", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      PageSource.stageDocuments(spark, dir, pageSize = 8L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("framing violation")),
      s"expected the raise_error guard, got $e")
  }

  test("negative doc_id is rejected at stage time (page-pruning key contract)") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_pages_neg_")
    Seq((-3L, "txt", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] { PageSource.stageDocuments(spark, dir, 8L) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("framing violation")))
  }

  test("arity-short record fails the read loudly, not as silent empty fields") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_pages_corrupt_")
    Seq((1L, "txt", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val staged = PageSource.stageDocuments(spark, dir, 8L)
    // corrupt one record in place: drop its last field
    val page = new java.io.File(staged).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).head
    val part = page.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith(".")).head
    java.nio.file.Files.writeString(part.toPath, "9\u001Fonly\u001Ftwo\n")
    // drop the checksum sidecar or RawLocalFileSystem reports the
    // corruption as a ChecksumException before the reader sees the line
    new java.io.File(page, s".${part.getName}.crc").delete()
    val e = intercept[Exception] { readPages(staged).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("frame corruption")),
      s"expected the arity guard, got $e")
  }

  test("pushed LIMIT truncates inside the reader, not after the decode") {
    val df = readPages(staged).select("doc_id").limit(3)
    // plan: the pushed cap reaches the scan (optimizer-time rewrite)
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.length == 1 && scans.head.scan.description().contains("limit=3"),
      s"expected the pushed limit in the scan description, got ${scans.map(_.scan.description())}")
    // end-to-end: Spark's global limit still applies (partial pushdown)
    assert(df.collect().length == 3)
    // reader contract, pinned directly: a page holds pageSize=8 rows,
    // a reader capped at 3 must emit exactly 3 — the per-GET early
    // stop that makes LIMIT k O(k) decoded rows at a 10^6-page corpus
    val pageDir = new java.io.File(staged).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("page=")).head.toString
    val full = org.apache.spark.sql.types.StructType.fromDDL(PageSource.DDL)
    val factory = new graft.sources.PageReaderFactory(full, full,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()), limit = 3)
    val reader = factory.createReader(graft.sources.PagePartition(pageDir))
    var n = 0
    while (reader.next()) n += 1
    reader.close()
    assert(n == 3, s"capped reader must stop at the pushed limit, emitted $n")
  }

  test("bare count(*) swaps to the line-count scan — zero field decode") {
    val df = readPages(staged).agg(count(lit(1)).as("n_docs"))
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.length == 1 && scans.head.scan.description().contains("agg=count(*)"),
      s"expected PageCountScan, got ${scans.map(_.scan.description())}")
    assert(scans.head.scan.readSchema().length == 1,
      "count scan must read the single partial-count column, no data fields")
    val expect = Tables.load(spark, sf0001, "documents").count()
    assert(df.collect().head.getLong(0) == expect && expect > 0)
  }

  test("count(*) pushdown refused when a filter or grouping is present (lossy page grain)") {
    // filtered count: page pruning is lossy (residual re-check), so the
    // count MUST ride the row scan — a pushed count would tally rows
    // the residual filter drops
    val filtered = readPages(staged)
      .filter(col("doc_id") >= 17L && col("doc_id") < 25L)
      .agg(count(lit(1)).as("n"))
    val fScans = filtered.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(fScans.forall(!_.scan.description().contains("agg=count(*)")))
    val expect = Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") >= 17L && col("doc_id") < 25L).count()
    assert(filtered.collect().head.getLong(0) == expect && expect > 0)
    // grouped count: in-reader grouping is not offered; row scan again
    val grouped = readPages(staged).groupBy("source").agg(count(lit(1)).as("n"))
    val gScans = grouped.queryExecution.sparkPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(gScans.forall(!_.scan.description().contains("agg=count(*)")))
  }

  test("empty-string fields keep arity through the frame (limit -1 split)") {
    import spark.implicits._
    val dir = graft.io.TempDirs.scratch("graft_pages_empty_")
    Seq((1L, "", "en", "", 0L), (2L, "text", "de", "books", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = readPages(PageSource.stageDocuments(spark, dir, pageSize = 8L))
      .orderBy("doc_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq ==
      Seq((1L, "", "en", "", 0L), (2L, "text", "de", "books", 4L)))
  }

  test("count(*) refused at the BUILDER under an unrecognized filter (sawFilters leg)") {
    // A filter the builder doesn't understand (lang = 'en') leaves
    // accepted/lo/hi untouched — before r13 the builder-level guard
    // would have accepted the count pushdown and safety rested solely
    // on Spark's structural residual-Filter rule. Drive the builder
    // directly to pin the refusal at OUR layer, not Spark's.
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    val full = org.apache.spark.sql.types.StructType.fromDDL(PageSource.DDL)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val b = new graft.sources.PageScanBuilder(full, staged, conf)
    val residual = b.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("lang", "en")))
    assert(residual.length == 1 && b.pushedFilters().isEmpty,
      "lang filter must be fully residual — nothing accepted")
    val bare = new Aggregation(Array(new CountStar), Array.empty)
    assert(!b.pushAggregation(bare),
      "count(*) must be refused once ANY filter was seen, accepted or not")
    // control: a fresh builder with no filters accepts the same aggregation
    val clean = new graft.sources.PageScanBuilder(full, staged, conf)
    assert(clean.pushAggregation(bare))
    // end-to-end: the planned query rides the row scan
    val df = readPages(staged).filter(col("lang") === "en")
      .agg(count(lit(1)).as("n"))
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s }
    assert(scans.forall(!_.scan.description().contains("agg=count(*)")))
    val expect = Tables.load(spark, sf0001, "documents")
      .filter(col("lang") === "en").count()
    assert(df.collect().head.getLong(0) == expect && expect > 0)
  }

  test("count(*) over an EMPTY layout answers 0, not NULL (sentinel partial)") {
    // Zero page= subdirs ⇒ zero partial rows ⇒ Spark's sum-of-partials
    // rewrite would yield NULL where the row scan answers 0; the
    // sentinel partition keeps the two scan paths convergent.
    val dir = graft.io.TempDirs.scratch("graft_pages_none_") + "/pages"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    val df = readPages(dir).agg(count(lit(1)).as("n"))
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s }
    assert(scans.length == 1 && scans.head.scan.description().contains("agg=count(*)"),
      "the pushdown itself still happens — the sentinel is a planning concern")
    val row = df.collect().head
    assert(!row.isNullAt(0) && row.getLong(0) == 0L,
      s"empty-layout pushed count must be 0, got $row")
  }
}
