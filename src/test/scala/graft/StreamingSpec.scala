package graft

import graft.streaming.EventStream
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Streaming surface (ST2–ST5): checkpointed exactly-once file ingest,
  * watermark-bounded dedup, and the hourly rollup whose batch twin is
  * q19 — all driven with Trigger.AvailableNow against temp dirs. */
class StreamingSpec extends SparkSpec {

  private val eventsFile = Paths.get(s"$sf0001/events.parquet")

  private def tmp(name: String): String =
    graft.io.TempDirs.scratch(s"graft-$name")

  /** The single part-file of a one-partition staged write, with the
    * directory stream CLOSED (Files.list leaks the handle if only
    * consumed via toArray). */
  private def firstParquet(stage: String): java.nio.file.Path = {
    val s = Files.list(Paths.get(stage))
    try s.toArray.map(_.toString).map(Paths.get(_))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  test("dedup ingest: duplicate deliveries collapse, second run is incremental") {
    val src = tmp("stream-src"); val out = tmp("stream-out"); val ckpt = tmp("stream-ckpt")
    // the same file delivered twice = every event duplicated
    Files.copy(eventsFile, Paths.get(src, "events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(eventsFile, Paths.get(src, "events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDistinct = spark.read.parquet(s"$src/events_a.parquet")
      .select("event_id").distinct().count()

    EventStream.dedupIngest(spark, src, ckpt, out).awaitTermination()
    val afterFirst = spark.read.parquet(out)
    assert(afterFirst.count() == batchDistinct)
    assert(afterFirst.select("event_id").distinct().count() == batchDistinct)

    // new arrivals only: fresh event_ids AND event times ahead of the
    // checkpointed watermark (re-delivering the old window would be
    // correctly dropped as late — that's the ST4 semantics). Re-run
    // with the same checkpoint: processed files are not re-read
    // (exactly-once), only the new file lands.
    val stage = tmp("stream-stage")
    spark.read.parquet(s"$src/events_a.parquet")
      .withColumn("event_id", col("event_id") + 1000000L)
      // interval arithmetic works on every stored ts generation
      // (nanos-Long would need a raw-long shift; the current MICROS-NTZ
      // and any future LTZ generation both take intervals directly)
      .withColumn("ts", col("ts") + expr("INTERVAL 60 DAYS"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = firstParquet(stage)
    Files.copy(part, Paths.get(src, "events_c.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.dedupIngest(spark, src, ckpt, out).awaitTermination()
    val afterSecond = spark.read.parquet(out)
    assert(afterSecond.count() == batchDistinct * 2)
    assert(afterSecond.select("event_id").distinct().count() == batchDistinct * 2)
  }

  test("mapGroupsWithState: per-user state accumulates across restarts") {
    val src = tmp("state-src"); val out = tmp("state-out"); val ckpt = tmp("state-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val perUserBatch = spark.read.parquet(s"$src/events_a.parquet")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    EventStream.userRunningState(spark, src, ckpt, out).awaitTermination()
    val afterFirst = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(afterFirst == perUserBatch)

    // same events re-delivered as a new file: state (not dedup) doubles
    // every user's running count — proves the store survived the restart
    Files.copy(eventsFile, Paths.get(src, "events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.userRunningState(spark, src, ckpt, out).awaitTermination()
    val afterSecond = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(afterSecond == perUserBatch.map { case (k, v) => k -> v * 2 })
  }

  test("flatMapGroupsWithState sessionizer emits exactly the q24 sessions a successor closed") {
    val src = tmp("fsess-src"); val out = tmp("fsess-out"); val ckpt = tmp("fsess-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.closedSessions(spark, src, ckpt, out).awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // batch truth: q24's sessions, minus the sessions STILL OPEN at the
    // final watermark — AvailableNow runs a trailing no-data microbatch
    // in which the event-time timeout closes every session whose gap
    // boundary the watermark (= global max event time) has passed, so
    // the only retained sessions are those of users whose last event
    // lies within the gap of the stream's end
    val gapMicros = 30L * 60 * 1000000
    // the generation-detecting loader, not a raw read: ts arrives as
    // TimestampType micros whatever the stored type (the raw
    // cast-to-timestamp form would silently misread the retired
    // nanos-Long generation as SECONDS); the copied stream file is
    // this same table
    val raw = graft.sources.Tables.load(spark, sf0001, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"))
      .groupBy("user_id").agg(max("tsm").as("last"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wm = raw.values.max
    val stillOpen = raw.filter { case (_, t) => t + gapMicros >= wm }.keySet
    val batch = SparkEntry.queries("q24_session_windows")(spark, sf0001)
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(1).toInstant.toEpochMilli * 1000 +
          (r.getTimestamp(1).getNanos / 1000) % 1000,
        r.getLong(2), r.getDouble(3)))
    val openSessions = batch.groupBy(_._1).collect {
      case (u, ss) if stillOpen(u) => ss.maxBy(_._2)
    }.toSet
    assert(streamed == batch.toSet -- openSessions,
      s"streamed ${streamed.size} vs batch-closed ${(batch.toSet -- openSessions).size}")
    assert(streamed.nonEmpty && openSessions.nonEmpty)
  }

  test("session rollup equals the q24 batch twin") {
    val src = tmp("sess-src"); val out = tmp("sess-out"); val ckpt = tmp("sess-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.sessionRollup(spark, src, ckpt, out).awaitTermination()
    val streamed = spark.read.parquet(out)
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val batch = SparkEntry.queries("q24_session_windows")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("corpus dedup ingest: re-crawled content emits once, across restarts") {
    val src = tmp("corpus-src"); val out = tmp("corpus-out"); val ckpt = tmp("corpus-ckpt")
    val docsFile = Paths.get(s"$sf0001/documents.parquet")
    Files.copy(docsFile, Paths.get(src, "crawl_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val distinctTexts = spark.read.parquet(s"$src/crawl_a.parquet")
      .select("text").distinct().count()

    EventStream.corpusDedupIngest(spark, src, ckpt, out).awaitTermination()
    val afterFirst = spark.read.parquet(out)
    assert(afterFirst.count() == distinctTexts)
    assert(afterFirst.select("fp").distinct().count() == distinctTexts)

    // second crawl: the whole first drop again (all dups) plus one
    // genuinely new document — only the new one may land, proving the
    // fingerprint store survived the restart
    val stage = tmp("corpus-stage")
    spark.read.parquet(s"$src/crawl_a.parquet").limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" entirely new tail")))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = firstParquet(stage)
    Files.copy(docsFile, Paths.get(src, "crawl_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(part, Paths.get(src, "crawl_c.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.corpusDedupIngest(spark, src, ckpt, out).awaitTermination()
    val afterSecond = spark.read.parquet(out)
    assert(afterSecond.count() == distinctTexts + 1)
    assert(afterSecond.select("fp").distinct().count() == distinctTexts + 1)

    // third crawl, AFTER compaction and with a FRESH checkpoint — the
    // state store is empty (models fingerprints aging past the state
    // horizon), so any cross-crawl dedup must come from the compacted
    // fingerprint table alone. Re-deliver everything published so far
    // plus one genuinely new doc into a new release dir: only the new
    // doc may land.
    val fpDir = tmp("corpus-fp") + "/fps"
    EventStream.compactCorpusFingerprints(spark, out, fpDir)
    assert(spark.read.parquet(fpDir).select("fp").distinct().count()
      == distinctTexts + 1)

    val src2 = tmp("corpus-src2"); val out2 = tmp("corpus-out2")
    val ckpt2 = tmp("corpus-ckpt2")
    Files.copy(docsFile, Paths.get(src2, "crawl_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(part, Paths.get(src2, "crawl_c.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stage2 = tmp("corpus-stage2")
    spark.read.parquet(s"$src/crawl_a.parquet").limit(1)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" second new tail")))
      .coalesce(1).write.mode("overwrite").parquet(stage2)
    val part2 = firstParquet(stage2)
    Files.copy(part2, Paths.get(src2, "crawl_d.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.corpusDedupIngest(spark, src2, ckpt2, out2, Some(fpDir))
      .awaitTermination()
    val release2 = spark.read.parquet(out2)
    assert(release2.count() == 1, "compacted-tier dedup must drop every re-crawled doc")
    assert(release2.select("text").head().getString(0).endsWith(" second new tail"))
  }

  test("quality-gate monitor equals the x52 batch gate and accumulates across drains") {
    val src = tmp("qgate-src"); val out = tmp("qgate-out"); val ckpt = tmp("qgate-ckpt")
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      Paths.get(src, "crawl_a.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.qualityGateMonitor(spark, src, ckpt, out).awaitTermination()
    def snapshot() = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    // the monitor's counts must be exactly the oracle-checked batch
    // gate aggregated — same rule definition, same decisions
    val batch = SparkEntry.queries("x52_gopher_rules")(spark, sf0001)
      .join(graft.sources.Tables.load(spark, sf0001, "documents")
        .select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "keep").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(snapshot() == batch)

    // a second crawl drop of the same content: the MONITOR counts every
    // arrival (it gates, it does not dedup — that's corpusDedupIngest's
    // job), and the checkpointed state carries the first drain's counts
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      Paths.get(src, "crawl_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.qualityGateMonitor(spark, src, ckpt, out).awaitTermination()
    assert(snapshot() == batch.map { case (k, v) => k -> v * 2 },
      "second drain must add, not replace — aggregation state survives the restart")
  }

  test("recency monitor composed with Decay.ewma equals the x59 batch twin") {
    val src = tmp("rec-src"); val out = tmp("rec-out"); val ckpt = tmp("rec-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.recencyMonitor(spark, src, ckpt, out).awaitTermination()

    // the monitor keeps only the (day, n) table; the shared decay
    // definition applied to its snapshot must reproduce the
    // oracle-checked batch query exactly — same taps, same integer math
    val streamed = graft.functions.Decay.ewma(spark.read.parquet(out))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val batch = SparkEntry.queries("x59_ewma")(spark, sf0001)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream interval join equals its batch twin (purchase attribution)") {
    val src = tmp("attr-src"); val out = tmp("attr-out"); val ckpt = tmp("attr-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.purchaseAttribution(spark, src, ckpt, out).awaitTermination()

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), r.getTimestamp(4), r.getDouble(5))).toSet
    val streamed = canon(spark.read.parquet(out))
    // batch twin: the SAME shared expressions over the static frame
    val batch = canon(EventStream.purchaseAttributionOf(
      graft.sources.Tables.load(spark, sf0001, "events")))
    assert(streamed.nonEmpty, "the 30-day event pile must produce view->purchase matches")
    assert(streamed == batch,
      s"stream-stream join must emit exactly the batch join rows (${streamed.size} vs ${batch.size})")
  }

  test("left-outer stream-stream join: matches + watermark-evicted null rows only") {
    val src = tmp("attro-src"); val out = tmp("attro-out"); val ckpt = tmp("attro-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.purchaseAttributionOuter(spark, src, ckpt, out).awaitTermination()

    val streamed = spark.read.parquet(out)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        Option(r.getTimestamp(4)).map(_.toString).getOrElse(""),
        r.getDouble(5))).toSet
    val events = graft.sources.Tables.load(spark, sf0001, "events")
    // MATCH path: identical to the inner twin — outer-ness must not
    // add, drop, or duplicate any matched row
    val matchedStream = key(streamed.filter(col("view_id").isNotNull))
    val matchedBatch = key(EventStream.purchaseAttributionOf(events))
    assert(matchedStream == matchedBatch,
      s"outer join's matched rows must equal the inner join (${matchedStream.size} vs ${matchedBatch.size})")
    // NULL path: exactly the batch left-outer's unmatched purchases
    // whose state the FINAL watermark evicted. Spark generates outer
    // null results with a delay of watermark delay PLUS the time-range
    // width (the engine keeps a left row until the watermark clears its
    // whole match interval, not just p_ts): eviction horizon =
    // max event time - 1 h (delay) - 1 h (interval). The un-evicted
    // tail is PENDING, not emitted — that deferral is the semantic
    // under test (verified empirically: the 21:39 purchase inside the
    // 2 h tail of the 30-day pile is withheld; everything earlier
    // emits).
    val wmCut = events.agg(max(col("ts")) - expr("INTERVAL 2 HOURS")).collect()(0).getTimestamp(0)
    val nullStream = key(streamed.filter(col("view_id").isNull))
    val outerBatch = EventStream.purchaseAttributionOuterOf(events)
    val nullBatchEvicted = key(outerBatch
      .filter(col("view_id").isNull && col("p_ts") < lit(wmCut)))
    assert(nullStream.nonEmpty, "the 30-day pile must contain view-less purchases")
    assert(nullStream == nullBatchEvicted,
      s"null rows must be exactly the evicted unmatched purchases (${nullStream.size} vs ${nullBatchEvicted.size})")
    // and the deferral is real: the batch twin unrestricted should
    // carry at least as many null rows as the evicted subset
    val nullBatchAll = key(outerBatch.filter(col("view_id").isNull))
    assert(nullBatchEvicted.subsetOf(nullBatchAll))
  }

  test("full-outer stream-stream join: matches + both orphan directions on their own horizons") {
    val src = tmp("attrf-src"); val out = tmp("attrf-out"); val ckpt = tmp("attrf-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.purchaseAttributionFull(spark, src, ckpt, out).awaitTermination()

    val streamed = spark.read.parquet(out)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1),
        Option(r.getTimestamp(2)).map(_.toString).getOrElse(""),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        Option(r.getTimestamp(4)).map(_.toString).getOrElse(""),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5))).toSet
    val events = graft.sources.Tables.load(spark, sf0001, "events")
    val outerBatch = EventStream.purchaseAttributionFullOf(events)
    // match rows: exactly the inner join, as in the left-outer spec
    assert(key(streamed.filter(col("view_id").isNotNull && col("purchase_id").isNotNull))
      == key(EventStream.purchaseAttributionOf(events)))
    // purchase orphans: evicted on the left horizon (delay + width past
    // p_ts) — same boundary the left-outer spec pins
    val wmP = events.agg(max(col("ts")) - expr("INTERVAL 2 HOURS")).collect()(0).getTimestamp(0)
    assert(key(streamed.filter(col("view_id").isNull))
      == key(outerBatch.filter(col("view_id").isNull && col("p_ts") < lit(wmP))),
      "purchase-orphan rows must be exactly the left-evicted set")
    // view orphans: the symmetric horizon past v_ts (a view can match
    // purchases up to v_ts + 1 h, so delay + width past v_ts)
    val vNull = key(streamed.filter(col("purchase_id").isNull))
    val vBatch = key(outerBatch.filter(col("purchase_id").isNull &&
      col("v_ts") < lit(wmP)))
    assert(vNull.nonEmpty, "the 30-day pile must contain purchase-less views")
    assert(vNull == vBatch,
      s"view-orphan rows must be exactly the right-evicted set (${vNull.size} vs ${vBatch.size})")
  }

  test("streamed IVF append equals the batch x74 index and is restart-durable") {
    import graft.operators.LlmData
    val src = tmp("ivfapp-src"); val ckpt = tmp("ivfapp-ckpt")
    val streamTbl = "graft_ivf_stream_append"
    val refTbl = "graft_ivf_stream_ref"
    try {
      // the new-batch slice (vec_id % 10 == 7) delivered as TWO files =
      // two micro-batches under maxFilesPerTrigger=1
      val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
      val newRows = e.filter(pmod(col("vec_id"), lit(10)) === 7)
      newRows.repartition(2).write.mode("overwrite").parquet(src)
      val nNew = newRows.count()

      // identical base index for both sides (frozen hist quantizer)
      LlmData.ivfWriteBaseIndex(spark, sf0001, streamTbl)
      LlmData.ivfWriteBaseIndex(spark, sf0001, refTbl)
      val baseCount = spark.table(streamTbl).count()

      // batch reference: the exact x74 append
      graft.io.Bucketing.appendBucketed(
        LlmData.ivfAppendBatch(spark, sf0001), refTbl, "cid", 16, sorted = false)

      // streamed twin: two checkpointed micro-batches through the
      // same frozen-quantizer assignment
      EventStream.ivfStreamingAppend(spark, src, ckpt, streamTbl,
        LlmData.ivfFrozenAssign(spark, sf0001)).awaitTermination()

      def asSet(tbl: String) = spark.table(tbl).select("vec_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(spark.table(streamTbl).count() == baseCount + nNew,
        "both micro-batches must land exactly once")
      assert(asSet(streamTbl) == asSet(refTbl),
        "streamed append must produce the identical (vec_id, cid) index as batch x74")

      // restart with the SAME checkpoint: committed offsets mean no
      // batch is re-read, so nothing is appended again
      EventStream.ivfStreamingAppend(spark, src, ckpt, streamTbl,
        LlmData.ivfFrozenAssign(spark, sf0001)).awaitTermination()
      assert(spark.table(streamTbl).count() == baseCount + nNew,
        "a restarted drain must not re-append committed batches")

      // the append preserved the bucketed layout: a cid-keyed consumer
      // still plans zero Exchange over the streamed-into table
      val p = graft.io.Bucketing.table(spark, streamTbl)
        .groupBy("cid").agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"streamed appends must keep the zero-Exchange layout, got:\n${p.take(1500)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $streamTbl")
      spark.sql(s"DROP TABLE IF EXISTS $refTbl")
    }
  }

  test("compact(dedupBy) heals a double-append on the plain batch-maintenance path") {
    import graft.operators.LlmData
    // The plain appendBucketed path (the BATCH maintenance story —
    // incIvf/incPq builds) has no per-batch transaction; an operator
    // re-running an append doubles the rows. compact(dedupBy) remains
    // the heal for that path (the STREAMING path no longer needs it:
    // publishBucketedBatch is exactly-once by construction, pinned in
    // the crash-window test below).
    val healTbl = "graft_ivf_heal"
    val refTbl = "graft_ivf_heal_ref"
    try {
      val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
      val newRows = e.filter(pmod(col("vec_id"), lit(10)) === 7)
      val nNew = newRows.count()

      LlmData.ivfWriteBaseIndex(spark, sf0001, healTbl)
      LlmData.ivfWriteBaseIndex(spark, sf0001, refTbl)
      val baseCount = spark.table(healTbl).count()
      graft.io.Bucketing.appendBucketed(
        LlmData.ivfAppendBatch(spark, sf0001), refTbl, "cid", 16, sorted = false)

      // clean append, then the injected duplicate append
      graft.io.Bucketing.appendBucketed(
        LlmData.ivfFrozenAssign(spark, sf0001)(newRows), healTbl, "cid", 16,
        sorted = false)
      graft.io.Bucketing.appendBucketed(
        LlmData.ivfFrozenAssign(spark, sf0001)(newRows), healTbl, "cid", 16,
        sorted = false)
      spark.catalog.refreshTable(healTbl)
      assert(spark.table(healTbl).count() == baseCount + 2 * nNew,
        "the injected replay must double-append the batch (the failure being healed)")

      graft.io.Bucketing.compact(spark, healTbl, "cid", 16, sorted = false,
        dedupBy = Seq("vec_id"))

      def asSet(tbl: String) = spark.table(tbl).select("vec_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(spark.table(healTbl).count() == baseCount + nNew,
        "the heal must drop exactly the replayed copies")
      assert(asSet(healTbl) == asSet(refTbl),
        "the healed index must equal the batch x74 append exactly")
      // heal keeps the maintenance contract: one file per OCCUPIED
      // bucket (bucket id = pmod(hash(cid), 16), the writer's own
      // assignment) and zero-Exchange cid-keyed consumers
      val occupied = spark.table(healTbl)
        .select(pmod(hash(col("cid")), lit(16)).as("b")).distinct().count()
      assert(spark.table(healTbl).inputFiles.length == occupied,
        "the healing rewrite must also compact to one file per occupied bucket")
      val p = graft.io.Bucketing.table(spark, healTbl)
        .groupBy("cid").agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"the healed table must keep the zero-Exchange layout, got:\n${p.take(1500)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $healTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${healTbl}__compacting")
      spark.sql(s"DROP TABLE IF EXISTS $refTbl")
    }
  }

  test("write-audit-publish: a writer killed between stage and publish never exposes a partial or doubled batch") {
    import graft.operators.LlmData
    // r10 verdict #4: the streaming append's crash window is PREVENTED,
    // not healed. The failpoint seam kills the real delivery code at
    // the two crash boundaries — after the audited stage write
    // ("staged") and after the atomic rename ("renamed") — and the
    // index must expose nothing until the replay completes the
    // publish, then exactly the batch, never twice.
    val tbl = "graft_ivf_txn"
    val refTbl = "graft_ivf_txn_ref"
    try {
      val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
      val newRows = e.filter(pmod(col("vec_id"), lit(10)) === 7)
      val nNew = newRows.count()
      LlmData.ivfWriteBaseIndex(spark, sf0001, tbl)
      LlmData.ivfWriteBaseIndex(spark, sf0001, refTbl)
      graft.io.Bucketing.appendBucketed(
        LlmData.ivfAppendBatch(spark, sf0001), refTbl, "cid", 16, sorted = false)
      val preMigration = spark.table(tbl).count()
      graft.io.Bucketing.ensureIngestLayout(spark, tbl, "cid", 16)
      graft.io.Bucketing.ensureIngestLayout(spark, tbl, "cid", 16) // idempotent
      val baseCount = spark.table(tbl).count()
      assert(baseCount == preMigration,
        "ingest-layout migration must preserve every base row")
      val assigned = LlmData.ivfFrozenAssign(spark, sf0001)(newRows)

      def killAt(point: String, batchId: Long, df: org.apache.spark.sql.DataFrame,
          visible: Long): Unit = {
        val ex = intercept[RuntimeException] {
          graft.io.Bucketing.publishBucketedBatch(spark, df, tbl, "cid", 16,
            batchId, failpoint = p => if (p == point) sys.error(s"killed at $p"))
        }
        assert(ex.getMessage.contains("killed"))
        spark.catalog.refreshTable(tbl)
        assert(spark.table(tbl).count() == visible,
          s"a writer killed at '$point' must expose nothing of batch $batchId")
      }

      // crash BEFORE the rename: the staged files are invisible, and a
      // second crash over the stale stage is the same clean state
      killAt("staged", 0L, assigned, baseCount)
      killAt("staged", 0L, assigned, baseCount)
      // the replayed delivery completes exactly once…
      assert(graft.io.Bucketing.publishBucketedBatch(spark, assigned, tbl, "cid", 16, 0L))
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).count() == baseCount + nNew)
      // …and a redelivery of the same batch id is a no-op
      assert(!graft.io.Bucketing.publishBucketedBatch(spark, assigned, tbl, "cid", 16, 0L))
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).count() == baseCount + nNew,
        "a replayed batch must never double-append")

      // the delivered index equals the batch x74 append payload-exactly
      def asSet(t: String) = spark.table(t).select("vec_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(asSet(tbl) == asSet(refTbl),
        "transactional delivery must produce the identical index as the batch append")

      // crash AFTER the atomic rename, BEFORE registration: the fully
      // renamed generation is still invisible (registration is the
      // visibility atom); the replay only registers — exactly once
      val slice2 = e.filter(pmod(col("vec_id"), lit(10)) === 3)
      val assigned2 = LlmData.ivfFrozenAssign(spark, sf0001)(slice2)
      val n2 = slice2.count()
      killAt("renamed", 1L, assigned2, baseCount + nNew)
      assert(!graft.io.Bucketing.publishBucketedBatch(spark, assigned2, tbl, "cid", 16, 1L))
      spark.catalog.refreshTable(tbl)
      assert(spark.table(tbl).count() == baseCount + nNew + n2,
        "the replay must surface the renamed-but-unregistered generation exactly once")

      // zero-Exchange cid-keyed consumers survive the ingest layout
      val p = graft.io.Bucketing.table(spark, tbl)
        .groupBy("cid").agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true") && !p.contains("Exchange"),
        s"ingest layout must keep the zero-Exchange bucketed plan, got:\n${p.take(1500)}")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}__compacting")
      spark.sql(s"DROP TABLE IF EXISTS $refTbl")
    }
  }

  test("streaming decontamination gate equals the batch bloom prefilter, across restarts") {
    import graft.operators.LlmData
    val src = tmp("decontam-src"); val ckpt = tmp("decontam-ckpt")
    val out = tmp("decontam-out")
    // arrivals: the corpus delivered as TWO files = two micro-batches
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    // frozen eval-set bloom, built in batch by the ONE shared builder
    val (bench, _) = LlmData.decontamSides(spark, sf0001)
    val bloom = LlmData.decontamBloom(bench)
    EventStream.decontamGate(spark, src, ckpt, bloom, out).awaitTermination()
    val streamed = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch twin of the gate: the same shared staging + suspect predicate
    val batch = LlmData.withShingles(docs)
      .filter(LlmData.bloomSuspect(bloom))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(out).count() == batch.size.toLong,
      "both micro-batches must land exactly once, without duplicate suspects")
    assert(streamed == batch, "the gate must equal its batch twin exactly")
    // no false negatives: every doc x39 flags must surface as a suspect
    val flagged = SparkEntry.queries("x39_decontamination")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty && flagged.subsetOf(streamed),
      "every truly contaminated doc must pass the gate")
    // restart with the SAME checkpoint: committed offsets, no re-emit
    EventStream.decontamGate(spark, src, ckpt, bloom, out).awaitTermination()
    assert(spark.read.parquet(out).count() == batch.size.toLong,
      "a restarted drain must not re-emit committed batches")
  }

  test("quality-drift gate scores each batch like the batch twin, across restarts") {
    import graft.operators.LlmData
    val src = tmp("qdrift-src"); val out = tmp("qdrift-out"); val ckpt = tmp("qdrift-ckpt")
    val docsFile = Paths.get(s"$sf0001/documents.parquet")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")

    // the frozen corpus reference — dimension-sized (≤ 11 bins), the
    // same driver-bound collect class as the trained centroids
    val cs = LlmData.sourceBinCounts(docs)
    val refBins = cs.groupBy("bin").agg(sum("c").as("cb")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val refTotal = cs.agg(sum("c")).collect()(0).getLong(0)

    def triple(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // batch 0 = the whole corpus: reference derives from the same
    // docs, so the gate's scores must equal the registered x88 exactly
    Files.copy(docsFile, Paths.get(src, "drop_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.qualityDriftGate(spark, src, ckpt, out, refBins, refTotal)
      .awaitTermination()
    val first = spark.read.parquet(out)
    assert(first.select("batch_id").distinct().count() == 1)
    assert(triple(first.select("source", "n_docs", "drift"))
      == triple(SparkEntry.queries("x88_source_quality_drift")(spark, sf0001)))

    // batch 1 = a single-source slice: scored against the SAME frozen
    // reference — must match the shared helper applied batch-side
    // (this pins the foreachBatch wiring; the drift math itself is
    // pinned by x88's oracle + the independent-fold invariant)
    val oneSource = docs.select("source").orderBy("source").head().getString(0)
    val slice = docs.filter(col("source") === oneSource)
    val stage = tmp("qdrift-stage")
    slice.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = firstParquet(stage)
    Files.copy(part, Paths.get(src, "drop_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.qualityDriftGate(spark, src, ckpt, out, refBins, refTotal)
      .awaitTermination()
    val second = spark.read.parquet(out).filter(col("batch_id") === 1)
    import spark.implicits._
    val expected = LlmData.sourceDriftAgainst(
      LlmData.sourceBinCounts(slice),
      refBins.toDF("bin", "cb"), Seq(refTotal).toDF("t"))
    assert(triple(second.select("source", "n_docs", "drift")) == triple(expected))
    assert(second.count() == 1, "a single-source batch scores one source")

    // restart with nothing new: committed offsets + the idempotence
    // marker mean no additional rows
    val before = spark.read.parquet(out).count()
    EventStream.qualityDriftGate(spark, src, ckpt, out, refBins, refTotal)
      .awaitTermination()
    assert(spark.read.parquet(out).count() == before)
  }

  test("mixture-drift gate scores each batch like x93, across restarts") {
    import graft.operators.LlmData
    val src = tmp("mdrift-src"); val out = tmp("mdrift-out"); val ckpt = tmp("mdrift-ckpt")
    val docsFile = Paths.get(s"$sf0001/documents.parquet")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")

    def row5(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    // batch 0 = the whole corpus: gate output ≡ the registered x93
    Files.copy(docsFile, Paths.get(src, "drop_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    EventStream.mixtureDriftGate(spark, src, ckpt, out).awaitTermination()
    val cols = Seq("lang", "n_docs", "share_micro", "w_micro", "drift_micro")
    assert(row5(spark.read.parquet(out).select(cols.map(col): _*))
      == row5(SparkEntry.queries("x93_mixture_drift")(spark, sf0001)))

    // batch 1 = a single-lang slice: 100% share for it, and every
    // OTHER target language must still surface with its whole target
    // as drift — a planned language vanishing is the failure the
    // seeded scorer exists to report
    val oneLang = docs.select("lang").orderBy("lang").head().getString(0)
    val slice = docs.filter(col("lang") === oneLang)
    val stage = tmp("mdrift-stage")
    slice.coalesce(1).write.mode("overwrite").parquet(stage)
    Files.copy(firstParquet(stage), Paths.get(src, "drop_b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.mixtureDriftGate(spark, src, ckpt, out).awaitTermination()
    val second = spark.read.parquet(out).filter(col("batch_id") === 1)
    assert(row5(second.select(cols.map(col): _*))
      == row5(LlmData.mixtureShareDrift(slice)))
    assert(second.filter(col("lang") === oneLang)
      .head().getAs[Long]("share_micro") == 1000000L,
      "a single-lang batch is 100% that lang")
    val vanished = second.filter(col("lang") =!= oneLang).collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("w_micro"),
        r.getAs[Long]("drift_micro")))
    assert(vanished.nonEmpty, "the other mixture targets must still report")
    assert(vanished.forall { case (nd, w, d) => nd == 0L && d == w },
      "a vanished target's drift is its entire target share")

    // restart with nothing new appends nothing
    val before = spark.read.parquet(out).count()
    EventStream.mixtureDriftGate(spark, src, ckpt, out).awaitTermination()
    assert(spark.read.parquet(out).count() == before)

    // twin-equality across the restart (the corpusDedupIngest pin,
    // applied to the gate): the two micro-batches were delivered
    // across a stop/restart pair, and the per-batch outputs must be
    // SUFFICIENT STATISTICS for the batch twin on the union — folding
    // per-lang n_docs over all batches and replaying x93's integer
    // share/drift arithmetic must reproduce mixtureShareDrift on the
    // union corpus exactly. (A gate whose restart lost or re-scored a
    // batch would fold to the wrong counts; a gate whose per-batch
    // rows weren't the full seeded scorer would lose vanished-target
    // rows from the fold.)
    val folded = spark.read.parquet(out)
      .groupBy("lang")
      .agg(sum("n_docs").as("n_docs"), max("w_micro").as("w_micro"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val foldedTotal = folded.map(_._2).sum
    val reconstructed = folded.map { case (lang, n, w) =>
      val share = n * 1000000L / math.max(foldedTotal, 1L)
      (lang, n, share, w, math.abs(share - w))
    }.toSet
    val unionTwin = LlmData.mixtureShareDrift(docs.unionByName(slice))
    assert(row5(unionTwin) == reconstructed,
      "per-batch gate outputs must fold to the batch x93 on the union delivery")
  }

  test("near-dup ingest gate verdicts each batch via the x101 probe, across restarts") {
    import graft.operators.LlmData
    import spark.implicits._
    val src = tmp("ndgate-src"); val out = tmp("ndgate-out"); val ckpt = tmp("ndgate-ckpt")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    // a corpus doc long enough that appending one novel token keeps
    // the distinct-3-shingle Jaccard (m/(m+1)) above the 0.8 confirm bar
    val donor = docs.filter(size(split(col("text"), " ")) >= 30)
      .orderBy("doc_id").select("text").head().getString(0)
    val exactCopy = (900001L, donor, "en", "src_stream", donor.length.toLong)
    val nearCopy = (900002L, donor + " zzzqx", "en", "src_stream",
      (donor.length + 6).toLong)
    val fresh = (900003L, "qq1 ww2 ee3 rr4 tt5 yy6 uu7 ii8 oo9 pp0 aa1 ss2",
      "en", "src_stream", 47L)
    def drop(name: String, rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val stage = tmp(s"ndgate-stage-$name")
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      Files.copy(firstParquet(stage), Paths.get(src, s"drop_$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    drop("a", Seq(exactCopy, nearCopy, fresh))
    EventStream.nearDupIngestGate(spark, src, ckpt, out, sf0001).awaitTermination()
    def verdicts(batchId: Long) = spark.read.parquet(out)
      .filter(col("batch_id") === batchId)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(verdicts(0) == Map(900001L -> "exact_dup", 900002L -> "near_dup",
      900003L -> "new"),
      "exact corpus copy, one-token edit, and novel doc must verdict apart")
    // restart with a second file: a new fresh doc plus a COPY of batch
    // A's fresh doc — the index is FROZEN (growth is the documented
    // append+compact maintenance path), so the copy verdicts 'new'
    val fresh2 = (900004L, "mm1 nn2 bb3 vv4 cc5 xx6 zz7 ll8 kk9 jj0 hh1 gg2",
      "en", "src_stream", 47L)
    val freshCopy = (900005L, fresh._2, "en", "src_stream", fresh._5)
    drop("b", Seq(fresh2, freshCopy))
    EventStream.nearDupIngestGate(spark, src, ckpt, out, sf0001).awaitTermination()
    assert(verdicts(1) == Map(900004L -> "new", 900005L -> "new"),
      "frozen-index semantics: intra-stream dups are maintenance's job, not the gate's")
    // idle restart appends nothing
    val before = spark.read.parquet(out).count()
    EventStream.nearDupIngestGate(spark, src, ckpt, out, sf0001).awaitTermination()
    assert(spark.read.parquet(out).count() == before)
    // one-definition equality: folding the per-batch verdict logs must
    // equal the batch probe over the union delivery
    val union = Seq(exactCopy, nearCopy, fresh, fresh2, freshCopy)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (fpT, bandT, sigT) = LlmData.fullDedupIndexTables(spark, sf0001)
    val twin = LlmData.indexProbeVerdicts(spark, union,
      LlmData.hashedSignatures(union), fpT, bandT, sigT)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((verdicts(0) ++ verdicts(1)) == twin,
      "gate verdicts must equal the batch probe on the union")
  }

  test("domain-budget gate: x111 equality on one batch, stateful caps across batches") {
    import spark.implicits._
    // out nested in a scratch root: the gate writes its `<out>-sums`
    // summaries as a SIBLING of out, which must be cleaned up too
    val src = tmp("dbg-src"); val out = s"${tmp("dbg-out")}/out"; val ckpt = tmp("dbg-ckpt")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    // batch A: the whole corpus in ONE file — the gate's admitted set
    // must equal the registered x111 kept set exactly (one definition
    // of the draw order, continued from empty priors)
    val stageA = tmp("dbg-stage-a")
    docs.coalesce(1).write.mode("overwrite").parquet(stageA)
    Files.copy(firstParquet(stageA), Paths.get(src, "drop_a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.domainBudgetGate(spark, src, ckpt, out, sf0001).awaitTermination()
    val x111 = SparkEntry.queries("x111_domain_cap")(spark, sf0001).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    val cap = x111.head._2._3
    val admA = spark.read.parquet(out)
      .filter(col("batch_id") === 0 && col("admitted"))
      .groupBy("source").agg(count(lit(1)).as("kd"), sum("nt").as("kt"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    x111.foreach { case (s2, (_, _, _, kd, kt)) =>
      assert(admA.getOrElse(s2, (0L, 0L)) == ((kd, kt)),
        s"$s2: gate one-batch admission must equal registered x111")
    }
    // batch B after a restart: a doc that fits an uncapped source's
    // remaining budget is admitted; a 300-token doc to a capped source
    // cannot fit (kept is within one document of cap) and is rejected
    val srcOpen = x111.find { case (_, (_, st, _, _, kt)) =>
      kt == st && cap - st >= 5 }.get._1
    val (srcFull, fullKept) = x111.collectFirst {
      case (s2, (_, st, _, _, kt)) if kt < st => (s2, kt) }.get
    val dAdmit = (920001L, Seq.fill(5)("tok").mkString(" "), "en", srcOpen, 24L)
    // sized off the MEASURED remaining budget, not a fixture-dependent
    // constant: any doc bigger than cap - kept must be rejected
    val rejTokens = (cap - fullKept + 10).toInt
    val dRej = (920002L, Seq.fill(rejTokens)("tok").mkString(" "), "en", srcFull,
      (rejTokens * 4).toLong)
    val stageB = tmp("dbg-stage-b")
    Seq(dAdmit, dRej).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stageB)
    Files.copy(firstParquet(stageB), Paths.get(src, "drop_b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.domainBudgetGate(spark, src, ckpt, out, sf0001).awaitTermination()
    val vB = spark.read.parquet(out).filter(col("batch_id") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted")).toMap
    assert(vB == Map(920001L -> true, 920002L -> false),
      s"remaining-budget admission and over-budget rejection must verdict apart: $vB")
    // the caps hold across the whole stream, per source
    spark.read.parquet(out).filter(col("admitted"))
      .groupBy("source").agg(sum("nt").as("t")).collect().foreach { r =>
      assert(r.getLong(1) <= cap,
        s"${r.getString(0)}: cross-batch admitted ${r.getLong(1)} > cap $cap")
    }
    // idle restart appends nothing
    val before = spark.read.parquet(out).count()
    EventStream.domainBudgetGate(spark, src, ckpt, out, sf0001).awaitTermination()
    assert(spark.read.parquet(out).count() == before)
  }

  test("DSIR score gate weights each batch with the frozen corpus ratio table") {
    import graft.operators.LlmData
    import spark.implicits._
    val src = tmp("dsir-src"); val out = tmp("dsir-out"); val ckpt = tmp("dsir-ckpt")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    // batch A: real corpus rows (their stream scores must equal their
    // batch x98-pipeline scores — same model, same arithmetic)
    val sampleFile = tmp("dsir-stage-a")
    val sample = docs.orderBy("doc_id").limit(20)
    sample.coalesce(1).write.mode("overwrite").parquet(sampleFile)
    Files.copy(firstParquet(sampleFile), Paths.get(src, "drop_a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.dsirScoreGate(spark, src, ckpt, out, sf0001).awaitTermination()
    def scores(batchId: Long) = spark.read.parquet(out)
      .filter(col("batch_id") === batchId)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("score_milli")))).toMap
    val ratio = LlmData.dsirRatioTable(spark, sf0001)
    val twinA = LlmData.dsirScore(sample, ratio)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(scores(0) == twinA,
      "stream scores must equal the batch scorer under the same frozen model")
    // batch B after a restart: NOVEL tokens mostly hash into buckets
    // the frozen model never observed — the out-of-vocabulary case the
    // registered query can't produce. Every token must still be
    // COUNTED (n_tokens = 8; the inner-join formulation silently
    // dropped OOV tokens — this batch found that), unseen buckets
    // contribute neutral 0, and the stream must equal the batch
    // scorer on this doc too
    val novelDf = Seq((910001L, "zq1x zq2x zq3x zq4x zq5x zq6x zq7x zq8x",
      "zz", "src_stream", 39L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stage = tmp("dsir-stage-b")
    novelDf.coalesce(1).write.mode("overwrite").parquet(stage)
    Files.copy(firstParquet(stage), Paths.get(src, "drop_b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.dsirScoreGate(spark, src, ckpt, out, sf0001).awaitTermination()
    val b = scores(1)(910001L)
    assert(b._2 == 8L,
      "all eight novel tokens must be counted — OOV buckets score neutral, not dropped")
    val twinB = LlmData.dsirScore(novelDf, ratio)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(scores(1) == twinB,
      "stream and batch scorer must agree on the OOV doc")
    // idle restart appends nothing
    val before = spark.read.parquet(out).count()
    EventStream.dsirScoreGate(spark, src, ckpt, out, sf0001).awaitTermination()
    assert(spark.read.parquet(out).count() == before)
  }

  test("BM25 serve gate scores batches under the frozen corpus model and floor") {
    import graft.operators.LlmData
    import spark.implicits._
    val src = tmp("bm25-src"); val out = tmp("bm25-out"); val ckpt = tmp("bm25-ckpt")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    // batch A: real corpus rows — stream scores must equal the batch
    // scorer under the same frozen model (x104's df table + scalars)
    val sample = docs.orderBy("doc_id").limit(20)
    val stageA = tmp("bm25-stage-a")
    sample.coalesce(1).write.mode("overwrite").parquet(stageA)
    Files.copy(firstParquet(stageA), Paths.get(src, "drop_a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.bm25ServeGate(spark, src, ckpt, out, sf0001).awaitTermination()
    def rows(batchId: Long) = spark.read.parquet(out)
      .filter(col("batch_id") === batchId)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_hit"), r.getAs[Long]("bm25_micro"),
          r.getAs[Boolean]("enters_topk")))).toMap
    val twinA = LlmData.bm25ServeScore(spark, sample, sf0001)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows(0) == twinA,
      "stream rows must equal the batch serve scorer on the same docs")
    // the triage verdict folds from the registered x104 slate: a doc
    // scores in iff it meets the frozen top-20's minimum
    val floor = SparkEntry.queries("x104_bm25_topk")(spark, sf0001)
      .collect().map(_.getLong(2)).min
    rows(0).foreach { case (id, (_, score, enters)) =>
      assert(enters == (score >= floor),
        s"doc $id: enters_topk must triage against the frozen floor")
    }
    // batch B after a restart: a short doc saturated with query terms
    // must beat the floor (BM25 length normalization), and a doc with
    // no query term is scored 0 by definition and NOT emitted
    val planted = (920001L,
      "spark join window stream vector customer spark join window stream vector customer",
      "en", "src_stream", 82L)
    val noHit = (920002L, "pebble quartz granite shale", "en", "src_stream", 27L)
    val bDf = Seq(planted, noHit)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stageB = tmp("bm25-stage-b")
    bDf.coalesce(1).write.mode("overwrite").parquet(stageB)
    Files.copy(firstParquet(stageB), Paths.get(src, "drop_b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.bm25ServeGate(spark, src, ckpt, out, sf0001).awaitTermination()
    val b = rows(1)
    assert(b.keySet == Set(920001L), "no-hit docs are not emitted")
    assert(b(920001L)._1 == 6L, "all six query terms hit the planted doc")
    assert(b(920001L)._3, "the saturated short doc must enter the frozen top-k")
    val twinB = LlmData.bm25ServeScore(spark, bDf, sf0001)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(b == twinB, "stream and batch scorer must agree on batch B")
    // idle restart appends nothing
    val before = spark.read.parquet(out).count()
    EventStream.bm25ServeGate(spark, src, ckpt, out, sf0001).awaitTermination()
    assert(spark.read.parquet(out).count() == before)
  }

  test("BM25 serve floor: an under-filled corpus slate admits every scoring arrival") {
    import graft.operators.LlmData
    import spark.implicits._
    // Corpus with only 3 docs matching any query term: the frozen
    // top-20 slate cannot fill, so the admission floor must collapse to
    // MinValue — an index refresh would surface ANY scoring arrival.
    // This is the guard for the r11 under-filled-slate fix
    // (bm25FrozenServe's n_slate < k branch): a plain min() floor
    // regression would reject the weak arrival below (and NULL-3VL the
    // verdict on an empty slate).
    val dir = tmp("bm25-tiny-corpus")
    Seq(
      (0L, "spark join window stream vector customer", "en", "anchor", 40L),
      (1L, "spark spark join analytics", "en", "src_a", 26L),
      (2L, "window stream pipeline", "en", "src_a", 22L),
      (3L, "customer vector report", "en", "src_b", 22L),
      (4L, "granite pebble shale quartz", "en", "src_b", 27L),
      (5L, "alpha beta gamma delta epsilon", "en", "src_b", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val slate = LlmData.bm25TopK(spark, dir, 20).collect()
    assert(slate.length == 3, s"fixture: slate must under-fill, got ${slate.length}")
    val minCorpus = slate.map(_.getLong(2)).min
    // the weak arrival: ONE query-term hit diluted across a long
    // document — BM25 length normalization puts it strictly below
    // every corpus doc, so only the collapsed floor admits it
    val weak = Seq((900001L,
      "spark " + Seq.tabulate(60)(i => s"w$i").mkString(" "),
      "en", "src_stream", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val served = LlmData.bm25FrozenServe(spark, dir)(weak).collect()
    assert(served.length == 1)
    assert(served.head.getAs[Long]("bm25_micro") < minCorpus,
      "fixture: the arrival must score below the weakest corpus doc or this test proves nothing")
    assert(served.head.getAs[Boolean]("enters_topk"),
      "under-filled slate: every scoring arrival must admit — a min() floor rejects this doc")
  }

  test("BM25 serve gate scores a doc_id-0 arrival (corpus staging filter must not leak into serve)") {
    import graft.operators.LlmData
    import spark.implicits._
    // The corpus staging excludes ITS OWN id-0 query-anchor row — a
    // corpus concern. The serve path must score every arriving doc,
    // id 0 included: the r11 fix moved the filter from bm25Tf (shared
    // by serve batches) up into bm25Staged (corpus-only); this pins
    // the placement end-to-end through the streaming gate.
    val src = tmp("bm25-zero-src"); val out = tmp("bm25-zero-out")
    val ckpt = tmp("bm25-zero-ckpt")
    val batch = Seq(
      (0L, "spark join window customer", "en", "src_stream", 26L),
      (7L, "stream vector", "en", "src_stream", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stage = tmp("bm25-zero-stage")
    batch.coalesce(1).write.mode("overwrite").parquet(stage)
    Files.copy(firstParquet(stage), Paths.get(src, "drop_a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.bm25ServeGate(spark, src, ckpt, out, sf0001).awaitTermination()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Long]("bm25_micro"),
          r.getAs[Boolean]("enters_topk"))).toMap
    assert(rows.contains(0L), "doc_id 0 must score on the serve path")
    assert(rows(0L)._1 == 4L, "all four query terms must hit the id-0 arrival")
    assert(rows.contains(7L))
    // and the gate agrees with the batch serve twin on every row
    val twin = LlmData.bm25ServeScore(spark, batch, sf0001)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows == twin, "stream and batch scorer must agree, id-0 row included")
  }

  test("streamed PQ code append equals the batch x75 table and is restart-durable") {
    // the PQ half of the streamed maintenance loop: same delivery
    // contract as the IVF test above, different payload (frozen-
    // codebook ENCODE, vec_id-bucketed code table)
    import graft.operators.{Curation, LlmData}
    val src = tmp("pqapp-src"); val ckpt = tmp("pqapp-ckpt")
    val streamTbl = "graft_pq_stream_append"
    val refTbl = "graft_pq_stream_ref"
    try {
      val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
      val newRows = e.filter(pmod(col("vec_id"), lit(10)) === 7)
      newRows.repartition(2).write.mode("overwrite").parquet(src)
      val nNew = newRows.count()

      Curation.pqWriteBaseIndex(spark, sf0001, streamTbl)
      Curation.pqWriteBaseIndex(spark, sf0001, refTbl)
      val baseCount = spark.table(streamTbl).count()

      graft.io.Bucketing.appendBucketed(
        Curation.pqAppendBatch(spark, sf0001), refTbl, "vec_id", 8, sorted = false)

      EventStream.ivfStreamingAppend(spark, src, ckpt, streamTbl,
        Curation.pqFrozenEncode(spark, sf0001),
        key = "vec_id", buckets = 8).awaitTermination()

      def asMap(tbl: String) = spark.table(tbl)
        .select(col("vec_id"), col("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(spark.table(streamTbl).count() == baseCount + nNew,
        "both micro-batches must land exactly once")
      assert(asMap(streamTbl) == asMap(refTbl),
        "streamed encode must produce the identical code table as batch x75")

      EventStream.ivfStreamingAppend(spark, src, ckpt, streamTbl,
        Curation.pqFrozenEncode(spark, sf0001),
        key = "vec_id", buckets = 8).awaitTermination()
      assert(spark.table(streamTbl).count() == baseCount + nNew,
        "a restarted drain must not re-append committed batches")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $streamTbl")
      spark.sql(s"DROP TABLE IF EXISTS $refTbl")
    }
  }

  test("paged-endpoint incremental ingest: offset = page id, restart-safe, union ≡ batch read") {
    // the graft-pages streaming leg (r12 directive 5): stage the full
    // page layout aside, then "let pages arrive" at the watched
    // endpoint in two waves with an ingest restart between them — the
    // delivered union must equal the batch connector read of the same
    // pages, each page exactly once, cursor carried by the checkpoint.
    val fullStage = graft.sources.PageSource.stageDocuments(spark, sf0001, pageSize = 8L)
    val endpoint = tmp("pages-endpoint"); val out = tmp("pages-out"); val ckpt = tmp("pages-ckpt")
    val pages = {
      val s = Files.list(Paths.get(fullStage))
      try s.toArray.map(_.toString).map(Paths.get(_))
        .filter(_.getFileName.toString.startsWith("page="))
        .sortBy(p => p.getFileName.toString.stripPrefix("page=").toLong)
      finally s.close()
    }
    assert(pages.length > 3, "fixture must span several pages")
    val (wave1, wave2) = pages.splitAt(pages.length / 2)
    def arrive(ps: Array[java.nio.file.Path]): Unit = ps.foreach { p =>
      Files.move(p, Paths.get(endpoint, p.getFileName.toString))
    }

    arrive(wave1)
    EventStream.pagesIngest(spark, endpoint, ckpt, out).awaitTermination()
    val afterFirst = spark.read.parquet(out).count()

    arrive(wave2)
    // RESTART: a fresh query on the same checkpoint — the committed
    // page cursor must resume past wave1, deliver only wave2
    EventStream.pagesIngest(spark, endpoint, ckpt, out).awaitTermination()
    val streamed = spark.read.parquet(out)
    val batch = spark.read.format("graft-pages")
      .option("path", endpoint)
      .option("schema", graft.sources.PageSource.DDL)
      .load()
    assert(streamed.count() > afterFirst, "wave2 must deliver rows")
    assert(streamed.count() == batch.count(),
      "no page re-delivered: streamed union must match the batch read exactly")
    assert(streamed.orderBy("doc_id").collect()
      .sameElements(batch.orderBy("doc_id").collect()),
      "streamed rows ≡ batch connector rows, byte for byte")

    // idle drain: nothing new arrived, nothing may be re-delivered
    EventStream.pagesIngest(spark, endpoint, ckpt, out).awaitTermination()
    assert(spark.read.parquet(out).count() == batch.count())
  }

  test("late page BEHIND the cursor fails loudly; the restart window stays documented") {
    // r13 ADVICE: a producer publishing page directories out of order
    // (id below the committed cursor) used to lose the page SILENTLY —
    // the monotone-arrival contract now fails the stream instead. Unit
    // test drives the MicroBatchStream object directly: the violation
    // needs a LIVE stream instance (arrival mid-run), which a
    // drain-restart harness cannot orchestrate deterministically.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val fullStage = graft.sources.PageSource.stageDocuments(spark, sf0001, pageSize = 8L)
    val endpoint = tmp("pages-late")
    val pages = {
      val s = Files.list(Paths.get(fullStage))
      try s.toArray.map(_.toString).map(Paths.get(_))
        .filter(_.getFileName.toString.startsWith("page="))
        .sortBy(p => p.getFileName.toString.stripPrefix("page=").toLong)
      finally s.close()
    }
    assert(pages.length > 3, "fixture must span several pages")
    val held = pages(1) // a MIDDLE page: its id stays below the final cursor
    pages.filterNot(_ == held).foreach(p =>
      Files.move(p, Paths.get(endpoint, p.getFileName.toString)))
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(graft.sources.PageSource.DDL)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val stream = new graft.sources.PageMicroBatchStream(endpoint, ddl, ddl, conf)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    assert(stream.planInputPartitions(start, end).nonEmpty,
      "the gapped delivery itself is legal (gaps never fill, says the contract)")
    // ...and now the gap id arrives BEHIND the cursor: the live stream
    // must fail loudly, not silently never deliver it
    Files.move(held, Paths.get(endpoint, held.getFileName.toString))
    val e = intercept[IllegalStateException] {
      stream.latestOffset(end, ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("monotone-arrival"),
      s"expected the contract violation, got: ${e.getMessage}")
    // the documented undetectable window (PageMicroBatchStream
    // scaladoc): a FRESH instance at restart presumes ids behind the
    // committed cursor were delivered by the run that committed it —
    // same listing, no throw, by design (the checkpoint stores the
    // cursor, not the id set)
    val restarted = new graft.sources.PageMicroBatchStream(endpoint, ddl, ddl, conf)
    restarted.latestOffset(end, ReadLimit.allAvailable())
  }

  test("page stream offset: checkpoint json round-trips, corruption fails loudly") {
    assert(graft.sources.PageStreamOffset.parse(
      graft.sources.PageStreamOffset(42L).json()) == 42L)
    intercept[IllegalStateException] {
      graft.sources.PageStreamOffset.parse("""{"page":42}""")
    }
  }

  test("hourly rollup equals the q19 batch twin") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out"); val ckpt = tmp("rollup-ckpt")
    Files.copy(eventsFile, Paths.get(src, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    EventStream.hourlyRollup(spark, src, ckpt, out).awaitTermination()

    val streamed = spark.read.parquet(out)
      .orderBy("hour_start").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val batch = SparkEntry.queries("q19_events_hourly")(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
  }
}
