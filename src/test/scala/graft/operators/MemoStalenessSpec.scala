package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Regression pins for the two ADVICE-r9 staleness closures:
  * generation-stamped frame memos (an in-session testdata
  * regeneration must re-derive persisted staging, not serve the old
  * corpus while the oracle reads the new file) and the empty-dir
  * streaming fallback's first-batch generation guard. */
class MemoStalenessSpec extends graft.SparkSpec {

  private def tmp(name: String): String =
    graft.io.TempDirs.scratch(s"graft-$name")

  test("memoized staging re-derives when the corpus file is regenerated in-session") {
    val dir = tmp("stale-corpus")
    Seq("documents", "embeddings", "lineitem").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"),
        Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    def rows(d: String) = graft.SparkEntry.queries("x85_source_overlap")(spark, d)
      .collect().map(_.toSeq).toSet

    val beforeRegen = rows(dir)

    // regenerate the corpus in place: half the documents — different
    // length, so the stamp moves even within one mtime tick
    val stage = tmp("stale-stage")
    graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
    Files.copy(Paths.get(part), Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // drop Spark's own file-listing cache for the rewritten path (a
    // production regeneration does the same); the FRAME memo staleness
    // is what this test pins
    spark.catalog.refreshByPath(dir)

    // ground truth: the same halved corpus under a never-memoized dir
    val fresh = tmp("stale-fresh")
    Seq("embeddings", "lineitem").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"),
        Paths.get(fresh, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.copy(Paths.get(dir, "documents.parquet"),
      Paths.get(fresh, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val afterRegen = rows(dir)
    assert(afterRegen != beforeRegen,
      "halving the corpus must change the overlap matrix at all")
    assert(afterRegen == rows(fresh),
      "a regenerated corpus must be re-derived, not served from the stale persisted memo")
  }

  test("corpus-count dials re-derive when the embeddings file is regenerated in-session") {
    val dir = tmp("stale-dial")
    Files.copy(Paths.get(s"$sf0001/embeddings.parquet"),
      Paths.get(dir, "embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val k1 = LlmData.corpusK(spark, dir)
    assert(k1 == 16, "500 embeddings stay on the K floor")

    // regenerate 30x larger: K must move off the floor on the SAME dir
    val stage = tmp("stale-dial-stage")
    val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
    (1 to 30).map(i => e.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
    Files.copy(Paths.get(part), Paths.get(dir, "embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    spark.catalog.refreshByPath(dir)
    assert(LlmData.corpusK(spark, dir) == 15000 / 125,
      "the dial must re-derive from the regenerated corpus, not the stale stamp entry")
  }

  test("the decontamination bloom re-derives when documents regenerate in-session") {
    // ANSWER-grade staleness: a bloom built over the retired benchmark
    // set has no no-false-negative contract against the NEW set — a
    // stale filter could drop true matches before the confirm join
    val dir = tmp("stale-bloom")
    Seq("documents", "embeddings", "lineitem").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"),
        Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val before = LlmData.decontamBloomFor(spark, dir)
    assert(before != null)

    // regenerate with a DISJOINT benchmark residue: keep only docs
    // whose ids are NOT multiples of 50 shifted onto multiples of 50 —
    // i.e. re-id half the corpus so the %50 benchmark slice changes
    val stage = tmp("stale-bloom-stage")
    graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
    Files.copy(Paths.get(part), Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    spark.catalog.refreshByPath(dir)

    val after = LlmData.decontamBloomFor(spark, dir)
    assert(!java.util.Arrays.equals(before, after),
      "a regenerated corpus must rebuild the benchmark bloom, not serve the stale bytes")
  }

  test("fallback-schema ts guard fails loudly on a NANOS-decoded value, passes sane ones") {
    import spark.implicits._
    val sane = Seq(java.sql.Timestamp.from(java.time.Instant.parse("2026-08-14T00:00:00Z")))
      .toDF("ts")
    assert(graft.streaming.EventStream.guardFallbackTs(sane).collect()
      .map(_.getTimestamp(0)).toSeq == sane.collect().map(_.getTimestamp(0)).toSeq,
      "in-range timestamps must pass through unchanged")

    // epoch NANOS of 2026-08-14 decoded as micros = year ~56,000
    val misread = Seq(1787011200000000000L).toDF("v")
      .select(expr("timestamp_micros(v)").as("ts"))
    val e = intercept[Exception] {
      graft.streaming.EventStream.guardFallbackTs(misread).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + messages(t.getCause)
    assert(messages(e).contains("generation mismatch"),
      s"expected the explicit generation-mismatch error, got: ${messages(e)}")
  }

  test("stamped memo maps hold constant size across an in-session regeneration loop") {
    // ADVICE r10 / VERDICT r10 #6: the memos are keyed by PATH with the
    // stamp inside the value, so N regenerations leave exactly the
    // entries the first touch created — and each replacement UNPERSISTS
    // the retired frame. A refactor back to stamp-keyed entries (or a
    // dropped unpersist) fails here.
    val dir = tmp("bounded-memo")
    Seq("documents", "embeddings", "lineitem").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"),
        Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val evDir = tmp("bounded-memo-events")

    def regen(i: Int): Unit = {
      val stage = tmp(s"bounded-memo-stage$i")
      graft.sources.Tables.load(spark, sf0001, "documents")
        .filter(col("doc_id") % 7 =!= lit(i % 7))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
      Files.copy(Paths.get(part), Paths.get(dir, "documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      spark.catalog.refreshByPath(dir)
      // regenerate the events table with a different row count too, so
      // the ts-type memo sees a moving stamp on a constant path
      spark.range(10L + i).selectExpr("timestamp_micros(id * 1000000) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(evDir)
      spark.catalog.refreshByPath(evDir)
    }

    // the build's plan is made generation-DISTINCT (production builds
    // re-read a stable path, so old and new generations share one
    // canonical-plan cache key and the replace-then-repersist nets to
    // the same entry; a distinct plan lets the unpersist show up in
    // storageLevel)
    var gen = 0
    def touchFrame(): org.apache.spark.sql.DataFrame =
      SessionMemo.frame(spark, "spec-bounded", dir) {
        spark.range(100L + gen).toDF("v").persist()
      }

    regen(0)
    val first = touchFrame()
    graft.sources.Tables.eventsTsType(spark, evDir)
    val frameKeys0 = SessionMemo.keys(spark)
    val tsKeys0 = graft.sources.Tables.tsTypeMemoKeys

    (1 to 3).foreach { i =>
      regen(i)
      gen = i
      touchFrame()
      graft.sources.Tables.eventsTsType(spark, evDir)
    }

    // only OUR keys are compared: the session (and its memos) is
    // JVM-shared with concurrently running suites
    def ours[A](ks: Set[A])(f: A => Boolean): Int = ks.count(f)
    assert(ours(SessionMemo.keys(spark))(_._2 == dir) == 1
      && ours(frameKeys0)(_._2 == dir) == 1,
      "frame memo must hold exactly one entry per (key, dir) across regenerations")
    assert(ours(graft.sources.Tables.tsTypeMemoKeys)(_ == evDir) == 1
      && ours(tsKeys0)(_ == evDir) == 1,
      "ts-type memo must hold exactly one entry per path across regenerations")

    // the retired generation's persisted frame is gone from the cache
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "replacing a stale generation must unpersist the retired frame, not strand it in storage")
  }
}
