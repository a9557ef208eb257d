package graft

import graft.sources.{KeyedSource, KeyedStats, KmvSketch}
import org.apache.spark.sql.functions._

/** The transactional DSv2 write path for `graft-keyed`
  * (sources/KeyedWrite.scala, r14 verdict #3): write-audit-publish.
  * Pins (1) the crash window — a commit that dies before its log
  * claim leaves the PREVIOUS generation fully live, and the next
  * successful commit clears the orphan; (2) stageKeyed now IS the
  * connector writer (one file per key, framing guard, stats + order
  * marker inside the same commit); (3) append refusal at plan time;
  * (4) abort cleans only its own staging. */
class KeyedWriteSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "kb BIGINT, doc_id BIGINT, source STRING, n_chars BIGINT"

  private def df(n: Long, srcTag: String = "s") =
    (0L until n).map(i => (i % 4L, i, s"$srcTag${i % 3L}", (i * 7L) % 101L))
      .toDF("kb", "doc_id", "source", "n_chars")

  private def readKeyed(dir: String) =
    spark.read.format("graft-keyed").option("path", dir)
      .option("schema", ddl).option("key", "kb").load()

  test("write→read-back through the connector: values, one file per key, stats+order in-commit") {
    val dir = graft.io.TempDirs.scratch("graft_kwrite_") + "/t"
    KeyedSource.stageKeyed(spark, df(64L), dir, "kb", sortBy = Seq("doc_id"))
    // committed pointer resolves to a generation holding ONE file per key
    val root = new java.io.File(KeyedSource.committedRoot(spark, dir))
    assert(root.getName.startsWith("_gen-"), "stageKeyed must commit a generation")
    val kDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("k="))
    assert(kDirs.length == 4)
    kDirs.foreach { d =>
      val files = d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
      assert(files.length == 1, s"${d.getName}: one file per key, got ${files.length}")
    }
    // stats sidecar and order marker live INSIDE the committed generation
    assert(new java.io.File(root, KeyedStats.SidecarFile).exists())
    assert(new java.io.File(root, KeyedSource.OrderFile).exists())
    // values round-trip
    assert(readKeyed(dir).orderBy("doc_id").collect()
      .sameElements(df(64L).orderBy("doc_id").collect()))
    // writer-derived sidecar equals a direct computation over the read
    val sc = KeyedStats.read(dir,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()),
      org.apache.spark.sql.types.StructType.fromDDL(ddl), "kb").get
    val direct = readKeyed(dir).filter(col("kb") === 2L)
      .agg(count(lit(1)), min("source").cast("string"), max("doc_id")).collect().head
    val e2 = sc.entries.find(_.rawKey == "2").get
    assert(e2.count == direct.getLong(0) && e2.mins(2) == direct.getString(1) &&
      e2.maxs(1).toLong == direct.getLong(2))
  }

  test("crash window: commit absent ⇒ readers see the OLD layout; next commit heals") {
    val dir = graft.io.TempDirs.scratch("graft_kwrite_crash_") + "/t"
    KeyedSource.stageKeyed(spark, df(40L, "old"), dir, "kb")
    val oldRoot = KeyedSource.committedRoot(spark, dir)
    val before = readKeyed(dir).orderBy("doc_id").collect()
    // the write dies AFTER audit (data + sidecars staged), BEFORE publish
    KeyedSource.failBeforePublish = true
    try {
      val e = intercept[Exception] {
        KeyedSource.stageKeyed(spark, df(52L, "new"), dir, "kb")
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
      assert(messages(e).exists(m => m != null && m.contains("before publish")))
    } finally KeyedSource.failBeforePublish = false
    // the pointer never moved: readers see the old generation, bit-for-bit
    assert(KeyedSource.committedRoot(spark, dir) == oldRoot)
    assert(readKeyed(dir).orderBy("doc_id").collect().sameElements(before))
    assert(readKeyed(dir).count() == 40L)
    // the orphaned staging exists (crash left it) …
    val orphans = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
    assert(orphans.length == 2, "crashed staging must still be on disk pre-heal")
    // … and a LATER successful commit publishes new data and clears it.
    // "Later" means past the staleness grace (a RECENT unreferenced
    // staging dir is an in-flight concurrent writer's and must survive
    // a commit — commits CAS-serialize, staging is concurrent): first
    // prove the grace protects it, then age it out and heal.
    KeyedSource.stageKeyed(spark, df(44L, "mid"), dir, "kb")
    assert(new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("_gen-")) == 2,
      "a commit inside the staleness grace must leave recent foreign staging alone")
    val grace = KeyedSource.stagingGraceMs
    KeyedSource.stagingGraceMs = 0L
    try {
      KeyedSource.stageKeyed(spark, df(52L, "new"), dir, "kb")
    } finally KeyedSource.stagingGraceMs = grace
    assert(readKeyed(dir).count() == 52L)
    val gens = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_gen-"))
    assert(gens.length == 1, s"healed layout must hold ONE generation, got ${gens.length}")
  }

  test("append commits as per-key edit generations; live files never rewritten in place") {
    val dir = graft.io.TempDirs.scratch("graft_kwrite_append_") + "/t"
    KeyedSource.stageKeyed(spark, df(16L), dir, "kb")
    val hconf = spark.sessionState.newHadoopConf()
    val baseGen = KeyedSource.readCommitLog(dir, hconf).get.head.gen
    val baseFiles = new java.io.File(s"$dir/$baseGen").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("k="))
      .flatMap(_.listFiles().filter(f => f.isFile && !f.getName.startsWith(".")))
      .map(f => f.getPath -> f.length).toMap
    // appended doc_ids offset past the staged ones so the rows are new
    df(8L).selectExpr("kb", "doc_id + 100 AS doc_id", "source", "n_chars")
      .write.format("graft-keyed")
      .option("schema", ddl).option("key", "kb")
      .mode("append").save(dir)
    assert(readKeyed(dir).count() == 24L)
    val log = KeyedSource.readCommitLog(dir, hconf).get
    assert(log.head.seq == 2L && log.head.gen == baseGen,
      "append keeps the base generation; new rows ride per-key edits")
    assert(log.head.edits.keySet == Set("0", "1", "2", "3"))
    log.head.edits.values.foreach(gs =>
      assert(gs.length == 2 && gs.head == baseGen,
        s"edit list must be base-then-append, got $gs"))
    // the base generation's files are untouched bytes — referenced, not rewritten
    baseFiles.foreach { case (p, len) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length == len, s"base file $p changed under append")
    }
    // appending to a layout with no commit log refuses with remediation
    val flat = graft.io.TempDirs.scratch("graft_kwrite_appflat_") + "/t"
    val e = intercept[Exception] {
      df(8L).write.format("graft-keyed")
        .option("schema", ddl).option("key", "kb")
        .mode("append").save(flat)
    }
    assert(e.getMessage.contains("generation-committed"), e.getMessage)
  }

  test("only versioned v4 logs are read: v3 banners and bare unversioned logs refuse") {
    val dir = graft.io.TempDirs.scratch("graft_kwrite_logform_") + "/t"
    KeyedSource.stageKeyed(spark, df(24L), dir, "kb")
    val logs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(s"${KeyedSource.CommitFile}.v"))
    assert(logs.length == 1)
    val text = new String(java.nio.file.Files.readAllBytes(logs.head.toPath), "UTF-8")
    assert(text.startsWith("graft-keyed-commit v4"), "every log is written as v4")
    // the same log under the v3 banner: refused as unsupported, not parsed
    new java.io.File(dir, s".${logs.head.getName}.crc").delete()
    java.nio.file.Files.writeString(logs.head.toPath,
      text.replaceFirst("graft-keyed-commit v4", "graft-keyed-commit v3"))
    val v3 = intercept[IllegalStateException](readKeyed(dir).count())
    assert(v3.getMessage.contains("unsupported format version"), v3.getMessage)
    // a bare unversioned log file beside the generation: refused too
    java.nio.file.Files.delete(logs.head.toPath)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, KeyedSource.CommitFile), text)
    val bare = intercept[UnsupportedOperationException](readKeyed(dir).count())
    assert(bare.getMessage.contains("no versioned commit log") &&
      bare.getMessage.contains("restage"), bare.getMessage)
  }

  test("KMV sketch: exact below K, within 15% at 64x K, merge-stable") {
    val a = new KmvSketch
    (0 until 100).foreach(i => a.addLong(i.toLong % 40))
    assert(a.estimate == 40L, s"exact below K, got ${a.estimate}")
    val big = new KmvSketch
    val n = KmvSketch.K * 64
    (0 until n).foreach(i => big.addLong(i.toLong))
    val est = big.estimate.toDouble
    assert(math.abs(est - n) / n < 0.15, s"KMV at 64x K read $est vs $n")
    // merging task sketches equals one sketch over the union
    val l = new KmvSketch; val r = new KmvSketch; val u = new KmvSketch
    (0 until 5000).foreach { i => l.addLong(i.toLong); u.addLong(i.toLong) }
    (2500 until 7500).foreach { i => r.addLong(i.toLong); u.addLong(i.toLong) }
    val merged = new KmvSketch
    merged.addHashes(l.hashes); merged.addHashes(r.hashes)
    assert(merged.estimate == u.estimate, "merge must equal the union sketch")
  }
}
